"""Distributed S2Builder snapping (kernels.builder) over tables.

* ``snap_points``    — add (snap_cell, sx, sy, sz) to a point table: one
  Arrow-batched pass, no shuffle.  The snap-cell assignment is pure
  ``parent(leaf(p), L)``, so a SQL oracle recomputes it exactly.
* ``snap_dedup``     — the canonical "merge vertices within the snap
  radius" builder step as a dataflow: group by snap cell, keep the
  minimum id as the representative, count merged members (one hash-agg
  shuffle — the same shape as exact_dedup).
* ``snap_chains``    — per-chain snap + degenerate-edge removal via one
  groupBy(chain) applyInPandas pass; emits the cleaned vertex sequence.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels import builder, cellid


def snap_points(
    points: DataFrame, level: int, xyz: tuple[str, str, str] = ("x", "y", "z")
) -> DataFrame:
    """Adds snap_cell (biased) + snapped coordinates sx, sy, sz."""
    x, y, z = xyz
    in_fields = points.schema.fieldNames()
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in points.schema.fields)
    schema += ", snap_cell long, sx double, sy double, sz double"

    def snap(pdf):
        P = pdf[[x, y, z]].to_numpy(np.float64)
        cells = builder.snap_cells(P, level)
        S = builder.snap_to_cell_centers(P, level)
        out = pdf.copy()
        out["snap_cell"] = cellid.to_biased(cells)
        out["sx"], out["sy"], out["sz"] = S[:, 0], S[:, 1], S[:, 2]
        return out

    return map_batches(points, snap, schema)


def snap_dedup(
    points: DataFrame,
    level: int,
    id_col: str = "pid",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """(snap_cell, keeper_id, n_merged): vertices merged by the snap grid
    — the builder's vertex-merging step as one hash agg."""
    snapped = snap_points(points, level, xyz)
    return snapped.groupBy("snap_cell").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_merged"),
    )


def snap_latlng_points(
    points: DataFrame, exponent: int, xyz: tuple[str, str, str] = ("x", "y", "z")
) -> DataFrame:
    """Adds (ilat, ilng) integer grid coordinates + snapped unit vector
    (sx, sy, sz) per point — IntLatLngSnapFunction::SnapPoint as one
    Arrow-batched pass, no shuffle."""
    x, y, z = xyz
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in points.schema.fields
    )
    schema += ", ilat long, ilng long, sx double, sy double, sz double"

    def snap_latlng(pdf):
        P = pdf[[x, y, z]].to_numpy(np.float64)
        ilat, ilng = builder.int_latlng_snap(P, exponent)
        S = builder.int_latlng_snap_point(ilat, ilng, exponent)
        out = pdf.copy()
        out["ilat"], out["ilng"] = ilat, ilng
        out["sx"], out["sy"], out["sz"] = S[:, 0], S[:, 1], S[:, 2]
        return out

    return map_batches(points, snap_latlng, schema)


def snap_latlng_dedup(
    points: DataFrame,
    exponent: int,
    id_col: str = "pid",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """(ilat, ilng, keeper_id, n_merged): vertices merged by the integer
    lat/lng grid — IntLatLngSnapFunction's vertex-merging as one hash
    agg (same dataflow shape as snap_dedup; the grid key is two int64s
    instead of a cell id, so the shuffle and the oracle replay stay
    exact-integer)."""
    snapped = snap_latlng_points(points, exponent, xyz)
    return snapped.groupBy("ilat", "ilng").agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_merged"),
    )


def snap_chains(
    chains: DataFrame,
    level: int,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Per-chain snap + simplify: (chain_id, seq, sx, sy, sz) with
    degenerate (snap-collapsed) edges removed and seq re-numbered."""

    def one_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col)
        V = pdf[["x", "y", "z"]].to_numpy(np.float64)
        out = builder.build_polyline(V, level)
        return pd.DataFrame(
            {
                chain_col: pdf[chain_col].iloc[0],
                seq_col: np.arange(out.shape[0], dtype=np.int64),
                "sx": out[:, 0],
                "sy": out[:, 1],
                "sz": out[:, 2],
            }
        )

    return chains.groupBy(chain_col).applyInPandas(
        one_chain,
        f"{chain_col} long, {seq_col} long, sx double, sy double, sz double",
    )


def snap_round_chains(
    chains: DataFrame,
    level: int,
    chain_col: str = "chain_id",
    seq_col: str = "seq",
) -> DataFrame:
    """Per-chain topology-safe snap ROUNDING (kernels.builder.
    snap_round_chain — the S2Builder edge-replacement pass): every input
    edge is replaced by the chain of snap sites within the snap radius
    of that edge.  (chain_id, seq, snap_cell, sx, sy, sz) with seq
    re-numbered; snap_cell is the biased level-L cell id of each output
    vertex."""
    from ..kernels import cellid

    def one_chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(seq_col)
        V = pdf[["x", "y", "z"]].to_numpy(np.float64)
        out = builder.snap_round_chain(V, level)
        cells = cellid.to_biased(builder.snap_cells(out, level)) if len(out) else np.empty(0, np.int64)
        return pd.DataFrame(
            {
                chain_col: pdf[chain_col].iloc[0],
                seq_col: np.arange(out.shape[0], dtype=np.int64),
                "snap_cell": cells.astype(np.int64),
                "sx": out[:, 0],
                "sy": out[:, 1],
                "sz": out[:, 2],
            }
        )

    return chains.groupBy(chain_col).applyInPandas(
        one_chain,
        f"{chain_col} long, {seq_col} long, snap_cell long, "
        "sx double, sy double, sz double",
    )


def snap_round_oracle_sql(table_sql: str, level: int) -> str:
    """DuckDB replay of snap_round_chains over a chain table
    (``table_sql`` must yield chain_id, seq, x, y, z):

    encode every vertex (forward Hilbert CTE) -> parent site cells ->
    DECODE each distinct site to its center (oracle.cell_center_xyz_cte,
    the new inverse-Hilbert CTE, bitwise-equal to cellid.to_point) ->
    chord2 of every site against every same-chain INPUT edge (the pinned
    point_edge_chord2_sql twin) -> per-edge insertion ordered by the
    pinned -dot along the edge -> window-collapse consecutive duplicate
    cells -> renumber.  Every float op mirrors the kernel, so the full
    snap-rounding pass is hash-compare bit-exact."""
    from .. import oracle
    from ..kernels.builder import snap_radius_chord2
    from ..kernels.measures import point_edge_chord2_sql

    r2 = repr(snap_radius_chord2(level))
    chord2 = point_edge_chord2_sql("c", "ea", "eb")
    return f"""
WITH verts AS MATERIALIZED ({table_sql}),
xyz AS MATERIALIZED (SELECT chain_id, seq, x, y, z FROM verts),
{oracle.leaf_from_xyz_cte("xyz")},
vc AS MATERIALIZED (
  SELECT chain_id, seq, x AS vx, y AS vy, z AS vz,
         {oracle.parent_sql_expr("cell_leaf", level)} AS vcell
  FROM leaf
),
sites0 AS MATERIALIZED (SELECT DISTINCT chain_id, vcell FROM vc),
{oracle.cell_center_xyz_cte("sites0", "vcell", level, out_name="sites")},
edges AS MATERIALIZED (
  SELECT chain_id, seq AS eidx,
         vx AS eax, vy AS eay, vz AS eaz, vcell AS acell,
         lead(vx) OVER w AS ebx, lead(vy) OVER w AS eby,
         lead(vz) OVER w AS ebz, lead(vcell) OVER w AS bcell
  FROM vc WINDOW w AS (PARTITION BY chain_id ORDER BY seq)
  QUALIFY lead(vx) OVER w IS NOT NULL
),
ins AS MATERIALIZED (
  SELECT e.chain_id, e.eidx, s.vcell,
         -(((s.cx * e.eax) + (s.cy * e.eay)) + (s.cz * e.eaz)) AS ord
  FROM edges e JOIN sites s ON s.chain_id = e.chain_id
  WHERE ({chord2}) <= {r2}
    AND s.vcell != e.acell AND s.vcell != e.bcell
),
firstv AS (
  SELECT chain_id, -1 AS eidx, 0.0 AS ord, vcell
  FROM (SELECT chain_id, vcell,
               row_number() OVER (PARTITION BY chain_id ORDER BY seq) AS rn
        FROM vc)
  WHERE rn = 1
),
items AS (
  SELECT chain_id, eidx, ord, vcell FROM ins
  UNION ALL
  SELECT chain_id, eidx, 1e300 AS ord, bcell AS vcell FROM edges
  UNION ALL
  SELECT chain_id, eidx, ord, vcell FROM firstv
),
ordered AS MATERIALIZED (
  SELECT chain_id, vcell,
         row_number() OVER (PARTITION BY chain_id ORDER BY eidx, ord, vcell) AS rn
  FROM items
),
collapsed AS (
  SELECT chain_id, vcell, rn,
         lag(vcell) OVER (PARTITION BY chain_id ORDER BY rn) AS prevcell
  FROM ordered
),
keptv AS MATERIALIZED (
  SELECT chain_id, vcell, rn,
         count(*) OVER (PARTITION BY chain_id) AS n
  FROM collapsed WHERE prevcell IS NULL OR vcell != prevcell
),
final0 AS MATERIALIZED (
  SELECT chain_id,
         row_number() OVER (PARTITION BY chain_id ORDER BY rn) - 1 AS seq,
         vcell
  FROM keptv WHERE n >= 2
),
{oracle.cell_center_xyz_cte("final0", "vcell", level, out_name="fin", prefix="e_")}
SELECT chain_id, seq, vcell AS snap_cell, cx AS sx, cy AS sy, cz AS sz FROM fin
"""


def identity_snap_chains(
    chains: DataFrame,
    sep_chord2: float,
    group_col: str = "group_id",
    chain_col: str = "chain_id",
    seq_col: str = "seq",
) -> DataFrame:
    """S2Builder ChooseInitialSites + vertex snapping for
    IdentitySnapFunction(r) — the iterative site-merging loop for
    NON-grid snap functions (s2builder.cc:727-789) — per independent
    GROUP of chains: all vertices of a group feed one greedy
    Hilbert-ordered site selection (kernels.builder.choose_sites), each
    vertex snaps to its nearest site, and consecutive duplicate sites
    collapse (the builder's degenerate-edge removal).

    Output (group_id, chain_id, pos, site_id, sx, sy, sz): pos is the
    0-based position in the snapped chain, site_id the site's index in
    the group's chosen order.  One shuffle (groupBy group); groups are
    independent, so the pass distributes across them — the same
    parallelism contract as the alignment/medoid operators.
    """

    def one_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([chain_col, seq_col]).reset_index(drop=True)
        V = pdf[["x", "y", "z"]].to_numpy(np.float64)
        sites, sid = builder.choose_sites(V, sep_chord2)
        gid = pdf[group_col].iloc[0]
        out = {c: [] for c in
               (group_col, chain_col, "pos", "site_id", "sx", "sy", "sz")}
        for cid, grp in pdf.groupby(chain_col, sort=True):
            s = sid[grp.index.to_numpy()]
            keep = np.ones(len(s), bool)
            keep[1:] = s[1:] != s[:-1]
            ks = s[keep]
            out[group_col].extend([gid] * len(ks))
            out[chain_col].extend([cid] * len(ks))
            out["pos"].extend(range(len(ks)))
            out["site_id"].extend(ks.tolist())
            out["sx"].extend(sites[ks, 0].tolist())
            out["sy"].extend(sites[ks, 1].tolist())
            out["sz"].extend(sites[ks, 2].tolist())
        return pd.DataFrame(out)

    return chains.groupBy(group_col).applyInPandas(
        one_group,
        f"{group_col} long, {chain_col} long, pos long, site_id long, "
        "sx double, sy double, sz double",
    )


def identity_snap_oracle_sql(table_sql: str, group_expr: str, sep_chord2: float) -> str:
    """DuckDB replay of identity_snap_chains over a chain table
    (``table_sql`` yields chain_id, seq, x, y, z; ``group_expr`` derives
    group_id from chain_id):

    leaf-encode every vertex (forward Hilbert CTE) -> per-group ordered
    vertex list in the SortInputVertices order (biased leaf cell id,
    point lexicographic, chain_id, seq — biased int64 compares equal to
    the reference's uint64 compare) -> a RECURSIVE CTE replays the
    greedy site merge one vertex per iteration, all groups advancing in
    lockstep (the chosen-site list is the recursion state; a vertex
    joins it iff no member is within sep_chord2, the same pinned chord2
    both engines compare — a list_reduce would be natural but DuckDB
    1.0 mis-binds lambdas nested inside lambdas, so the membership test
    must capture plain columns instead) -> zip-unnest the site list with
    its ordinals -> per-vertex argmin assignment (row_number over
    chord2, site_id) -> window-collapse consecutive duplicates ->
    renumber.  Identity snap copies input doubles, so sites, distances
    and verdicts are all bit-exact."""
    from .. import oracle

    sep = repr(float(sep_chord2))
    near = (
        "len(list_filter(g.sites, s -> "
        "((s.x - v.x)*(s.x - v.x) + (s.y - v.y)*(s.y - v.y))"
        " + (s.z - v.z)*(s.z - v.z) <= " + sep + ")) > 0"
    )
    return f"""
WITH RECURSIVE verts AS MATERIALIZED ({table_sql}),
gsrc AS MATERIALIZED (
  SELECT chain_id, seq, x, y, z, CAST({group_expr} AS BIGINT) AS group_id
  FROM verts
),
{oracle.leaf_from_xyz_cte("gsrc")},
ordv AS MATERIALIZED (
  SELECT group_id, chain_id, seq, x, y, z,
         row_number() OVER (
           PARTITION BY group_id
           ORDER BY cell_leaf, x, y, z, chain_id, seq
         ) AS rn
  FROM leaf
),
grow AS (
  SELECT group_id, rn, [struct_pack(x := x, y := y, z := z)] AS sites
  FROM ordv WHERE rn = 1
  UNION ALL
  SELECT g.group_id, v.rn,
         CASE WHEN {near} THEN g.sites
              ELSE list_append(g.sites, struct_pack(x := v.x, y := v.y, z := v.z))
         END AS sites
  FROM grow g
  JOIN ordv v ON v.group_id = g.group_id AND v.rn = g.rn + 1
),
folded AS MATERIALIZED (
  SELECT group_id, sites
  FROM grow
  QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY rn DESC) = 1
),
sites_tbl AS MATERIALIZED (
  SELECT group_id,
         unnest(range(0, len(sites))) AS site_id,
         unnest(list_transform(sites, s -> s.x)) AS sx,
         unnest(list_transform(sites, s -> s.y)) AS sy,
         unnest(list_transform(sites, s -> s.z)) AS sz
  FROM folded
),
assigned AS MATERIALIZED (
  SELECT v.group_id, v.chain_id, v.seq, s.site_id, s.sx, s.sy, s.sz,
         row_number() OVER (
           PARTITION BY v.group_id, v.chain_id, v.seq
           ORDER BY ((v.x - s.sx)*(v.x - s.sx) + (v.y - s.sy)*(v.y - s.sy))
                      + (v.z - s.sz)*(v.z - s.sz) ASC,
                    s.site_id ASC
         ) AS rnk
  FROM gsrc v JOIN sites_tbl s ON s.group_id = v.group_id
),
snapped AS MATERIALIZED (
  SELECT group_id, chain_id, seq, site_id, sx, sy, sz,
         lag(site_id) OVER (PARTITION BY group_id, chain_id ORDER BY seq)
           AS prev_site
  FROM assigned WHERE rnk = 1
),
kept AS (
  SELECT group_id, chain_id, site_id, sx, sy, sz,
         row_number() OVER (PARTITION BY group_id, chain_id ORDER BY seq) - 1
           AS pos
  FROM snapped
  WHERE prev_site IS NULL OR site_id <> prev_site
)
SELECT group_id, chain_id, pos, site_id, sx, sy, sz
FROM kept ORDER BY group_id, chain_id, pos"""
