"""Polygon-pair distance with interior semantics.

``loop_pair_distance`` is S2ClosestEdgeQuery with a ShapeIndexTarget and
include_interiors=true (s2closest_edge_query.h / s2min_distance_targets.cc
S2MinDistanceShapeIndexTarget), i.e. S2Polygon::GetDistance(S2Polygon):
the distance between two simple loops is 0 when their boundaries cross or
one contains the other, else the minimum over closed-edge pairs of the
four endpoint-to-edge distances (UpdateEdgePairMinDistance,
s2edge_distances.cc:327).

Relation codes (priority order, matching the oracle exactly):
  1 boundaries cross          (first crossing pair by (i, j))
  2 A contains B              (vertex 0 of B inside A)
  3 B contains A              (vertex 0 of A inside B)
  0 disjoint                  (argmin edge pair, lexicographic tie-break)

Containment uses crossing parity along the geodesic from the south-pole
reference point to the probe vertex — the same banded pure-double sign
chain as the crossing scan (predicates.edges_cross_batch robust=False),
so every verdict is bit-reproducible in the SQL oracle.  A loop covering
the south pole inverts its parity; the fixture blobs never do, and engine
and oracle replay the identical convention regardless.

Per-pair O(n*m) kernel rows, embarrassingly parallel across pairs.  The
entry fixture enumerates all loop pairs; at scale the pair list must be
pre-filtered by a covering join (cap_join / rect bounds) — all-pairs is
quadratic in the number of loops by construction, not a kernel limit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels import predicates
from ..kernels.measures import point_edge_chord2

__all__ = [
    "loop_pair_distance",
    "loop_pair_distance_oracle_sql",
    "shrink_loops",
    "shrink_loops_cte_sql",
]

_REF = np.array([0.0, 0.0, -1.0])  # south pole (S2::Origin's antipode family)


def _closed_edges(V: np.ndarray):
    return V, np.roll(V, -1, axis=0)


def _contains_parity(V: np.ndarray, W: np.ndarray, probe: np.ndarray) -> bool:
    """Odd crossing parity of geodesic (south pole -> probe) vs loop edges."""
    n = len(V)
    R = np.broadcast_to(_REF, (n, 3))
    P = np.broadcast_to(probe, (n, 3))
    return bool(predicates.edges_cross_batch(R, P, V, W, robust=False).sum() % 2)


def loop_pair_distance(
    spark: SparkSession,
    loops: DataFrame,
    pairs: DataFrame,
    chain_col: str = "chain_id",
) -> DataFrame:
    """Output: (chain_a, chain_b, relation, min_chord2, a_edge, b_edge)."""
    from .alignment import _verts_to_np, chains_as_arrays

    arrs = chains_as_arrays(loops, chain_col)
    # the pair list is tiny relative to the kernel work it fans out, and
    # AQE coalesces the join output to ~1 partition — repartition on the
    # pair key so the O(n*m) per-pair kernels actually run in parallel
    n_slices = spark.sparkContext.defaultParallelism * 2
    joined = (
        pairs.select("chain_a", "chain_b")
        .join(
            arrs.select(F.col(chain_col).alias("chain_a"), F.col("verts").alias("va")),
            "chain_a",
        )
        .join(
            arrs.select(F.col(chain_col).alias("chain_b"), F.col("verts").alias("vb")),
            "chain_b",
        )
        .repartition(n_slices, "chain_a", "chain_b")
    )

    def relate(pdf):
        rows = []
        for a, b, va, vb in zip(
            pdf["chain_a"], pdf["chain_b"], pdf["va"], pdf["vb"]
        ):
            A = _verts_to_np(va)
            B = _verts_to_np(vb)
            A0, A1 = _closed_edges(A)
            B0, B1 = _closed_edges(B)
            n, m = len(A), len(B)
            ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
            ii, jj = ii.ravel(), jj.ravel()
            ea0, ea1 = A0[ii], A1[ii]
            eb0, eb1 = B0[jj], B1[jj]
            cross = predicates.edges_cross_batch(ea0, ea1, eb0, eb1, robust=False)
            k = np.flatnonzero(cross)
            if k.size:
                k0 = int(k[0])  # i-major = min (i, j)
                rows.append((a, b, 1, 0.0, int(ii[k0]), int(jj[k0])))
                continue
            if _contains_parity(A0, A1, B[0]):
                rows.append((a, b, 2, 0.0, -1, -1))
                continue
            if _contains_parity(B0, B1, A[0]):
                rows.append((a, b, 3, 0.0, -1, -1))
                continue
            d = np.minimum(
                np.minimum(
                    point_edge_chord2(ea0, eb0, eb1),
                    point_edge_chord2(ea1, eb0, eb1),
                ),
                np.minimum(
                    point_edge_chord2(eb0, ea0, ea1),
                    point_edge_chord2(eb1, ea0, ea1),
                ),
            )
            k0 = int(np.argmin(d))
            rows.append((a, b, 0, float(d[k0]), int(ii[k0]), int(jj[k0])))
        return pd.DataFrame(
            rows,
            columns=[
                "chain_a", "chain_b", "relation", "min_chord2", "a_edge", "b_edge",
            ],
        )

    return map_batches(
        joined,
        relate,
        "chain_a long, chain_b long, relation int, "
        "min_chord2 double, a_edge long, b_edge long",
    )


def shrink_loops(
    spark: SparkSession,
    loops: DataFrame,
    t: float = 0.35,
    chain_col: str = "chain_id",
) -> DataFrame:
    """Homothety toward the loop's bounding-box center direction:
    p' = unit(c + t*(p - c)) — produces a loop (usually) strictly inside
    a star-shaped original, for the containment rows of the fixture.
    Pinned arithmetic; ``shrink_loops_cte_sql`` replays it bit-for-bit."""
    from .alignment import _verts_to_np, chains_as_arrays

    arrs = chains_as_arrays(loops, chain_col)

    def shrink(pdf):
        frames = []
        for cid, cell in zip(pdf[chain_col], pdf["verts"]):
            V = _verts_to_np(cell)
            mn, mx = V.min(axis=0), V.max(axis=0)
            m = (mn + mx) * 0.5
            cn = np.sqrt((m[0] * m[0] + m[1] * m[1]) + m[2] * m[2])
            c = m / cn
            w = c[None, :] + t * (V - c[None, :])
            nn = np.sqrt((w[:, 0] * w[:, 0] + w[:, 1] * w[:, 1]) + w[:, 2] * w[:, 2])
            frames.append(
                pd.DataFrame(
                    {
                        chain_col: cid,
                        "seq": np.arange(len(V)),
                        "x": w[:, 0] / nn,
                        "y": w[:, 1] / nn,
                        "z": w[:, 2] / nn,
                    }
                )
            )
        return pd.concat(frames)

    return map_batches(
        arrs,
        shrink,
        f"{chain_col} long, seq long, x double, y double, z double",
    )


def shrink_loops_cte_sql(verts_sql: str, t: float = 0.35, prefix: str = "sh") -> str:
    """DuckDB replay of ``shrink_loops`` from a (chain_id, seq, x, y, z)
    source; output shape identical.  ``prefix`` namespaces the CTEs so
    several shrink factors can coexist in one oracle."""
    tl = f"CAST({t!r} AS DOUBLE)"
    p = prefix
    return f"""
WITH {p}src AS MATERIALIZED ({verts_sql}),
{p}box AS MATERIALIZED (
  SELECT chain_id,
         (min(x) + max(x)) * 0.5 AS m0,
         (min(y) + max(y)) * 0.5 AS m1,
         (min(z) + max(z)) * 0.5 AS m2
  FROM {p}src GROUP BY chain_id
),
{p}c AS MATERIALIZED (
  SELECT chain_id,
         m0 / sqrt((m0*m0 + m1*m1) + m2*m2) AS c0,
         m1 / sqrt((m0*m0 + m1*m1) + m2*m2) AS c1,
         m2 / sqrt((m0*m0 + m1*m1) + m2*m2) AS c2
  FROM {p}box
),
{p}w AS MATERIALIZED (
  SELECT s.chain_id, s.seq,
         (c.c0 + {tl} * (s.x - c.c0)) AS wx,
         (c.c1 + {tl} * (s.y - c.c1)) AS wy,
         (c.c2 + {tl} * (s.z - c.c2)) AS wz
  FROM {p}src s JOIN {p}c c ON c.chain_id = s.chain_id
)
SELECT chain_id, seq,
       wx / sqrt((wx*wx + wy*wy) + wz*wz) AS x,
       wy / sqrt((wx*wx + wy*wy) + wz*wz) AS y,
       wz / sqrt((wx*wx + wy*wy) + wz*wz) AS z
FROM {p}w"""


def _sgn(expr: str) -> str:
    return f"CASE WHEN abs({expr}) <= 1e-15 THEN 0 ELSE sign({expr}) END"


def _cross_pred_sql() -> str:
    """Crossing predicate over columns (a0*, a1*, b0*, b1*) following the
    banded sign chain (edges_cross_batch robust=False)."""
    nx, ny, nz = "(a0y*a1z - a0z*a1y)", "(a0z*a1x - a0x*a1z)", "(a0x*a1y - a0y*a1x)"
    mx, my, mz = "(b0y*b1z - b0z*b1y)", "(b0z*b1x - b0x*b1z)", "(b0x*b1y - b0y*b1x)"
    db0 = _sgn(f"(({nx})*b0x + ({ny})*b0y) + ({nz})*b0z")
    db1 = _sgn(f"(({nx})*b1x + ({ny})*b1y) + ({nz})*b1z")
    da0 = _sgn(f"(({mx})*a0x + ({my})*a0y) + ({mz})*a0z")
    da1 = _sgn(f"(({mx})*a1x + ({my})*a1y) + ({mz})*a1z")
    return f"({db0}) * ({db1}) < 0 AND ({da0}) * ({da1}) < 0 AND ({db1}) = ({da0})"


def loop_pair_distance_oracle_sql(verts_sql: str, pairs_sql: str) -> str:
    """DuckDB replay of ``loop_pair_distance``: closed edges via modular
    next-vertex join, the banded crossing scan, south-pole parity
    containment, and the pinned four-way distance least with (i, j)
    argmin — the identical decision procedure.  ``verts_sql`` yields
    (chain_id, seq, x, y, z); ``pairs_sql`` yields (chain_a, chain_b)
    over a relation named ``verts``."""
    from ..kernels.measures import point_edge_chord2_sql

    d1 = point_edge_chord2_sql("a0", "b0", "b1")
    d2 = point_edge_chord2_sql("a1", "b0", "b1")
    d3 = point_edge_chord2_sql("b0", "a0", "a1")
    d4 = point_edge_chord2_sql("b1", "a0", "a1")
    return f"""
WITH vsrc AS MATERIALIZED ({verts_sql}),
verts AS MATERIALIZED (
  SELECT chain_id,
         row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS vi,
         x, y, z
  FROM vsrc
),
cnt AS MATERIALIZED (SELECT chain_id, count(*) AS n FROM verts GROUP BY chain_id),
pairs AS MATERIALIZED ({pairs_sql}),
edges AS MATERIALIZED (
  SELECT v0.chain_id, v0.vi AS i,
         v0.x AS p0x, v0.y AS p0y, v0.z AS p0z,
         v1.x AS p1x, v1.y AS p1y, v1.z AS p1z
  FROM verts v0
  JOIN cnt c ON c.chain_id = v0.chain_id
  JOIN verts v1 ON v1.chain_id = v0.chain_id AND v1.vi = (v0.vi + 1) % c.n
),
ep AS MATERIALIZED (
  SELECT p.chain_a, p.chain_b, ea.i, eb.i AS j,
         ea.p0x AS a0x, ea.p0y AS a0y, ea.p0z AS a0z,
         ea.p1x AS a1x, ea.p1y AS a1y, ea.p1z AS a1z,
         eb.p0x AS b0x, eb.p0y AS b0y, eb.p0z AS b0z,
         eb.p1x AS b1x, eb.p1y AS b1y, eb.p1z AS b1z
  FROM pairs p
  JOIN edges ea ON ea.chain_id = p.chain_a
  JOIN edges eb ON eb.chain_id = p.chain_b
),
crx AS (
  SELECT chain_a, chain_b, i, j,
         row_number() OVER (PARTITION BY chain_a, chain_b ORDER BY i, j) AS rnk
  FROM ep
  WHERE {_cross_pred_sql()}
),
-- containment parity: geodesic (south pole -> probe vertex 0) vs edges
v0s AS MATERIALIZED (
  SELECT chain_id, x AS px, y AS py, z AS pz FROM verts WHERE vi = 0
),
par_ab AS (
  SELECT chain_a, chain_b,
         sum(CASE WHEN {_cross_pred_sql()} THEN 1 ELSE 0 END) % 2 AS par
  FROM (
    SELECT p.chain_a, p.chain_b,
           CAST(0.0 AS DOUBLE) AS a0x, CAST(0.0 AS DOUBLE) AS a0y,
           CAST(-1.0 AS DOUBLE) AS a0z,
           v.px AS a1x, v.py AS a1y, v.pz AS a1z,
           e.p0x AS b0x, e.p0y AS b0y, e.p0z AS b0z,
           e.p1x AS b1x, e.p1y AS b1y, e.p1z AS b1z
    FROM pairs p
    JOIN v0s v ON v.chain_id = p.chain_b
    JOIN edges e ON e.chain_id = p.chain_a
  )
  GROUP BY chain_a, chain_b
),
par_ba AS (
  SELECT chain_a, chain_b,
         sum(CASE WHEN {_cross_pred_sql()} THEN 1 ELSE 0 END) % 2 AS par
  FROM (
    SELECT p.chain_a, p.chain_b,
           CAST(0.0 AS DOUBLE) AS a0x, CAST(0.0 AS DOUBLE) AS a0y,
           CAST(-1.0 AS DOUBLE) AS a0z,
           v.px AS a1x, v.py AS a1y, v.pz AS a1z,
           e.p0x AS b0x, e.p0y AS b0y, e.p0z AS b0z,
           e.p1x AS b1x, e.p1y AS b1y, e.p1z AS b1z
    FROM pairs p
    JOIN v0s v ON v.chain_id = p.chain_a
    JOIN edges e ON e.chain_id = p.chain_b
  )
  GROUP BY chain_a, chain_b
),
dist AS (
  SELECT chain_a, chain_b,
         least(least(({d1}), ({d2})), least(({d3}), ({d4}))) AS d, i, j
  FROM ep
),
best AS (
  SELECT chain_a, chain_b, d, i, j,
         row_number() OVER (PARTITION BY chain_a, chain_b ORDER BY d, i, j) AS rnk
  FROM dist
)
SELECT p.chain_a, p.chain_b,
       CASE WHEN cx.i IS NOT NULL THEN 1
            WHEN pab.par = 1 THEN 2
            WHEN pba.par = 1 THEN 3
            ELSE 0 END AS relation,
       CASE WHEN cx.i IS NOT NULL OR pab.par = 1 OR pba.par = 1 THEN 0.0
            ELSE b.d END AS min_chord2,
       CASE WHEN cx.i IS NOT NULL THEN cx.i
            WHEN pab.par = 1 OR pba.par = 1 THEN -1
            ELSE b.i END AS a_edge,
       CASE WHEN cx.i IS NOT NULL THEN cx.j
            WHEN pab.par = 1 OR pba.par = 1 THEN -1
            ELSE b.j END AS b_edge
FROM pairs p
LEFT JOIN crx cx ON cx.chain_a = p.chain_a AND cx.chain_b = p.chain_b AND cx.rnk = 1
LEFT JOIN par_ab pab ON pab.chain_a = p.chain_a AND pab.chain_b = p.chain_b
LEFT JOIN par_ba pba ON pba.chain_a = p.chain_a AND pba.chain_b = p.chain_b
LEFT JOIN best b ON b.chain_a = p.chain_a AND b.chain_b = p.chain_b AND b.rnk = 1
ORDER BY p.chain_a, p.chain_b"""
