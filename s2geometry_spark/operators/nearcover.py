"""Distributed S2Polyline::NearlyCovers joins (s2polyline.cc:696-820)
with a DuckDB oracle that replays the whole search bit-for-bit.

* ``nearly_covers_pairs`` — (chain_a, chain_b, kind) pair table joined
  against seq-sorted chain arrays on both sides (the alignment-join
  recipe), then one Arrow-batched mapInPandas pass runs the
  reachability kernel (kernels/nearcover.nearly_covers) per pair:
  O(n*m) gate evaluations per pair, embarrassingly parallel across
  pairs, no driver participation.  Chain sizes must be bounded
  upstream (same contract as alignment/simplify).

* ``nearly_covers_oracle_sql`` — the identical search in DuckDB:
  - per-pair A/B edge tables,
  - start states (pinned projection of B[0] onto every A edge, the
    reference's duplicate-end-vertex dedup rule),
  - a transition-gate table holding IsEdgeBNearEdgeA for BOTH
    i_in_progress values of every (i, j) — each gate replays the
    kernel's pinned float shapes stage-by-stage in MATERIALIZED CTEs
    (a single giant inlined expression can perturb the last ulp),
  - a recursive CTE that walks the (i, j, p) state graph from the
    start states (UNION distinct = the reference's `done` set), and
  - covers = EXISTS a reachable state with j = nb-1 (the reference's
    next_j == m acceptance).
  Transition gates are computed only for pairs with >= 1 start state —
  a lossless prune (no start => not covered), which keeps the oracle
  cheap for far-apart pairs.

All tolerance comparisons on both sides use the squared-chord
threshold (2*sin(tol/2))^2 passed as one literal, so engine and oracle
compare bit-identical doubles (see kernels/nearcover docstring).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions import map_batches
from ..kernels.nearcover import nearly_covers
from .alignment import _verts_to_np, chains_as_arrays

__all__ = ["nearly_covers_pairs", "nearly_covers_oracle_sql"]


def nearly_covers_pairs(
    spark: SparkSession,
    chains: DataFrame,
    pairs: DataFrame,
    ch2_tol: float,
) -> DataFrame:
    """Per-pair NearlyCovers verdicts: (chain_a, chain_b, kind, n_a,
    n_b, covers) with covers = 1 iff chain_a nearly covers chain_b
    within tol = 2*asin(sqrt(ch2_tol)/2).  ``pairs`` has columns
    (chain_a, chain_b, kind); both chains must exist in ``chains``
    (inner joins drop the rest)."""
    import pyspark.sql.functions as F

    arrs = chains_as_arrays(chains)
    joined = (
        pairs.select("chain_a", "chain_b", "kind")
        .join(
            arrs.select(F.col("chain_id").alias("chain_a"), F.col("verts").alias("va")),
            "chain_a",
        )
        .join(
            arrs.select(F.col("chain_id").alias("chain_b"), F.col("verts").alias("vb")),
            "chain_b",
        )
    )

    def covers(pdf):
        rows = []
        for a, b, kind, va, vb in zip(
            pdf["chain_a"], pdf["chain_b"], pdf["kind"], pdf["va"], pdf["vb"]
        ):
            A = _verts_to_np(va)
            B = _verts_to_np(vb)
            rows.append(
                (a, b, kind, len(A), len(B),
                 int(nearly_covers(A, B, ch2_tol)))
            )
        return pd.DataFrame(
            rows,
            columns=["chain_a", "chain_b", "kind", "n_a", "n_b", "covers"],
        )

    return map_batches(
        joined,
        covers,
        "chain_a long, chain_b long, kind string, n_a long, n_b long, covers int",
    )


# ---------- DuckDB oracle ----------


def _c2(p: str, q: str) -> str:
    """Pinned squared chord ||p - q||^2 over column prefixes."""
    return (
        f"((({p}x-{q}x)*({p}x-{q}x) + ({p}y-{q}y)*({p}y-{q}y))"
        f" + ({p}z-{q}z)*({p}z-{q}z))"
    )


def _rcross(out: str, p: str, q: str) -> dict[str, str]:
    """Pinned RobustCrossProd main path (p-q) x (p+q), raw components."""
    return {
        f"{out}x": f"(({p}y-{q}y)*({p}z+{q}z) - ({p}z-{q}z)*({p}y+{q}y))",
        f"{out}y": f"(({p}z-{q}z)*({p}x+{q}x) - ({p}x-{q}x)*({p}z+{q}z))",
        f"{out}z": f"(({p}x-{q}x)*({p}y+{q}y) - ({p}y-{q}y)*({p}x+{q}x))",
    }


def _norm3(out: str, r: str) -> dict[str, str]:
    n = f"sqrt(({r}x*{r}x + {r}y*{r}y) + {r}z*{r}z)"
    return {f"{out}x": f"({r}x / {n})", f"{out}y": f"({r}y / {n})", f"{out}z": f"({r}z / {n})"}


def _proj_stages(pre: str, keep: list[str], q: str, e0: str, e1: str):
    """Stage list replaying project_to_edge_pinned: project point ``q``
    onto edge (``e0``, ``e1``); emits columns {pre}x/y/z.  ``keep``
    must already include the q/e0/e1 coordinate columns."""
    n, o = f"{pre}n", f"{pre}o"
    coords = [f"{p}{c}" for p in (q, e0, e1) for c in "xyz"]
    kfull = list(dict.fromkeys(list(keep) + coords))
    st = []
    st.append((f"{pre}_n", kfull, {
        f"{n}x": f"({e0}y*{e1}z - {e0}z*{e1}y)",
        f"{n}y": f"({e0}z*{e1}x - {e0}x*{e1}z)",
        f"{n}z": f"({e0}x*{e1}y - {e0}y*{e1}x)",
    }))
    st.append((f"{pre}_d", kfull + [f"{n}x", f"{n}y", f"{n}z"], {
        f"{pre}dna": f"(({q}x*({n}y*{e0}z - {n}z*{e0}y) + {q}y*({n}z*{e0}x - {n}x*{e0}z)) + {q}z*({n}x*{e0}y - {n}y*{e0}x))",
        f"{pre}dnb": f"(({q}x*({e1}y*{n}z - {e1}z*{n}y) + {q}y*({e1}z*{n}x - {e1}x*{n}z)) + {q}z*({e1}x*{n}y - {e1}y*{n}x))",
        f"{pre}xn": f"(({q}x*{n}x + {q}y*{n}y) + {q}z*{n}z)",
        f"{pre}nn": f"(({n}x*{n}x + {n}y*{n}y) + {n}z*{n}z)",
    }))
    st.append((f"{pre}_p", kfull + [f"{n}x", f"{n}y", f"{n}z", f"{pre}dna", f"{pre}dnb"], {
        f"{o}x": f"({q}x - ({pre}xn / {pre}nn) * {n}x)",
        f"{o}y": f"({q}y - ({pre}xn / {pre}nn) * {n}y)",
        f"{o}z": f"({q}z - ({pre}xn / {pre}nn) * {n}z)",
    }))
    st.append((f"{pre}_s", kfull + [f"{pre}dna", f"{pre}dnb", f"{o}x", f"{o}y", f"{o}z"], {
        f"{pre}pn": f"sqrt(({o}x*{o}x + {o}y*{o}y) + {o}z*{o}z)",
        f"{pre}da": _c2(q, e0),
        f"{pre}db": _c2(q, e1),
    }))
    interior = f"{pre}dna > 0 AND {pre}dnb > 0"
    st.append((f"{pre}_f", keep, {
        f"{pre}x": f"CASE WHEN {interior} THEN {o}x / {pre}pn WHEN {pre}da <= {pre}db THEN {e0}x ELSE {e1}x END",
        f"{pre}y": f"CASE WHEN {interior} THEN {o}y / {pre}pn WHEN {pre}da <= {pre}db THEN {e0}y ELSE {e1}y END",
        f"{pre}z": f"CASE WHEN {interior} THEN {o}z / {pre}pn WHEN {pre}da <= {pre}db THEN {e0}z ELSE {e1}z END",
    }))
    return st


def _isnear_stages(pre: str, keep: list[str], a0: str, a1: str, b0: str, b1: str,
                   tol: str, out_col: str):
    """Stage list replaying is_edge_b_near_edge_a(a0, a1, b0, b1):
    emits boolean column ``out_col``.  ``keep`` must include the four
    coordinate triples (they are consumed, not carried past the end).
    """
    coords = [f"{p}{c}" for p in (a0, a1, b0, b1) for c in "xyz"]
    keep_in = keep + coords
    st = []
    st.append((f"{pre}_r", keep_in, _rcross(f"{pre}r", a0, a1)))
    st.append((f"{pre}_ao", keep_in, _norm3(f"{pre}ao", f"{pre}r")))
    ao = [f"{pre}ao{c}" for c in "xyz"]
    st += _proj_stages(f"{pre}q0", keep_in + ao, b0, a0, a1)
    p0 = [f"{pre}q0{c}" for c in "xyz"]
    st += _proj_stages(f"{pre}q1", keep_in + ao + p0, b1, a0, a1)
    p1 = [f"{pre}q1{c}" for c in "xyz"]
    P0, P1, AO = f"{pre}q0", f"{pre}q1", f"{pre}ao"
    st.append((f"{pre}_dt", keep_in + ao + p0 + p1, {
        f"{pre}det": (
            f"(({AO}x*({P0}y*{P1}z - {P0}z*{P1}y)"
            f" + {AO}y*({P0}z*{P1}x - {P0}x*{P1}z))"
            f" + {AO}z*({P0}x*{P1}y - {P0}y*{P1}x))"
        ),
        f"{pre}far": f"({_c2(b0, P0)} > {tol} OR {_c2(b1, P1)} > {tol})",
        f"{pre}deg": (
            f"(({a0}x = {a1}x AND {a0}y = {a1}y AND {a0}z = {a1}z)"
            f" OR ({b0}x = {b1}x AND {b0}y = {b1}y AND {b0}z = {b1}z))"
        ),
    }))
    st.append((f"{pre}_fo", keep_in + [f"{pre}far", f"{pre}deg"], {
        f"{pre}fox": f"((CASE WHEN {pre}det < 0 THEN -1.0 ELSE 1.0 END) * {AO}x)",
        f"{pre}foy": f"((CASE WHEN {pre}det < 0 THEN -1.0 ELSE 1.0 END) * {AO}y)",
        f"{pre}foz": f"((CASE WHEN {pre}det < 0 THEN -1.0 ELSE 1.0 END) * {AO}z)",
    }))
    FO = f"{pre}fo"
    st.append((f"{pre}_br", keep_in + [f"{pre}far", f"{pre}deg",
                                       f"{FO}x", f"{FO}y", f"{FO}z"],
               _rcross(f"{pre}br", b0, b1)))
    st.append((f"{pre}_bo", keep_in + [f"{pre}far", f"{pre}deg",
                                       f"{FO}x", f"{FO}y", f"{FO}z"],
               _norm3(f"{pre}bo", f"{pre}br")))
    BO = f"{pre}bo"
    bo = [f"{BO}{c}" for c in "xyz"]
    st.append((f"{pre}_m", keep_in + [f"{pre}far", f"{pre}deg",
                                      f"{FO}x", f"{FO}y", f"{FO}z"] + bo, {
        f"{pre}cosp": f"(({FO}x*{BO}x + {FO}y*{BO}y) + {FO}z*{BO}z)",
        f"{pre}npl": f"({_c2(FO, BO)} <= {tol})",
        f"{pre}hemi": f"(({_c2(b0, a0)} < {_c2(b0, a1)}) = ({_c2(b1, a0)} < {_c2(b1, a1)}))",
    }))
    flags = [f"{pre}far", f"{pre}deg", f"{pre}cosp", f"{pre}npl", f"{pre}hemi"]
    st.append((f"{pre}_g", keep_in + flags + bo, _rcross(f"{pre}g", FO, BO)))
    G = f"{pre}g"
    st.append((f"{pre}_w", keep_in + flags + bo, {
        f"{pre}wx": f"({BO}y*{G}z - {BO}z*{G}y)",
        f"{pre}wy": f"({BO}z*{G}x - {BO}x*{G}z)",
        f"{pre}wz": f"({BO}x*{G}y - {BO}y*{G}x)",
    }))
    st.append((f"{pre}_fv", keep_in + flags + bo, _norm3(f"{pre}f", f"{pre}w")))
    FV = f"{pre}f"
    st.append((f"{pre}_da", keep + flags, {
        f"{pre}dA": (
            f"(({BO}x*({b0}y*{FV}z - {b0}z*{FV}y)"
            f" + {BO}y*({b0}z*{FV}x - {b0}x*{FV}z))"
            f" + {BO}z*({b0}x*{FV}y - {b0}y*{FV}x))"
        ),
        f"{pre}dB": (
            f"(({FV}x*({b1}y*{BO}z - {b1}z*{BO}y)"
            f" + {FV}y*({b1}z*{BO}x - {b1}x*{BO}z))"
            f" + {FV}z*({b1}x*{BO}y - {b1}y*{BO}x))"
        ),
    }))
    st.append((f"{pre}_res", keep, {
        out_col: (
            f"CASE WHEN {pre}deg THEN NOT {pre}far"
            f" WHEN {pre}far THEN FALSE"
            f" WHEN {pre}npl THEN TRUE"
            f" WHEN {pre}cosp <= 0 THEN {pre}hemi"
            f" ELSE NOT (({pre}dA > 0 AND {pre}dB > 0)"
            f" OR ({pre}dA < 0 AND {pre}dB < 0)) END"
        ),
    }))
    return st


def _emit(base: str, stages) -> tuple[str, str]:
    """Render a stage list into chained MATERIALIZED CTEs; returns
    (sql_fragment, last_stage_name)."""
    out = []
    prev = base
    for name, keep, new in stages:
        cols = ", ".join(
            list(dict.fromkeys(keep)) + [f"{e} AS {c}" for c, e in new.items()]
        )
        out.append(f"{name} AS MATERIALIZED (\n  SELECT {cols}\n  FROM {prev}\n)")
        prev = name
    return ",\n".join(out), prev


def nearly_covers_oracle_sql(
    verts_sql: str, pairs_sql: str, ch2_tol: float
) -> str:
    """Full-SQL NearlyCovers replay.  ``verts_sql`` yields (chain_id,
    seq, x, y, z); ``pairs_sql`` yields (pair_id, chain_a, chain_b,
    kind) with pair_id unique.  Output: (chain_a, chain_b, kind, n_a,
    n_b, covers int), the engine's column-for-column twin."""
    tol = repr(float(ch2_tol))
    ids_t = ["pair_id", "i"]
    # start states: project q (=B[0]) onto A edge (a0, a1)
    st_stages = _proj_stages(
        "sp", ids_t + ["na"] + [f"{p}{c}" for p in ("q", "a0", "a1") for c in "xyz"],
        "q", "a0", "a1",
    )
    st_sql, st_last = _emit("st_src", st_stages)
    # transition gates: one row per (pair, i, j, p)
    ids3 = ["pair_id", "i", "j", "p"]
    coord = [f"{p}{c}" for p in ("a0", "a1", "b0", "b1") for c in "xyz"]
    tr_stages = []
    # ib/jb: p=TRUE projects b0j onto the A edge, p=FALSE projects a0
    # onto the B edge — one shared projection with CASE-selected inputs
    tr_stages.append(("tr_in", ids3 + coord, {
        "qx": "CASE WHEN p THEN b0x ELSE a0x END",
        "qy": "CASE WHEN p THEN b0y ELSE a0y END",
        "qz": "CASE WHEN p THEN b0z ELSE a0z END",
        "f0x": "CASE WHEN p THEN a0x ELSE b0x END",
        "f0y": "CASE WHEN p THEN a0y ELSE b0y END",
        "f0z": "CASE WHEN p THEN a0z ELSE b0z END",
        "f1x": "CASE WHEN p THEN a1x ELSE b1x END",
        "f1y": "CASE WHEN p THEN a1y ELSE b1y END",
        "f1z": "CASE WHEN p THEN a1z ELSE b1z END",
    }))
    tr_stages += _proj_stages("tp", ids3 + coord + ["qx", "qy", "qz"], "q", "f0", "f1")
    tr_stages.append(("tr_ij", ids3 + coord, {
        "ibx": "CASE WHEN p THEN tpx ELSE a0x END",
        "iby": "CASE WHEN p THEN tpy ELSE a0y END",
        "ibz": "CASE WHEN p THEN tpz ELSE a0z END",
        "jbx": "CASE WHEN p THEN b0x ELSE tpx END",
        "jby": "CASE WHEN p THEN b0y ELSE tpy END",
        "jbz": "CASE WHEN p THEN b0z ELSE tpz END",
    }))
    ib_jb = [f"{p}{c}" for p in ("ib", "jb") for c in "xyz"]
    # go_i: IsEdgeBNearEdgeA(A=(jb, b1), B=(ib, a1)) — this-edge near
    # covered-edge; go_j: the transpose (s2polyline.cc:810-817)
    tr_stages += _isnear_stages(
        "gi", ids3 + coord + ib_jb, "jb", "b1", "ib", "a1", tol, "go_i"
    )
    tr_stages += _isnear_stages(
        "gj", ids3 + ["go_i"], "ib", "a1", "jb", "b1", tol, "go_j"
    )
    tr_sql, tr_last = _emit("tr_src", tr_stages)
    return f"""WITH RECURSIVE
vsrc AS MATERIALIZED ({verts_sql}),
-- adjacent-duplicate collapse, mirroring the kernel's simplify_chain
-- (the reference's NextDistinctVertex walk): without it a chain with a
-- repeated vertex would produce degenerate edges only on this side and
-- could flip the covers verdict (ADVICE r3)
vdis AS MATERIALIZED (
  SELECT chain_id, seq, x, y, z
  FROM (
    SELECT chain_id, seq, x, y, z,
           lag(x) OVER w AS px, lag(y) OVER w AS py, lag(z) OVER w AS pz
    FROM vsrc
    WINDOW w AS (PARTITION BY chain_id ORDER BY seq)
  )
  WHERE px IS NULL OR x != px OR y != py OR z != pz
),
verts AS MATERIALIZED (
  SELECT chain_id,
         row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS vi,
         x, y, z
  FROM vdis
),
pairs AS MATERIALIZED ({pairs_sql}),
-- collapsed counts drive the search (start dedup / acceptance);
-- raw counts are what the engine reports as n_a/n_b
cnt AS (SELECT chain_id, count(*) AS n FROM verts GROUP BY chain_id),
cnt_raw AS (SELECT chain_id, count(*) AS n FROM vsrc GROUP BY chain_id),
psz AS MATERIALIZED (
  SELECT p.pair_id, p.chain_a, p.chain_b, p.kind, ca.n AS na, cb.n AS nb,
         ra.n AS na_raw, rb.n AS nb_raw
  FROM pairs p
  JOIN cnt ca ON ca.chain_id = p.chain_a
  JOIN cnt cb ON cb.chain_id = p.chain_b
  JOIN cnt_raw ra ON ra.chain_id = p.chain_a
  JOIN cnt_raw rb ON rb.chain_id = p.chain_b
),
ea AS MATERIALIZED (
  SELECT p.pair_id, v0.vi AS i,
         v0.x AS a0x, v0.y AS a0y, v0.z AS a0z,
         v1.x AS a1x, v1.y AS a1y, v1.z AS a1z
  FROM psz p
  JOIN verts v0 ON v0.chain_id = p.chain_a
  JOIN verts v1 ON v1.chain_id = p.chain_a AND v1.vi = v0.vi + 1
),
eb AS MATERIALIZED (
  SELECT p.pair_id, v0.vi AS j,
         v0.x AS b0x, v0.y AS b0y, v0.z AS b0z,
         v1.x AS b1x, v1.y AS b1y, v1.z AS b1z
  FROM psz p
  JOIN verts v0 ON v0.chain_id = p.chain_b
  JOIN verts v1 ON v1.chain_id = p.chain_b AND v1.vi = v0.vi + 1
),
st_src AS MATERIALIZED (
  SELECT ea.pair_id, ea.i, p.na,
         v.x AS qx, v.y AS qy, v.z AS qz,
         ea.a0x, ea.a0y, ea.a0z, ea.a1x, ea.a1y, ea.a1z
  FROM ea
  JOIN psz p ON p.pair_id = ea.pair_id
  JOIN verts v ON v.chain_id = p.chain_b AND v.vi = 0
),
{st_sql},
starts AS MATERIALIZED (
  SELECT pair_id, i FROM {st_last}
  WHERE (i = na - 2 OR NOT (spx = a1x AND spy = a1y AND spz = a1z))
    AND {_c2('q', 'sp')} <= {tol}
),
tr_src AS MATERIALIZED (
  SELECT ea.pair_id, ea.i, eb.j, pp.p,
         ea.a0x, ea.a0y, ea.a0z, ea.a1x, ea.a1y, ea.a1z,
         eb.b0x, eb.b0y, eb.b0z, eb.b1x, eb.b1y, eb.b1z
  FROM ea
  JOIN eb ON eb.pair_id = ea.pair_id
  CROSS JOIN (SELECT TRUE AS p UNION ALL SELECT FALSE) pp
  WHERE ea.pair_id IN (SELECT DISTINCT pair_id FROM starts)
),
{tr_sql},
edges AS MATERIALIZED (
  SELECT pair_id, i, j, p, i + 1 AS ni, j AS nj, FALSE AS np
  FROM {tr_last} WHERE go_i
  UNION ALL
  SELECT pair_id, i, j, p, i AS ni, j + 1 AS nj, TRUE AS np
  FROM {tr_last} WHERE go_j
),
reach AS (
  SELECT pair_id, i, CAST(0 AS BIGINT) AS j, TRUE AS p FROM starts
  UNION
  SELECT e.pair_id, e.ni, e.nj, e.np
  FROM reach r
  JOIN edges e ON e.pair_id = r.pair_id AND e.i = r.i AND e.j = r.j
              AND e.p = r.p
),
hit AS (SELECT DISTINCT pair_id, j FROM reach)
SELECT p.chain_a, p.chain_b, p.kind,
       CAST(p.na_raw AS BIGINT) AS n_a, CAST(p.nb_raw AS BIGINT) AS n_b,
       CAST(CASE WHEN h.pair_id IS NULL THEN 0 ELSE 1 END AS INT) AS covers
FROM psz p
LEFT JOIN hit h ON h.pair_id = p.pair_id AND h.j = p.nb - 1
ORDER BY p.chain_a, p.chain_b, p.kind"""
