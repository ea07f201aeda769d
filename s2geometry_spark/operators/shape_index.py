"""Distributed shape-index build (MutableS2ShapeIndex twin).

The reference's ``MutableS2ShapeIndex`` (mutable_s2shape_index.h:60-171)
is an in-memory adaptive quadtree over edges: starting from the six cube
faces, every cell holding more than ``max_edges_per_cell`` edges (default
10, mutable_s2shape_index.h:166) is subdivided until the limit — or the
maximum level — is reached.  Edges enter the tree through
``ClipToPaddedFace`` with ``kCellPadding = 2 * (kFaceClipErrorUVCoord +
kEdgeClipErrorUVCoord)`` (mutable_s2shape_index.cc:183) and descend via
the ``IntersectsRect`` test against each child's padded UV rect.

The Spark-first re-expression is a BFS over levels instead of a
recursive in-memory build:

* ONE vectorized ``mapInPandas`` pass (``clip_to_faces``) assigns every
  edge to its padded cube faces with the clipped UV segment — after
  that, NO Python runs;
* each level is one Catalyst round: a hash aggregate counts edges per
  cell, cells over the limit broadcast back onto their edge rows, each
  row fans out to the 4 children it intersects (the ``IntersectsRect``
  predicate as a codegen SQL expression — bit-exact IEEE doubles), and
  finalized cells emit compact per-cell witnesses
  ``(n_edges, sum_eid, xor_eid)`` that certify the full posting list;
* ``localCheckpoint`` per round keeps lineage flat (the same discipline
  as operators/graph.py) — at 100 TB this is ≤30 rounds of one shuffle
  each, and subdividing dense cells is itself the skew remedy: hot
  tiles split until no reducer key exceeds ``max_edges_per_cell``
  candidates-per-cell work units.

The DuckDB oracle unrolls the identical BFS — the ``clip_to_faces``
oracle as the seed, then one (GROUP BY, 4-way VALUES fan-out,
IntersectsRect WHERE) round per level, with every double expression
sharing the exact SQL text the Spark side executes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2geometry_spark.functions import map_batches
from s2geometry_spark.kernels.faceclip import K_CELL_PADDING

MAX_EDGES_PER_CELL = 10  # mutable_s2shape_index.h:166 default
MAX_LEVEL = 8  # BFS depth cap for the fixture (reference: kMaxLevel=30)


def _d(v: float) -> str:
    """Pin a python double as a literal both Spark and DuckDB parse as
    DOUBLE (exponent notation — never DECIMAL)."""
    return f"CAST({v:.17e} AS DOUBLE)"


_THIRD = _d(1.0 / 3.0)
_INV30 = _d(2.0 ** -30)


def _st2uv(s: str) -> str:
    """STtoUV (quadratic), identical op order to kernels.faceclip._st_to_uv
    — portable Spark/DuckDB SQL."""
    return (
        f"(CASE WHEN {s} >= CAST(5e-1 AS DOUBLE) "
        f"THEN {_THIRD} * ((4e0 * {s}) * {s} - 1e0) "
        f"ELSE {_THIRD} * (1e0 - (4e0 * (1e0 - {s})) * (1e0 - {s})) END)"
    )


def _child_rect_exprs(level: int, ci: str, cj: str) -> dict[str, str]:
    """Padded UV rect of the level-``level`` cell (ci, cj) — the same
    arithmetic as the kernel (exact: ci*step <= 2^30 so the int->double
    conversion and the 2^-30 scale are lossless)."""
    step = 1 << (30 - level)
    pad = _d(K_CELL_PADDING)

    def uv(ij: str, off: int) -> str:
        s = f"({_INV30} * CAST(({ij} + {off}) * {step} AS DOUBLE))"
        return _st2uv(s)

    return {
        "culo": f"({uv(ci, 0)} - {pad})",
        "cuhi": f"({uv(ci, 1)} + {pad})",
        "cvlo": f"({uv(cj, 0)} - {pad})",
        "cvhi": f"({uv(cj, 1)} + {pad})",
    }


def _intersects_sql(r: dict[str, str]) -> str:
    """IntersectsRect (s2edge_clipping.cc:364-380) on columns
    au/av/bu/bv vs the rect exprs — exact-FP replay of
    kernels.faceclip.intersects_rect in portable SQL."""
    culo, cuhi, cvlo, cvhi = r["culo"], r["cuhi"], r["cvlo"], r["cvhi"]
    return (
        f"greatest(au, bu) >= {culo} AND least(au, bu) <= {cuhi}"
        f" AND greatest(av, bv) >= {cvlo} AND least(av, bv) <= {cvhi}"
        f" AND (-(bv - av)) * ((CASE WHEN -(bv - av) >= 0 THEN {cuhi}"
        f" ELSE {culo} END) - au)"
        f" + (bu - au) * ((CASE WHEN bu - au >= 0 THEN {cvhi}"
        f" ELSE {cvlo} END) - av) >= 0"
        f" AND (-(bv - av)) * ((CASE WHEN -(bv - av) >= 0 THEN {culo}"
        f" ELSE {cuhi} END) - au)"
        f" + (bu - au) * ((CASE WHEN bu - au >= 0 THEN {cvlo}"
        f" ELSE {cvhi} END) - av) <= 0"
    )


def shape_index_build(
    edges: DataFrame,
    max_edges_per_cell: int = MAX_EDGES_PER_CELL,
    max_level: int = MAX_LEVEL,
    id_col: str = "eid",
) -> DataFrame:
    """(face, level, ci, cj, n_edges, sum_eid, xor_eid): the finalized
    cells of the adaptive shape index over ``edges``, with per-cell
    witnesses certifying the posting lists.  One vectorized clip pass,
    then ``max_level`` pure-Catalyst rounds (hash agg + broadcast join
    + 4-way fan-out)."""
    from s2geometry_spark.operators.faceclip import clip_to_faces

    active = clip_to_faces(edges, K_CELL_PADDING, id_col).select(
        "eid", "face",
        F.lit(0).cast("long").alias("ci"),
        F.lit(0).cast("long").alias("cj"),
        "au", "av", "bu", "bv",
    )
    spark = active.sparkSession
    outs: list[DataFrame] = []
    for lvl in range(max_level + 1):
        # eager checkpoint: one job per round; once the frontier
        # finalizes everywhere, the remaining rounds run on empty
        # checkpoints at negligible cost (an isEmpty early-break would
        # itself cost one job per round)
        active = active.localCheckpoint(eager=True)
        g = active.groupBy("face", "ci", "cj").agg(
            F.count("*").alias("n_edges"),
            F.sum("eid").alias("sum_eid"),
            F.expr("bit_xor(eid)").alias("xor_eid"),
        )
        if lvl == max_level:
            fin = g
        else:
            fin = g.filter(F.col("n_edges") <= max_edges_per_cell)
        outs.append(
            fin.select(
                "face", F.lit(lvl).cast("long").alias("level"),
                "ci", "cj", "n_edges", "sum_eid", "xor_eid",
            )
        )
        if lvl == max_level:
            break
        split = g.filter(F.col("n_edges") > max_edges_per_cell).select(
            "face", "ci", "cj"
        )
        rect = _child_rect_exprs(lvl + 1, "ci", "cj")
        active = (
            active.join(F.broadcast(split), ["face", "ci", "cj"])
            .withColumn("di", F.explode(F.array(F.lit(0), F.lit(1))))
            .withColumn("dj", F.explode(F.array(F.lit(0), F.lit(1))))
            .select(
                "eid", "face",
                (2 * F.col("ci") + F.col("di")).alias("ci"),
                (2 * F.col("cj") + F.col("dj")).alias("cj"),
                "au", "av", "bu", "bv",
            )
            .filter(F.expr(_intersects_sql(rect)))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def shape_index_oracle_sql(
    table: str,
    key: str,
    key2: str,
    max_edges_per_cell: int = MAX_EDGES_PER_CELL,
    max_level: int = MAX_LEVEL,
    id_expr: str | None = None,
) -> str:
    """DuckDB replay: the clip_to_faces oracle as the seed assignment,
    then one unrolled (GROUP BY, split, 4-way fan-out, IntersectsRect)
    round per level — the identical BFS, bit-exact doubles."""
    from s2geometry_spark.operators.faceclip import clip_to_faces_oracle_sql

    seed = clip_to_faces_oracle_sql(table, key, key2, K_CELL_PADDING, id_expr)
    m = max_edges_per_cell
    ctes = [
        f"""a0 AS MATERIALIZED (
  SELECT eid, face, CAST(0 AS BIGINT) AS ci, CAST(0 AS BIGINT) AS cj,
         au, av, bu, bv
  FROM ({seed})
)"""
    ]
    arms = []
    for lvl in range(max_level + 1):
        ctes.append(
            f"""g{lvl} AS MATERIALIZED (
  SELECT face, ci, cj, CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(eid) AS BIGINT) AS sum_eid,
         CAST(BIT_XOR(eid) AS BIGINT) AS xor_eid
  FROM a{lvl} GROUP BY face, ci, cj
)"""
        )
        cond = "" if lvl == max_level else f" WHERE n_edges <= {m}"
        arms.append(
            f"SELECT face, CAST({lvl} AS BIGINT) AS level, ci, cj, "
            f"n_edges, sum_eid, xor_eid FROM g{lvl}{cond}"
        )
        if lvl == max_level:
            break
        rect = _child_rect_exprs(
            lvl + 1, "(2 * x.ci + d.di)", "(2 * x.cj + d.dj)"
        )
        ctes.append(
            f"""a{lvl + 1} AS MATERIALIZED (
  SELECT x.eid, x.face, 2 * x.ci + d.di AS ci, 2 * x.cj + d.dj AS cj,
         x.au AS au, x.av AS av, x.bu AS bu, x.bv AS bv
  FROM a{lvl} x
  JOIN g{lvl} g ON g.face = x.face AND g.ci = x.ci AND g.cj = x.cj
  CROSS JOIN (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
                     (CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
                     (CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                     (CAST(1 AS BIGINT), CAST(1 AS BIGINT))) d(di, dj)
  WHERE g.n_edges > {m}
    AND {_intersects_sql(rect)}
)"""
        )
    body = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(arms)
    return f"WITH {body}\n{union}\n"


def point_cell_exprs(key_expr: str) -> dict[str, str]:
    """Portable (Spark + DuckDB) SQL for a fixture point's canonical
    (face, level-30 i, level-30 j): the triplet derivation, GetFace's
    largest-|component| rule, the per-face valid_uv ratios (ratio form —
    normalization-invariant), quadratic UVtoST, and STtoIJ.  Shared text
    on both engines, so the leaf coordinates match bit-for-bit."""
    from s2geometry_spark.kernels.geotag import sql_xyz_exprs
    from s2geometry_spark.operators.faceclip import (
        _get_face,
        _valid_uv_u,
        _valid_uv_v,
    )

    t = sql_xyz_exprs(key_expr)
    x = f"CAST({t['x0']} AS DOUBLE)"
    y = f"CAST({t['y0']} AS DOUBLE)"
    z = f"CAST({t['z0']} AS DOUBLE)"
    face = _get_face(x, y, z)
    u = _valid_uv_u(face, x, y, z)
    v = _valid_uv_v(face, x, y, z)

    def uv2st(q: str) -> str:
        return (
            f"(CASE WHEN {q} >= 0 THEN CAST(5e-1 AS DOUBLE) * sqrt(1e0 + 3e0 * ({q})) "
            f"ELSE 1e0 - CAST(5e-1 AS DOUBLE) * sqrt(1e0 - 3e0 * ({q})) END)"
        )

    def st2ij(s: str) -> str:
        return (
            f"(CASE WHEN {s} > 0 THEN "
            f"CAST(least(floor(1073741824e0 * ({s})), 1073741823e0) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )

    return {
        "face": f"CAST({face} AS BIGINT)",
        "i30": st2ij(uv2st(u)),
        "j30": st2ij(uv2st(v)),
    }


def shape_index_lookup(
    frontier: DataFrame,
    points: DataFrame,
    key_expr: str,
    id_expr: str,
    max_level: int = MAX_LEVEL,
) -> DataFrame:
    """Locate(point) over the built index (s2shape_index.h Iterator
    Locate): every point joins the unique frontier cell containing it —
    the point's level-30 leaf coordinates fan out to their ancestors at
    each index level (a 9x map-side explode) and equi-join the
    (broadcast) frontier on (face, level, ci, cj).  The frontier-
    property pytest guarantees at most one match per point.  One
    broadcast hash join, no shuffle of the point table.

    The leaf (face, i, j) derivation runs as the NumPy geotag/coords
    kernels in one Arrow pass — bit-identical to the oracle's
    point_cell_exprs SQL (the chain-fixture precedent: the equivalent
    Catalyst expression tree costs seconds of janino compile per job
    for zero benefit)."""
    import pandas as pd

    def to_face_ij(pdf):
        import numpy as np

        from s2geometry_spark.kernels.coords import xyz_to_face_uv
        from s2geometry_spark.kernels.faceclip import _st_to_ij, _uv_to_st
        from s2geometry_spark.kernels.geotag import (
            int_triplet_from_key,
            xyz_from_triplet,
        )

        k = pdf["_k"].to_numpy(np.int64)
        x, y, z = xyz_from_triplet(*int_triplet_from_key(k))
        face, u, v = xyz_to_face_uv(x, y, z)
        return pd.DataFrame(
            {
                "pid": pdf["pid"].to_numpy(np.int64),
                "face": face.astype(np.int64),
                "i30": _st_to_ij(_uv_to_st(u)),
                "j30": _st_to_ij(_uv_to_st(v)),
            }
        )

    pts = map_batches(
        points.select(
            F.expr(id_expr).cast("long").alias("pid"),
            F.expr(key_expr).cast("long").alias("_k"),
        ),
        to_face_ij,
        "pid long, face long, i30 long, j30 long",
    )
    ancs = F.array(
        *[
            F.struct(
                F.lit(lvl).cast("long").alias("level"),
                F.expr(f"CAST(i30 DIV {1 << (30 - lvl)} AS BIGINT)").alias("ci"),
                F.expr(f"CAST(j30 DIV {1 << (30 - lvl)} AS BIGINT)").alias("cj"),
            )
            for lvl in range(max_level + 1)
        ]
    )
    cand = pts.select(
        "pid", "face", F.explode(ancs).alias("a")
    ).select("pid", "face", "a.level", "a.ci", "a.cj")
    return cand.join(
        F.broadcast(frontier), ["face", "level", "ci", "cj"]
    ).select("pid", "face", "level", "ci", "cj", "n_edges", "sum_eid", "xor_eid")


def shape_index_lookup_oracle_sql(
    index_sql: str,
    points_table: str,
    key_expr: str,
    id_expr: str,
    max_level: int = MAX_LEVEL,
) -> str:
    """DuckDB replay: the shape_index oracle nested as the frontier, the
    identical point (face, i30, j30) SQL text, generate_series ancestor
    fan-out, equi-join."""
    e = point_cell_exprs(key_expr)
    return f"""
WITH fron AS MATERIALIZED (
  {index_sql}
),
pts AS MATERIALIZED (
  SELECT CAST({id_expr} AS BIGINT) AS pid,
         {e["face"]} AS face, {e["i30"]} AS i30, {e["j30"]} AS j30
  FROM {points_table}
),
cand AS (
  SELECT pid, face, CAST(l.lvl AS BIGINT) AS level,
         i30 // (1 << (30 - l.lvl)) AS ci,
         j30 // (1 << (30 - l.lvl)) AS cj
  FROM pts, UNNEST(generate_series(0, {max_level})) AS l(lvl)
)
SELECT p.pid, f.face, f.level, f.ci, f.cj, f.n_edges, f.sum_eid, f.xor_eid
FROM cand p
JOIN fron f
  ON f.face = p.face AND f.level = p.level AND f.ci = p.ci AND f.cj = p.cj
"""


def shape_index_postings(
    edges: DataFrame,
    max_edges_per_cell: int = MAX_EDGES_PER_CELL,
    max_level: int = MAX_LEVEL,
    id_col: str = "eid",
) -> DataFrame:
    """(face, level, ci, cj, eid): the PER-EDGE posting rows of the
    finalized index cells — the same BFS as :func:`shape_index_build`,
    emitting the actual posting lists instead of their witnesses (what
    the index SERIALIZER consumes; the witness form is what queries
    verify)."""
    from s2geometry_spark.operators.faceclip import clip_to_faces

    active = clip_to_faces(edges, K_CELL_PADDING, id_col).select(
        "eid", "face",
        F.lit(0).cast("long").alias("ci"),
        F.lit(0).cast("long").alias("cj"),
        "au", "av", "bu", "bv",
    )
    outs: list[DataFrame] = []
    for lvl in range(max_level + 1):
        active = active.localCheckpoint(eager=True)
        g = active.groupBy("face", "ci", "cj").agg(
            F.count("*").alias("n_edges")
        )
        fin = g if lvl == max_level else g.filter(
            F.col("n_edges") <= max_edges_per_cell
        )
        outs.append(
            active.join(
                F.broadcast(fin.select("face", "ci", "cj")),
                ["face", "ci", "cj"],
            ).select(
                "face", F.lit(lvl).cast("long").alias("level"),
                "ci", "cj", "eid",
            )
        )
        if lvl == max_level:
            break
        split = g.filter(F.col("n_edges") > max_edges_per_cell).select(
            "face", "ci", "cj"
        )
        rect = _child_rect_exprs(lvl + 1, "ci", "cj")
        active = (
            active.join(F.broadcast(split), ["face", "ci", "cj"])
            .withColumn("di", F.explode(F.array(F.lit(0), F.lit(1))))
            .withColumn("dj", F.explode(F.array(F.lit(0), F.lit(1))))
            .select(
                "eid", "face",
                (2 * F.col("ci") + F.col("di")).alias("ci"),
                (2 * F.col("cj") + F.col("dj")).alias("cj"),
                "au", "av", "bu", "bv",
            )
            .filter(F.expr(_intersects_sql(rect)))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def shape_index_postings_oracle_cte(
    table: str,
    key: str,
    key2: str,
    max_edges_per_cell: int = MAX_EDGES_PER_CELL,
    max_level: int = MAX_LEVEL,
    id_expr: str | None = None,
) -> str:
    """WITH-clause body ending in CTE ``post`` (face, level, ci, cj,
    eid): the per-edge posting replay of :func:`shape_index_oracle_sql`
    (identical BFS, arms join the finalized cells back to the active
    edge rows instead of aggregating witnesses)."""
    from s2geometry_spark.operators.faceclip import clip_to_faces_oracle_sql

    seed = clip_to_faces_oracle_sql(table, key, key2, K_CELL_PADDING, id_expr)
    m = max_edges_per_cell
    ctes = [
        f"""a0 AS MATERIALIZED (
  SELECT eid, face, CAST(0 AS BIGINT) AS ci, CAST(0 AS BIGINT) AS cj,
         au, av, bu, bv
  FROM ({seed})
)"""
    ]
    arms = []
    for lvl in range(max_level + 1):
        ctes.append(
            f"""g{lvl} AS MATERIALIZED (
  SELECT face, ci, cj, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM a{lvl} GROUP BY face, ci, cj
)"""
        )
        cond = "" if lvl == max_level else f"AND g.n_edges <= {m}"
        arms.append(
            f"SELECT a.face, CAST({lvl} AS BIGINT) AS level, a.ci, a.cj, "
            f"a.eid FROM a{lvl} a JOIN g{lvl} g "
            f"ON g.face = a.face AND g.ci = a.ci AND g.cj = a.cj {cond}"
        )
        if lvl == max_level:
            break
        rect = _child_rect_exprs(
            lvl + 1, "(2 * x.ci + d.di)", "(2 * x.cj + d.dj)"
        )
        ctes.append(
            f"""a{lvl + 1} AS MATERIALIZED (
  SELECT x.eid, x.face, 2 * x.ci + d.di AS ci, 2 * x.cj + d.dj AS cj,
         x.au AS au, x.av AS av, x.bu AS bu, x.bv AS bv
  FROM a{lvl} x
  JOIN g{lvl} g ON g.face = x.face AND g.ci = x.ci AND g.cj = x.cj
  CROSS JOIN (VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
                     (CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
                     (CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                     (CAST(1 AS BIGINT), CAST(1 AS BIGINT))) d(di, dj)
  WHERE g.n_edges > {m}
    AND {_intersects_sql(rect)}
)"""
        )
    body = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(arms)
    return f"{body},\npost AS MATERIALIZED (\n{union}\n)"
