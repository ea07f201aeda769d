"""Distributed polyline alignment: dynamic-timewarp vertex alignment
joins (s2polyline_alignment.h:95-189, s2polyline_alignment.cc) over
chain tables, plus DuckDB oracles that replay the DP bit-for-bit.

* ``chains_as_arrays`` — one shuffle: chain vertex rows -> one row per
  chain carrying the seq-sorted vertex array.  Chain sizes must be
  bounded upstream (same contract as simplify/chain_interpolate), so
  rows stay small and the downstream joins are plain equi hash joins.
* ``align_chain_pairs`` — (chain_a, chain_b) pair table joined against
  the chain arrays on both sides, then one Arrow-batched mapInPandas
  pass runs the exact DP (kernels/alignment.dtw_exact) per pair:
  O(n*m) work per pair, embarrassingly parallel across pairs, no
  driver participation.  ``mode="approx"`` uses the FastDTW recursive
  halving instead (O(max(n, m)) per pair).
* ``medoid_chains`` — GetMedoidPolyline (.cc:352) per GROUP: intra-
  group pair generation (i < j self-join), exact pair costs, then a
  JVM-side ordered fold (F.aggregate over the partner-sorted cost
  array — left-associated, matching the oracle's list_reduce) and a
  (total, chain_id) argmin window.  Evaluates (k^2-k)/2 alignments per
  group of k, mirroring the reference's lower-triangle symmetry trick.
* ``alignment_oracle_sql`` / ``medoid_oracle_sql`` — the identical DP
  in DuckDB: a recursive CTE advances the cost table one ANTI-DIAGONAL
  per iteration (each new cell = cost + least(diag, up, left), NULLs
  standing in for out-of-window +inf — DuckDB's least() ignores
  NULLs), and a second recursive CTE walks the warp path back with the
  reference's tie-break order.  Every float expression mirrors the
  kernel's pinned shapes, so costs AND path lengths are bit-identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels.alignment import approx_alignment, dtw_exact

__all__ = [
    "chains_as_arrays",
    "align_chain_pairs",
    "medoid_chains",
    "alignment_oracle_sql",
    "medoid_oracle_sql",
]


def chains_as_arrays(chains: DataFrame, chain_col: str = "chain_id") -> DataFrame:
    """(chain_id, verts) with verts = seq-sorted array<struct<seq,x,y,z>>.
    array_sort on structs orders by the first field (seq), so the
    aggregation itself needs no sort."""
    return chains.groupBy(F.col(chain_col).alias("chain_id")).agg(
        F.array_sort(F.collect_list(F.struct("seq", "x", "y", "z"))).alias("verts")
    )


def _verts_to_np(cell) -> np.ndarray:
    return np.array([(v["x"], v["y"], v["z"]) for v in cell], dtype=np.float64)


def align_chain_pairs(
    spark: SparkSession,
    chains: DataFrame,
    pairs: DataFrame,
    mode: str = "exact",
    radius: int | None = None,
    chain_col: str = "chain_id",
) -> DataFrame:
    """Per-pair optimal vertex alignment: (chain_a, chain_b, n_a, n_b,
    alignment_cost, path_len).  ``pairs`` has columns (chain_a,
    chain_b); both must exist in ``chains`` (inner joins drop the
    rest).  mode="exact" -> GetExactVertexAlignment; "approx" ->
    GetApproxVertexAlignment with ``radius`` (None = reference default
    max(n, m)**0.25)."""
    arrs = chains_as_arrays(chains, chain_col)
    joined = (
        pairs.select("chain_a", "chain_b")
        .join(arrs.select(F.col("chain_id").alias("chain_a"), F.col("verts").alias("va")), "chain_a")
        .join(arrs.select(F.col("chain_id").alias("chain_b"), F.col("verts").alias("vb")), "chain_b")
    )

    def align(pdf):
        rows = []
        for a, b, va, vb in zip(
            pdf["chain_a"], pdf["chain_b"], pdf["va"], pdf["vb"]
        ):
            A = _verts_to_np(va)
            B = _verts_to_np(vb)
            if mode == "approx":
                cost, path = approx_alignment(A, B, radius)
            else:
                cost, path = dtw_exact(A, B)
            rows.append((a, b, len(A), len(B), cost, len(path)))
        return pd.DataFrame(
            rows,
            columns=["chain_a", "chain_b", "n_a", "n_b", "alignment_cost", "path_len"],
        )

    return map_batches(
        joined,
        align,
        "chain_a long, chain_b long, n_a long, n_b long, "
        "alignment_cost double, path_len long",
    )


def medoid_chains(
    spark: SparkSession,
    chains: DataFrame,
    group_col: str = "group_id",
    chain_col: str = "chain_id",
) -> DataFrame:
    """GetMedoidPolyline per group (s2polyline_alignment.cc:352-368):
    (group_id, medoid_chain, total_cost) where medoid_chain minimizes
    the summed exact alignment cost to every other chain in its group
    (ties -> lowest chain_id).  Groups with one chain have no pairs and
    are omitted.  Totals fold partner-sorted and left-associated so the
    oracle's list_reduce reproduces them bitwise."""
    members = chains.select(group_col, chain_col).distinct()
    pairs = (
        members.alias("a")
        .join(members.alias("b"), F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
        .where(F.col(f"a.{chain_col}") < F.col(f"b.{chain_col}"))
        .select(
            F.col(f"a.{group_col}").alias("group_id"),
            F.col(f"a.{chain_col}").alias("chain_a"),
            F.col(f"b.{chain_col}").alias("chain_b"),
        )
    )
    costs = align_chain_pairs(spark, chains, pairs, mode="exact", chain_col=chain_col)
    both = (
        costs.select(
            F.col("chain_a").alias("member"),
            F.col("chain_b").alias("partner"),
            "alignment_cost",
        )
        .unionByName(
            costs.select(
                F.col("chain_b").alias("member"),
                F.col("chain_a").alias("partner"),
                "alignment_cost",
            )
        )
        .join(
            members.select(
                F.col(group_col).alias("group_id"), F.col(chain_col).alias("member")
            ),
            "member",
        )
    )
    totals = both.groupBy("group_id", "member").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("partner", "alignment_cost"))),
            F.lit(0.0),
            lambda acc, s: acc + s["alignment_cost"],
        ).alias("total_cost")
    )
    from pyspark.sql import Window as W

    r = F.row_number().over(
        W.partitionBy("group_id").orderBy("total_cost", "member")
    )
    return (
        totals.withColumn("_r", r)
        .where(F.col("_r") == 1)
        .select("group_id", F.col("member").alias("medoid_chain"), "total_cost")
    )


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_BIG = "1e308"  # stands in for +inf in tie-break comparisons (all real
# costs are bounded sums of chord lengths, far below this)


def _dp_ctes(verts_sql: str, pairs_sql: str) -> str:
    """Shared CTE chain: verts -> pairs -> per-pair cost lists -> the
    anti-diagonal recursive DP (``adiag``) -> the backtrack walk
    (``bt``).  ``verts_sql`` yields (chain_id, seq, x, y, z);
    ``pairs_sql`` yields (chain_a, chain_b) and may reference ``verts``.
    Exposes: dims(pid, chain_a, chain_b, n, m), adiag(pid, d, cur),
    bt terminal rows WHERE i = 0 AND j = 0 carrying steps."""
    return f"""verts0 AS MATERIALIZED ({verts_sql}),
verts AS MATERIALIZED (
  SELECT chain_id,
         CAST(row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS INT) AS idx,
         x, y, z
  FROM verts0
),
pairs AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY chain_a, chain_b) AS pid, chain_a, chain_b
  FROM ({pairs_sql})
),
dims AS MATERIALIZED (
  SELECT p.pid, p.chain_a, p.chain_b,
         CAST(na.c AS INT) AS n, CAST(nb.c AS INT) AS m
  FROM pairs p
  JOIN (SELECT chain_id, count(*) AS c FROM verts GROUP BY chain_id) na
    ON na.chain_id = p.chain_a
  JOIN (SELECT chain_id, count(*) AS c FROM verts GROUP BY chain_id) nb
    ON nb.chain_id = p.chain_b
),
cells AS MATERIALIZED (
  SELECT p.pid, va.idx AS i, vb.idx AS j,
         sqrt(CAST(
           ((va.x - vb.x)*(va.x - vb.x) + (va.y - vb.y)*(va.y - vb.y))
            + (va.z - vb.z)*(va.z - vb.z) AS DOUBLE)) AS cst
  FROM pairs p
  JOIN verts va ON va.chain_id = p.chain_a
  JOIN verts vb ON vb.chain_id = p.chain_b
),
rowlists AS MATERIALIZED (
  SELECT pid, i, list(cst ORDER BY j) AS r FROM cells GROUP BY pid, i
),
costs AS MATERIALIZED (
  SELECT pid, list(r ORDER BY i) AS c FROM rowlists GROUP BY pid
),
adiag AS (
  SELECT d.pid, 0 AS d, CAST(NULL AS DOUBLE[]) AS prev, [c.c[1][1]] AS cur
  FROM dims d JOIN costs c USING (pid)
  UNION ALL
  SELECT t.pid, t.d + 1, t.cur,
    list_transform(
      range(greatest(0, t.d + 1 - (d.m - 1)), least(d.n - 1, t.d + 1) + 1),
      i -> c.c[i + 1][t.d + 2 - i]
           + least(
               CASE WHEN i - 1 >= greatest(0, t.d - (d.m - 1))
                         AND i - 1 <= least(d.n - 1, t.d)
                    THEN t.cur[i - greatest(0, t.d - (d.m - 1))] END,
               CASE WHEN i >= greatest(0, t.d - (d.m - 1))
                         AND i <= least(d.n - 1, t.d)
                    THEN t.cur[i + 1 - greatest(0, t.d - (d.m - 1))] END,
               CASE WHEN t.d >= 1
                         AND i - 1 >= greatest(0, t.d - 1 - (d.m - 1))
                         AND i - 1 <= least(d.n - 1, t.d - 1)
                    THEN t.prev[i - greatest(0, t.d - 1 - (d.m - 1))] END
             ))
  FROM adiag t JOIN dims d USING (pid) JOIN costs c USING (pid)
  WHERE t.d + 1 <= d.n + d.m - 2
),
cell AS MATERIALIZED (
  -- flattened (pid, i, j) -> DP value lookups for the backtrack
  SELECT a.pid, u.i, a.d - u.i AS j,
         a.cur[u.i - greatest(0, a.d - (d.m - 1)) + 1] AS v
  FROM adiag a JOIN dims d USING (pid),
       LATERAL (SELECT unnest(range(greatest(0, a.d - (d.m - 1)),
                                    least(d.n - 1, a.d) + 1)) AS i) u
),
bt AS (
  SELECT d.pid, d.n - 1 AS i, d.m - 1 AS j, 1 AS steps FROM dims d
  UNION ALL
  SELECT b.pid,
    CASE WHEN dv <= uv AND dv <= lv THEN b.i - 1
         WHEN uv <= lv THEN b.i - 1 ELSE b.i END,
    CASE WHEN dv <= uv AND dv <= lv THEN b.j - 1
         WHEN uv <= lv THEN b.j ELSE b.j - 1 END,
    b.steps + 1
  FROM (
    SELECT b.pid, b.i, b.j, b.steps,
      coalesce(cd.v, {_BIG}) AS dv,
      coalesce(cu.v, {_BIG}) AS uv,
      coalesce(cl.v, {_BIG}) AS lv
    FROM bt b
    LEFT JOIN cell cd ON cd.pid = b.pid AND cd.i = b.i - 1 AND cd.j = b.j - 1
    LEFT JOIN cell cu ON cu.pid = b.pid AND cu.i = b.i - 1 AND cu.j = b.j
    LEFT JOIN cell cl ON cl.pid = b.pid AND cl.i = b.i AND cl.j = b.j - 1
    WHERE b.i > 0 OR b.j > 0
  ) b
)"""


def alignment_oracle_sql(verts_sql: str, pairs_sql: str) -> str:
    """DuckDB replay of align_chain_pairs(mode="exact"): same columns,
    bitwise-equal alignment_cost and path_len."""
    return f"""WITH RECURSIVE {_dp_ctes(verts_sql, pairs_sql)}
SELECT d.chain_a, d.chain_b,
       CAST(d.n AS BIGINT) AS n_a, CAST(d.m AS BIGINT) AS n_b,
       (SELECT v FROM cell c WHERE c.pid = d.pid AND c.i = d.n - 1 AND c.j = d.m - 1)
         AS alignment_cost,
       CAST(b.steps AS BIGINT) AS path_len
FROM dims d JOIN bt b ON b.pid = d.pid AND b.i = 0 AND b.j = 0"""


def medoid_oracle_sql(verts_sql: str, group_expr: str) -> str:
    """DuckDB replay of medoid_chains: groups by ``group_expr`` (a SQL
    expression over chain_id), pair costs from the same recursive DP,
    totals via a partner-sorted left-associated list_reduce fold
    (0.0 seed matches F.aggregate's; 0.0 + x is exact), argmin with
    (total, chain_id) tie-break."""
    pairs_sql = f"""SELECT a.chain_id AS chain_a, b.chain_id AS chain_b
  FROM (SELECT DISTINCT chain_id FROM verts) a
  JOIN (SELECT DISTINCT chain_id FROM verts) b
    ON ({group_expr.replace('chain_id', 'a.chain_id')}) =
       ({group_expr.replace('chain_id', 'b.chain_id')})
   AND a.chain_id < b.chain_id"""
    return f"""WITH RECURSIVE {_dp_ctes(verts_sql, pairs_sql)},
pcost AS MATERIALIZED (
  SELECT d.chain_a, d.chain_b,
         (SELECT v FROM cell c WHERE c.pid = d.pid AND c.i = d.n - 1 AND c.j = d.m - 1)
           AS alignment_cost
  FROM dims d
),
bothdir AS (
  SELECT chain_a AS member, chain_b AS partner, alignment_cost FROM pcost
  UNION ALL
  SELECT chain_b AS member, chain_a AS partner, alignment_cost FROM pcost
),
totals AS (
  SELECT ({group_expr.replace('chain_id', 'member')}) AS group_id, member,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(alignment_cost ORDER BY partner)),
           (acc, x) -> acc + x) AS total_cost
  FROM bothdir GROUP BY group_id, member
),
ranked AS (
  SELECT group_id, member, total_cost,
         row_number() OVER (PARTITION BY group_id ORDER BY total_cost, member) AS r
  FROM totals
)
SELECT group_id, member AS medoid_chain, total_cost FROM ranked WHERE r = 1"""


def consensus_chains(
    spark: SparkSession,
    chains: DataFrame,
    group_col: str = "group_id",
    chain_col: str = "chain_id",
) -> DataFrame:
    """GetConsensusPolyline per group (s2polyline_alignment.cc:389-428),
    one DBA round with exact alignments: seed = lowest chain_id in the
    group; every member is aligned to the seed, matched vertices
    accumulate per seed slot in (member, path-step) order, and the
    accumulated sum renormalizes to the sphere.  Output (group_id, seq,
    x, y, z) — one row per consensus vertex.  One groupBy(group)
    applyInPandas pass; the ordered accumulation makes the DuckDB
    oracle's list_reduce fold bit-exact."""
    from ..kernels.alignment import consensus_polyline

    def one_group(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = pdf[group_col].iloc[0]
        polys = [
            g.sort_values("seq")[["x", "y", "z"]].to_numpy(np.float64)
            for _, g in sorted(pdf.groupby(chain_col), key=lambda kv: kv[0])
        ]
        C = consensus_polyline(polys, approx=False, iteration_cap=1)
        return pd.DataFrame(
            {
                group_col: gid,
                "seq": np.arange(C.shape[0], dtype=np.int64),
                "x": C[:, 0],
                "y": C[:, 1],
                "z": C[:, 2],
            }
        )

    return chains.groupBy(group_col).applyInPandas(
        one_group, f"{group_col} long, seq long, x double, y double, z double"
    )


def consensus_oracle_sql(verts_sql: str, group_expr: str) -> str:
    """DuckDB replay of consensus_chains: pairs (seed=min chain_id of
    the group, member) feed the same anti-diagonal DP; the backtrack
    CTE's (i, j) rows ARE the warp path (forward = steps DESC), so the
    per-slot accumulation is a list_reduce fold over (member,
    forward-step) order — bitwise the kernel's acc[ci] += p[pi] loop —
    then the pinned ((x*x + y*y) + z*z) renormalization."""
    pairs_sql = f"""SELECT g.seed AS chain_a, m.chain_id AS chain_b
  FROM (SELECT ({group_expr.replace('chain_id', 'min(chain_id)')}) AS gid,
               min(chain_id) AS seed
        FROM (SELECT DISTINCT chain_id FROM verts)
        GROUP BY ({group_expr})) g
  JOIN (SELECT DISTINCT chain_id FROM verts) m
    ON ({group_expr.replace('chain_id', 'm.chain_id')}) = g.gid"""
    return f"""WITH RECURSIVE {_dp_ctes(verts_sql, pairs_sql)},
path AS MATERIALIZED (
  -- forward warp path per pair: bt emits one row per visited cell,
  -- steps counts from the (n-1, m-1) corner, so forward order is
  -- steps DESC
  SELECT b.pid, d.chain_a, d.chain_b, b.i AS slot, b.j AS vidx,
         d.n + d.m - b.steps AS fstep
  FROM bt b JOIN dims d USING (pid)
),
contrib AS MATERIALIZED (
  SELECT p.chain_a, p.slot, p.chain_b, p.fstep, v.x, v.y, v.z
  FROM path p
  JOIN verts v ON v.chain_id = p.chain_b AND v.idx = p.vidx
),
acc AS MATERIALIZED (
  SELECT chain_a, slot,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(x ORDER BY chain_b, fstep)),
                     (a, b) -> a + b) AS ax,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(y ORDER BY chain_b, fstep)),
                     (a, b) -> a + b) AS ay,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list(z ORDER BY chain_b, fstep)),
                     (a, b) -> a + b) AS az
  FROM contrib GROUP BY chain_a, slot
)
SELECT ({group_expr.replace('chain_id', 'chain_a')}) AS group_id,
       CAST(slot AS BIGINT) AS seq,
       ax / sqrt(CAST((ax*ax + ay*ay) + az*az AS DOUBLE)) AS x,
       ay / sqrt(CAST((ax*ax + ay*ay) + az*az AS DOUBLE)) AS y,
       az / sqrt(CAST((ax*ax + ay*ay) + az*az AS DOUBLE)) AS z
FROM acc"""
