"""Per-pair discrete Hausdorff distance: S2HausdorffDistanceQuery
(s2hausdorff_distance_query.h:30-90, s2hausdorff_distance_query.cc) as
distributed dataflow.

The reference defines the *discrete directed* Hausdorff distance from
target geometry A to source geometry B as the maximum, over all VERTICES
of A, of the closest-EDGE distance from the vertex to B (discrete
because the max runs over vertices, not edge midpoints).  The undirected
Hausdorff distance is the max of the two directed distances.  The
query's DirectedResult also carries the achieving target point — here
the achieving vertex index (first-max tie-break).

Dataflow shape: the alignment-join recipe — chains collapsed once to
seq-sorted vertex arrays (one shuffle), pairs inner-joined to both
sides, then one Arrow-batched kernel per pair partition.  Pairs are
independent, so the fan-out is embarrassingly parallel; the explicit
repartition on the pair key stops AQE from coalescing the small pair
list into one compute-bound partition (the loop_pair_distance lesson).

Distances are squared chord ("chord2", S1ChordAngle's internal value):
min/max reductions are order-exact over doubles, and the per-candidate
kernel is the PINNED point_edge_chord2 whose DuckDB twin reproduces
every double bit-for-bit — so the oracle replay is a theorem, not a
tolerance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels.measures import point_edge_chord2, point_edge_chord2_sql
from .alignment import _verts_to_np, chains_as_arrays


def _directed_hausdorff(A: np.ndarray, B: np.ndarray) -> tuple[float, int]:
    """Discrete directed Hausdorff chord2 from A's vertices to B's edges,
    plus the achieving vertex index of A (first max, np.argmax order).
    B must have >= 2 vertices (a polyline, the operator's contract)."""
    n, m = len(A), len(B)
    ii, jj = np.meshgrid(np.arange(n), np.arange(m - 1), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    d = point_edge_chord2(A[ii], B[jj], B[jj + 1]).reshape(n, m - 1)
    per_vertex = d.min(axis=1)
    k = int(np.argmax(per_vertex))
    return float(per_vertex[k]), k


def hausdorff_pairs(
    spark: SparkSession,
    chains: DataFrame,
    pairs: DataFrame,
    chain_col: str = "chain_id",
) -> DataFrame:
    """Per-pair directed + undirected discrete Hausdorff distances.

    chains: (chain_id, seq, x, y, z); pairs: (chain_a, chain_b).  Every
    chain needs >= 2 vertices.  Output one row per pair:
    (chain_a, chain_b, n_a, n_b, directed_ab, a_vertex, directed_ba,
    b_vertex, undirected) — distances are chord2, *_vertex the achieving
    vertex index on the max side (GetDirectedHausdorffDistance's
    target_point, reported as an index).

    At scale: one shuffle builds the vertex arrays, one broadcast-or-hash
    join attaches them to pairs, and the O(n*m) kernels run partition-
    local.  Chain sizes are bounded upstream (salt or subsample long
    chains before calling); skew follows the pair-size product.
    """
    arrs = chains_as_arrays(chains, chain_col)
    n_slices = spark.sparkContext.defaultParallelism * 2
    joined = (
        pairs.select("chain_a", "chain_b")
        .join(
            arrs.select(F.col("chain_id").alias("chain_a"), F.col("verts").alias("va")),
            "chain_a",
        )
        .join(
            arrs.select(F.col("chain_id").alias("chain_b"), F.col("verts").alias("vb")),
            "chain_b",
        )
        .repartition(n_slices, "chain_a", "chain_b")
    )

    def directed(pdf):
        rows = []
        for a, b, va, vb in zip(
            pdf["chain_a"], pdf["chain_b"], pdf["va"], pdf["vb"]
        ):
            A = _verts_to_np(va)
            B = _verts_to_np(vb)
            d_ab, ka = _directed_hausdorff(A, B)
            d_ba, kb = _directed_hausdorff(B, A)
            rows.append(
                (a, b, len(A), len(B), d_ab, ka, d_ba, kb, max(d_ab, d_ba))
            )
        return pd.DataFrame(
            rows,
            columns=[
                "chain_a", "chain_b", "n_a", "n_b",
                "directed_ab", "a_vertex", "directed_ba", "b_vertex",
                "undirected",
            ],
        )

    return map_batches(
        joined,
        directed,
        "chain_a long, chain_b long, n_a long, n_b long, "
        "directed_ab double, a_vertex long, directed_ba double, "
        "b_vertex long, undirected double",
    )


def hausdorff_pairs_oracle_sql(verts_sql: str, pairs_sql: str) -> str:
    """DuckDB replay of hausdorff_pairs: vertex x edge cross join per
    pair and direction, the pinned point_edge_chord2 twin, exact
    min-per-vertex then max-over-vertices with the first-max (vertex
    index ascending) tie-break.  ``verts_sql`` yields
    (chain_id, seq, x, y, z); ``pairs_sql`` yields (chain_a, chain_b)."""
    d_ab = point_edge_chord2_sql("p", "e0", "e1")
    return f"""
WITH vsrc AS MATERIALIZED ({verts_sql}),
verts AS MATERIALIZED (
  SELECT chain_id,
         row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS vi,
         x, y, z
  FROM vsrc
),
cnt AS (SELECT chain_id, count(*) AS n FROM verts GROUP BY chain_id),
pairs AS MATERIALIZED ({pairs_sql}),
-- both directions as (pair, dir, point-chain, edge-chain) rows
dirs AS (
  SELECT chain_a, chain_b, 0 AS dir, chain_a AS pc, chain_b AS ec FROM pairs
  UNION ALL
  SELECT chain_a, chain_b, 1 AS dir, chain_b AS pc, chain_a AS ec FROM pairs
),
edges AS MATERIALIZED (
  SELECT v0.chain_id, v0.vi AS j,
         v0.x AS e0x, v0.y AS e0y, v0.z AS e0z,
         v1.x AS e1x, v1.y AS e1y, v1.z AS e1z
  FROM verts v0
  JOIN verts v1 ON v1.chain_id = v0.chain_id AND v1.vi = v0.vi + 1
),
cand AS MATERIALIZED (
  SELECT d.chain_a, d.chain_b, d.dir, p.vi,
         min({d_ab}) AS dmin
  FROM dirs d
  JOIN (SELECT chain_id, vi, x AS px, y AS py, z AS pz FROM verts) p
    ON p.chain_id = d.pc
  JOIN edges e ON e.chain_id = d.ec
  GROUP BY d.chain_a, d.chain_b, d.dir, p.vi
),
best AS (
  SELECT chain_a, chain_b, dir, dmin, vi,
         row_number() OVER (
           PARTITION BY chain_a, chain_b, dir ORDER BY dmin DESC, vi
         ) AS rnk
  FROM cand
)
SELECT ab.chain_a, ab.chain_b,
       CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
       ab.dmin AS directed_ab, CAST(ab.vi AS BIGINT) AS a_vertex,
       ba.dmin AS directed_ba, CAST(ba.vi AS BIGINT) AS b_vertex,
       greatest(ab.dmin, ba.dmin) AS undirected
FROM best ab
JOIN best ba ON ba.chain_a = ab.chain_a AND ba.chain_b = ab.chain_b
            AND ba.dir = 1 AND ba.rnk = 1
JOIN cnt ca ON ca.chain_id = ab.chain_a
JOIN cnt cb ON cb.chain_id = ab.chain_b
WHERE ab.dir = 0 AND ab.rnk = 1
ORDER BY ab.chain_a, ab.chain_b"""
