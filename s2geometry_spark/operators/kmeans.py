"""Bit-reproducible distributed k-means over embedding columns.

The curation use: cluster the corpus embedding space, then sample /
balance / diagnose per cluster (semantic dedup's coarse stage, data-mix
balancing, topic pruning).  Reference scope: this is a builder-brief
LLM-pipeline operator (no s2geometry counterpart); the distributed
shape follows the classic Lloyd-on-MapReduce decomposition (assignment
is embarrassingly parallel, the update is one hash aggregation per
round with a k x d result).

Why this is NOT textbook float k-means: float sums are order-dependent,
so a naive distributed Lloyd produces different centroids under
different partitionings / AQE re-plans / cluster sizes — unacceptable
both for reproducible curation and for this repo's bit-exact DuckDB
oracle gate.  Instead the embeddings are quantized ONCE to a fixed-point
grid (Q = 2^20 per unit), and from there the whole algorithm is exact
integer arithmetic:

* assignment: squared L2 distance of int64 vectors — exact int64
  (|x| <= ~2^21 per coordinate, d = 64 -> d2 < 2^48, no overflow);
  argmin ties break to the lowest cluster index on both engines.
* update: per-(cluster, dim) SUM of int64 — exact and COMMUTATIVE, so
  any partitioning/shuffle order gives the identical centroid; the new
  centroid re-quantizes as floor(sum / n) in double (exactly-rounded
  IEEE division + floor, deterministic on JVM, NumPy and DuckDB alike).

Result: identical clusters on local[2], local[32], or 1000 executors —
the property that makes k-means usable as a *deterministic pipeline
stage* at 100 TB — and a plain-SQL oracle with no ordered folds, no
lambdas, no recursive CTEs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import map_batches

#: fixed-point scale: 2^20 grid units per 1.0 of embedding value
KMEANS_Q = 1 << 20
#: init rule shared with ivf_topk: every-97th vec_id, first k in id order
KMEANS_INIT_STRIDE = 97


def _quantized(vectors: DataFrame) -> DataFrame:
    """(vec_id, a): embedding quantized to int64 grid units.  floor(x*Q
    + 0.5) — IEEE multiply/add/floor, bit-identical on JVM and DuckDB."""
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * float(KMEANS_Q) + 0.5).cast("long"),
    )
    return vectors.select("vec_id", q.alias("a"))


def _init_centroids(qvecs: DataFrame, k: int) -> np.ndarray:
    rows = (
        qvecs.where(F.col("vec_id") % KMEANS_INIT_STRIDE == 0)
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    return np.array([list(r.a) for r in rows], dtype=np.int64)


def _assign(qvecs: DataFrame, C: np.ndarray, with_d2: bool) -> DataFrame:
    """Nearest-centroid assignment — one Arrow-batched NumPy pass, the
    centroid matrix ships in the closure (k x d ints; never a join)."""
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [
        StructField("vec_id", LongType(), False),
        StructField("cluster", LongType(), False),
    ]
    if with_d2:
        fields.append(StructField("d2", LongType(), False))
    schema = StructType(fields)

    def assign(pdf):
        A = np.array(pdf["a"].tolist(), dtype=np.int64)
        # exact integer squared distances; argmin returns the FIRST
        # minimum = lowest cluster index, matching ORDER BY d2, cl
        D = ((A[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cl = np.argmin(D, axis=1)
        out = {"vec_id": pdf["vec_id"].astype("int64"), "cluster": cl}
        if with_d2:
            out["d2"] = D[np.arange(len(A)), cl]
        return pd.DataFrame(out)

    return map_batches(qvecs, assign, schema)


def _update(qvecs: DataFrame, assigned: DataFrame, C_prev: np.ndarray) -> np.ndarray:
    """One Lloyd update: exact int64 per-(cluster, dim) sums (one hash-agg
    shuffle, k*d result rows), re-quantized as floor(sum/n); an empty
    cluster keeps its previous centroid."""
    ex = (
        assigned.join(qvecs, "vec_id")
        .select("cluster", F.posexplode("a").alias("i", "x"))
        .groupBy("cluster", "i")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    C = C_prev.copy()
    for r in ex:
        C[r.cluster, r.i] = math.floor(float(r.s) / float(r.n))
    return C


def kmeans_assign(vectors: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """(vec_id, cluster, d2): Lloyd k-means assignment after ``iters``
    exact-integer centroid updates.  d2 is the squared L2 distance in
    grid units^2 (BIGINT — no floats anywhere in the algorithm).

    Scale shape: per iteration, one embarrassingly-parallel assignment
    pass (centroids broadcast in-closure) plus one hash aggregation
    whose output is k x d rows — the only driver state is the k x d
    centroid matrix, which is O(1) in the corpus.  Integer sums make the
    result invariant to partition count and shuffle order.
    """
    qvecs = _quantized(vectors)
    if iters > 0:
        qvecs = qvecs.persist()
    C = _init_centroids(qvecs, k)
    for _ in range(iters):
        C = _update(qvecs, _assign(qvecs, C, with_d2=False), C)
    out = _assign(qvecs, C, with_d2=True)
    return out


def kmeans_oracle_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """DuckDB replay of kmeans_assign: the identical quantize / assign /
    integer-mean CTE chain, unrolled over ``dim`` (no lambdas, no
    ordered folds — every aggregate is an order-independent integer
    sum)."""
    qcols = ", ".join(
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * {float(KMEANS_Q)!r} + 0.5)"
        f" AS BIGINT) AS a{i}"
        for i in range(1, dim + 1)
    )
    alist = ", ".join(f"a{i}" for i in range(1, dim + 1))
    parts = [
        f"q AS MATERIALIZED (SELECT vec_id, {qcols} FROM embeddings)",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, {alist}
  FROM (SELECT * FROM q WHERE vec_id % {KMEANS_INIT_STRIDE} = 0
        ORDER BY vec_id LIMIT {k})
)""",
    ]
    prev = "c0"
    for t in range(iters + 1):
        d2 = " + ".join(
            f"(q.a{i} - c.a{i}) * (q.a{i} - c.a{i})" for i in range(1, dim + 1)
        )
        assign = f"""t{t} AS (
  SELECT vec_id, cl, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
  FROM (SELECT q.vec_id, c.cl, {d2} AS d2
        FROM q, (SELECT * FROM {prev}) c)
),
a{t} AS MATERIALIZED (SELECT vec_id, cl, d2 FROM t{t} WHERE rn = 1)"""
        parts.append(assign)
        if t == iters:
            break
        sums = ", ".join(f"sum(q.a{i}) AS s{i}" for i in range(1, dim + 1))
        means = ", ".join(
            f"CASE WHEN m.n IS NULL THEN p.a{i} ELSE CAST(floor("
            f"CAST(m.s{i} AS DOUBLE) / CAST(m.n AS DOUBLE)) AS BIGINT)"
            f" END AS a{i}"
            for i in range(1, dim + 1)
        )
        parts.append(
            f"""m{t} AS (
  SELECT cl, count(*) AS n, {sums}
  FROM a{t} JOIN q USING (vec_id) GROUP BY cl
),
c{t + 1} AS (
  SELECT p.cl, {means}
  FROM {prev} p LEFT JOIN m{t} m USING (cl)
)"""
        )
        prev = f"c{t + 1}"
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT vec_id, cl AS cluster, d2 FROM a{iters}
"""


def kmeans_sample(
    vectors: DataFrame, k: int = 8, iters: int = 2, per_cluster: int = 10
) -> DataFrame:
    """Cluster-balanced subset selection: the ``per_cluster`` vectors
    closest to each centroid (ties broken by vec_id) — the standard
    diversity-preserving downsample a curation pipeline takes after
    clustering (cap each semantic region instead of letting the head
    cluster dominate the mix).

    One window over the assignment keyed by cluster — the rank runs
    per-cluster (k partitions), never a global sort; with the integer d2
    the selection is bit-reproducible like the assignment itself.
    """
    from pyspark.sql import Window

    assigned = kmeans_assign(vectors, k=k, iters=iters)
    w = Window.partitionBy("cluster").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= per_cluster)
        .select("vec_id", "cluster", "d2", "rank")
    )


def kmeans_sample_oracle_sql(
    k: int = 8, iters: int = 2, per_cluster: int = 10, dim: int = 64
) -> str:
    base = kmeans_oracle_sql(k=k, iters=iters, dim=dim)
    return f"""
WITH asg AS MATERIALIZED ({base}),
rk AS (
  SELECT vec_id, cluster, d2,
         row_number() OVER (PARTITION BY cluster ORDER BY d2 ASC, vec_id ASC)
           AS rank
  FROM asg
)
SELECT vec_id, cluster, d2, rank FROM rk WHERE rank <= {per_cluster}
"""


def semdedup_pairs(
    vectors: DataFrame, k: int = 8, iters: int = 2, tau: float = 0.35
) -> DataFrame:
    """Semantic deduplication candidate pairs (SemDeDup, Abbas et al.
    2023): cluster the embedding space with the bit-reproducible k-means,
    then emit every WITHIN-CLUSTER pair with cosine similarity >= ``tau``
    — the standard way to make O(n^2) semantic dedup tractable: k scales
    with the corpus so cluster populations stay bounded, and the
    quadratic pair scan runs only inside each cluster (one cogrouped
    Arrow pass per cluster), never across the corpus.

    Output: (vec_a, vec_b, cluster, cosine), vec_a < vec_b.  The cosine
    is the pinned dimension-order fold (matching ann.dot_sql /
    norm_sql), so the DuckDB oracle — the k-means CTE chain composed
    with an unrolled pair join — matches bit-for-bit.  Cross-cluster
    near-duplicates are the recall tradeoff SemDeDup accepts by design;
    audit with ann.ivf_recall_audit-style sampling if required.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from .ann import _fold_dots, _fold_norms

    asg = kmeans_assign(vectors, k=k, iters=iters).select("vec_id", "cluster")
    ve = vectors.join(asg, "vec_id").select("vec_id", "embedding", "cluster")

    schema = StructType(
        [
            StructField("vec_a", LongType(), False),
            StructField("vec_b", LongType(), False),
            StructField("cluster", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def pairs(kv, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame()
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        A = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        dots = _fold_dots(A, A)
        nrm = _fold_norms(A)
        cos = dots / (nrm[:, None] * nrm[None, :])
        ia, ib = np.triu_indices(len(ids), 1)
        keep = cos[ia, ib] >= tau
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cluster": np.full(int(keep.sum()), kv[0], dtype=np.int64),
                "cosine": cos[ia[keep], ib[keep]],
            }
        )

    return ve.groupBy("cluster").applyInPandas(pairs, schema)


def semdedup_oracle_sql(
    k: int = 8, iters: int = 2, tau: float = 0.35, dim: int = 64
) -> str:
    """DuckDB replay: the k-means assignment CTE composed with an
    unrolled within-cluster pair join (pinned fold-order dot and norms,
    ann.dot_sql / norm_sql)."""
    from .ann import dot_sql, norm_sql

    base = kmeans_oracle_sql(k=k, iters=iters, dim=dim)
    dot = dot_sql("ea.embedding", "eb.embedding", dim)
    na = norm_sql("ea.embedding", dim)
    nb = norm_sql("eb.embedding", dim)
    return f"""
WITH asg AS MATERIALIZED ({base}),
cand AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cluster AS cluster,
         ({dot}) / (({na}) * ({nb})) AS cosine
  FROM asg x
  JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN embeddings ea ON ea.vec_id = x.vec_id
  JOIN embeddings eb ON eb.vec_id = y.vec_id
)
SELECT vec_a, vec_b, cluster, cosine
FROM cand WHERE cosine >= CAST({tau!r} AS DOUBLE)
"""
