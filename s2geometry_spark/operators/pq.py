"""Product-quantized ANN (IVF-less ADC) — the memory-bound standard for
billion-vector search (Jegou et al., TPAMI'11: "Product Quantization
for Nearest Neighbor Search").

Builder-brief LLM-pipeline operator (no s2geometry counterpart).  Why
it matters at 100 TB: the coarse scan reads M small integer CODES per
vector (here 4 longs, and 4 BYTES in a real layout) instead of the
embedding itself — a 64x scan-size reduction over float32x64 — and the
per-query work is a table lookup, not a dot product.  Only the
k*rerank candidates per query ever touch the full-precision column.

Bit-reproducibility (the property every other operator in this repo
holds, and float PQ does not): codebooks are trained per subspace by
the EXACT-INTEGER Lloyd recipe of operators/kmeans — embeddings
quantized once to the 2^20 fixed-point grid, assignment = exact int64
squared L2 with argmin ties to the lowest centroid, update =
order-independent integer sums re-quantized as floor(sum/n), empty
cluster keeps its centroid.  The ADC distance is an exact int64 sum of
per-subspace lookup entries.  Codes, candidates and the final ranking
are therefore identical on local[2]/local[32]/1000 executors, and the
DuckDB oracle replays the WHOLE pipeline (training included) in plain
SQL.

Distributed shape per Lloyd round: one embarrassingly-parallel Arrow
assignment pass (codebooks ship in the closure: M*K*sub ints) + one
hash aggregation returning <= M*K*dim/M rows to the driver — the same
O(1)-driver-state contract as kmeans_assign.  The ADC scan streams the
narrow codes frame once; candidates are trimmed by a per-query window
and only then joined back to the embeddings.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import map_batches
from .ann import cosine_expr, dot_sql, norm_sql
from .kmeans import KMEANS_INIT_STRIDE, KMEANS_Q, _quantized

#: subspaces / centroids-per-subspace / Lloyd rounds of the query ops
PQ_M = 4
PQ_K = 8
PQ_ITERS = 1

_MAX_QUERIES = 100_000


def _init_codebooks(qvecs: DataFrame, m: int, kc: int) -> np.ndarray:
    """(m, kc, sub) int64 codebooks seeded from the shared init rule:
    every-KMEANS_INIT_STRIDE-th vec_id, first kc in id order — the same
    ROWS for every subspace, sliced."""
    rows = (
        qvecs.where(F.col("vec_id") % KMEANS_INIT_STRIDE == 0)
        .orderBy("vec_id")
        .limit(kc)
        .collect()
    )
    C = np.array([list(r.a) for r in rows], dtype=np.int64)
    dim = C.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by {m} subspaces")
    sub = dim // m
    return np.stack([C[:, i * sub : (i + 1) * sub] for i in range(m)])


def _assign_codes(qvecs: DataFrame, C: np.ndarray) -> DataFrame:
    """(vec_id, c0..c{M-1}): per-subspace nearest centroid — one Arrow
    pass, exact int64 distances, first-argmin = lowest centroid."""
    m, _, sub = C.shape
    schema = "vec_id long, " + ", ".join(f"c{j} long" for j in range(m))

    def codes_of(pdf):
        A = np.array(pdf["a"].tolist(), dtype=np.int64)
        out = {"vec_id": pdf["vec_id"].astype("int64")}
        for j in range(m):
            S = A[:, j * sub : (j + 1) * sub]
            D = ((S[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
            out[f"c{j}"] = np.argmin(D, axis=1).astype(np.int64)
        return pd.DataFrame(out)

    return map_batches(qvecs, codes_of, schema)


def _update_codebooks(
    qvecs: DataFrame, codes: DataFrame, C: np.ndarray
) -> np.ndarray:
    """One Lloyd round for all subspaces in ONE shuffle: explode dims,
    route each dim to its subspace's assigned centroid, exact integer
    sums, floor(sum/n) re-quantize; empty centroid keeps its value."""
    m, _, sub = C.shape
    cl_arr = F.array(*[F.col(f"c{j}") for j in range(m)])
    ex = (
        codes.join(qvecs, "vec_id")
        .select(*[f"c{j}" for j in range(m)], F.posexplode("a").alias("i", "x"))
        .withColumn("m", (F.col("i") / sub).cast("int"))
        .withColumn("cl", F.element_at(cl_arr, F.col("m") + 1))
        .groupBy("m", "cl", "i")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    Cn = C.copy()
    for r in ex:
        Cn[r.m, r.cl, r.i - r.m * sub] = math.floor(float(r.s) / float(r.n))
    return Cn


def train_codebooks(
    vectors: DataFrame, m: int = PQ_M, kc: int = PQ_K, iters: int = PQ_ITERS
) -> np.ndarray:
    qvecs = _quantized(vectors).persist()
    C = _init_codebooks(qvecs, m, kc)
    for _ in range(iters):
        C = _update_codebooks(qvecs, _assign_codes(qvecs, C), C)
    return C


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 4,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ-ADC top-k: train codebooks, encode the corpus, scan the CODES
    with per-query int64 lookup tables, exact-cosine rerank of the
    k*rerank survivors.  Returns (qid, rank, vec_id, cosine, d2_pq):
    the exact-cosine ranking with the coarse ADC distance carried for
    audit."""
    spark = vectors.sparkSession
    qvecs = _quantized(vectors).persist()
    C = _init_codebooks(qvecs, m, kc)
    for _ in range(iters):
        C = _update_codebooks(qvecs, _assign_codes(qvecs, C), C)
    codes = _assign_codes(qvecs, C)

    q_rows = queries.limit(_MAX_QUERIES + 1).collect()
    if len(q_rows) > _MAX_QUERIES:
        raise ValueError(
            f"pq_topk: query side exceeds {_MAX_QUERIES} rows; "
            "route queries through an IVF bucketing first"
        )
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Qf = np.array([list(r.q_embedding) for r in q_rows], dtype=np.float64)
    Qq = np.floor(Qf * float(KMEANS_Q) + 0.5).astype(np.int64)
    sub = C.shape[2]
    # LUT[j]: (n_q, kc) exact int64 subspace distances
    LUT = np.stack(
        [
            (
                (Qq[:, j * sub : (j + 1) * sub][:, None, :] - C[j][None, :, :])
                ** 2
            ).sum(axis=2)
            for j in range(m)
        ]
    )
    bq = spark.sparkContext.broadcast((qids, LUT))
    n_cand = k * rerank

    def scan(pdf):
        qid_arr, lut = bq.value
        vids = pdf["vec_id"].to_numpy(np.int64)
        D = np.zeros((len(qid_arr), len(vids)), dtype=np.int64)
        for j in range(lut.shape[0]):
            D += lut[j][:, pdf[f"c{j}"].to_numpy(np.int64)]
        out_q, out_v, out_d = [], [], []
        for qi in range(len(qid_arr)):
            mask = vids != qid_arr[qi]
            vv, dd = vids[mask], D[qi][mask]
            if vv.size == 0:
                continue
            take = min(n_cand, vv.size)
            order = np.lexsort((vv, dd))[:take]
            out_q.extend([qid_arr[qi]] * take)
            out_v.extend(vv[order].tolist())
            out_d.extend(dd[order].tolist())
        return pd.DataFrame(
            {"qid": out_q, "vec_id": out_v, "d2_pq": out_d}
        )

    cand = map_batches(codes, scan, "qid long, vec_id long, d2_pq long")
    wq = Window.partitionBy("qid").orderBy(
        F.col("d2_pq").asc(), F.col("vec_id").asc()
    )
    trimmed = (
        cand.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= n_cand)
        .drop("_r")
    )
    refined = (
        trimmed.join(F.broadcast(queries), "qid")
        .join(vectors.select("vec_id", "embedding"), "vec_id")
        .select(
            "qid",
            "vec_id",
            "d2_pq",
            cosine_expr(F.col("q_embedding"), F.col("embedding")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "qid",
            F.col("rank").cast("long").alias("rank"),
            "vec_id",
            "cosine",
            "d2_pq",
        )
    )


def pq_topk_oracle_sql(
    k: int = 5,
    rerank: int = 4,
    m: int = PQ_M,
    kc: int = PQ_K,
    iters: int = PQ_ITERS,
    dim: int = 64,
    qfilter: int = 29,
) -> str:
    """DuckDB replay of pq_topk over the embeddings view: identical
    quantize / init / per-subspace Lloyd round(s) / encode / int64 ADC
    / candidate cut / exact-cosine rerank — bit-exact, training
    included."""
    if iters != 1:
        raise NotImplementedError("oracle is written for iters=1")
    sub = dim // m
    qcols = ", ".join(
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * {float(KMEANS_Q)!r}"
        f" + 0.5) AS BIGINT) AS a{i}"
        for i in range(1, dim + 1)
    )
    alist = ", ".join(f"a{i}" for i in range(1, dim + 1))
    parts = [
        f"q AS MATERIALIZED (SELECT vec_id, {qcols} FROM embeddings)",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, {alist}
  FROM (SELECT * FROM q WHERE vec_id % {KMEANS_INIT_STRIDE} = 0
        ORDER BY vec_id LIMIT {kc})
)""",
    ]
    for j in range(m):
        dims = range(j * sub + 1, (j + 1) * sub + 1)
        d2 = " + ".join(f"(q.a{i} - c.a{i}) * (q.a{i} - c.a{i})" for i in dims)
        sums = ", ".join(f"sum(q.a{i}) AS s{i}" for i in dims)
        means = ", ".join(
            f"CASE WHEN g.n IS NULL THEN p.a{i} ELSE CAST(floor("
            f"CAST(g.s{i} AS DOUBLE) / CAST(g.n AS DOUBLE)) AS BIGINT)"
            f" END AS a{i}"
            for i in dims
        )
        d2b = " + ".join(
            f"(q.a{i} - c.a{i}) * (q.a{i} - c.a{i})" for i in dims
        )
        parts.append(
            f"""a0_{j} AS MATERIALIZED (
  SELECT vec_id, cl FROM (
    SELECT q.vec_id, c.cl,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY ({d2}), c.cl)
             AS rn
    FROM q, c0 c
  ) WHERE rn = 1
),
g_{j} AS (
  SELECT cl, count(*) AS n, {sums}
  FROM a0_{j} JOIN q USING (vec_id) GROUP BY cl
),
c1_{j} AS MATERIALIZED (
  SELECT p.cl, {means} FROM c0 p LEFT JOIN g_{j} g USING (cl)
),
code_{j} AS MATERIALIZED (
  SELECT vec_id, cl FROM (
    SELECT q.vec_id, c.cl,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY ({d2b}), c.cl)
             AS rn
    FROM q, c1_{j} c
  ) WHERE rn = 1
)"""
        )
    lut_terms = []
    for j in range(m):
        dims = range(j * sub + 1, (j + 1) * sub + 1)
        ld2 = " + ".join(
            f"(qq.a{i} - c.a{i}) * (qq.a{i} - c.a{i})" for i in dims
        )
        parts.append(
            f"""lut_{j} AS MATERIALIZED (
  SELECT qq.qid, c.cl, ({ld2}) AS ld2
  FROM (SELECT vec_id AS qid, {alist} FROM q
        WHERE vec_id % {qfilter} = 0) qq, c1_{j} c
)"""
        )
        lut_terms.append(f"l{j}.ld2")
    code_joins = "\n  ".join(
        f"JOIN code_{j} k{j} ON k{j}.vec_id = v.vec_id" for j in range(m)
    )
    lut_joins = "\n  ".join(
        f"JOIN lut_{j} l{j} ON l{j}.qid = qs.qid AND l{j}.cl = k{j}.cl"
        for j in range(m)
    )
    n_cand = k * rerank
    dot = dot_sql("q.embedding", "v.embedding", dim)
    nq, nv = norm_sql("q.embedding", dim), norm_sql("v.embedding", dim)
    parts.append(
        f"""pairs AS (
  SELECT qs.qid, v.vec_id, {" + ".join(lut_terms)} AS d2_pq
  FROM (SELECT DISTINCT vec_id AS qid FROM q
        WHERE vec_id % {qfilter} = 0) qs
  CROSS JOIN q v
  {code_joins}
  {lut_joins}
  WHERE v.vec_id <> qs.qid
),
cand AS (
  SELECT qid, vec_id, d2_pq FROM (
    SELECT qid, vec_id, d2_pq,
           row_number() OVER (PARTITION BY qid ORDER BY d2_pq, vec_id) AS r
    FROM pairs
  ) WHERE r <= {n_cand}
)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT qid, rank, vec_id, cosine, d2_pq FROM (
  SELECT c.qid, c.vec_id, c.d2_pq,
         ({dot}) / (({nq}) * ({nv})) AS cosine,
         row_number() OVER (
           PARTITION BY c.qid
           ORDER BY ({dot}) / (({nq}) * ({nv})) DESC, c.vec_id ASC
         ) AS rank
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.qid
  JOIN embeddings v ON v.vec_id = c.vec_id
) WHERE rank <= {k}"""
