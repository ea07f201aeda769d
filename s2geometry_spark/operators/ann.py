"""Similarity search over an embedding column (array<float>).

* cosine_topk_bruteforce — exact top-k: broadcast the (small) query set,
  cross join, JVM-side zip_with/aggregate dot products (no Python), window
  top-k.  The correctness baseline with a bit-exact SQL oracle.
* cosine_topk_lsh        — random-hyperplane LSH: candidates share a
  signature-band bucket; exact refinement on candidates.  The 100-TB
  path: cost O(rows x bands) instead of O(rows x queries).
* ivf_topk               — IVF-style: coarse centroids (deterministic
  sample), route every vector to its nearest centroid (one pass), probe
  the top-`nprobe` centroid lists per query.

Floating-point discipline: every dot/norm folds LEFT-TO-RIGHT over
double-cast elements, so Spark's aggregate() and an explicit left-assoc
SQL sum produce bit-identical doubles (both are sequences of correctly
rounded IEEE ops in the same order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import map_batches


DIM = 64  # embeddings table vector width


def _dot(a: Column, b: Column) -> Column:
    """Fold-order dot product (interpreted higher-order fn).

    Fine for SMALL candidate sets (LSH/IVF refinement): no codegen
    compile cost, per-element interpretation is cheap at 10^4-10^5 rows.
    The heavy brute-force paths use the NumPy fold kernels below instead
    (same fold order, vectorized across rows).  An unrolled 64-term
    column expression was tried and is WORSE here: janino compilation of
    the giant expression dominates at these row counts.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# ---------- NumPy fold kernels (bit-identical to the SQL fold) ----------


def _np_mat(series) -> "np.ndarray":
    import numpy as np

    return np.array(series.tolist(), dtype=np.float64)


def _fold_dots(A, B):
    """(n,d) x (m,d) -> (n,m) dots accumulated IN DIMENSION ORDER — the
    same ((t1+t2)+t3)... sequence per pair as the SQL oracle's left-assoc
    sum, just vectorized across pairs."""
    acc = A[:, 0][:, None] * B[None, :, 0]
    for i in range(1, A.shape[1]):
        acc = acc + A[:, i][:, None] * B[None, :, i]
    return acc


def _fold_norms(A):
    import numpy as np

    acc = A[:, 0] * A[:, 0]
    for i in range(1, A.shape[1]):
        acc = acc + A[:, i] * A[:, i]
    return np.sqrt(acc)


def dot_sql(a: str, b: str, dim: int) -> str:
    """Left-assoc unrolled SQL dot product (bit-identical to _dot after
    the leading 0.0 + t1 fold step, since 0.0 + x == x exactly)."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )


def norm_sql(a: str, dim: int) -> str:
    sq = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"sqrt({sq})"


def cosine_topk_bruteforce(
    vectors: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    vectors: (vec_id, embedding); queries: (qid, q_embedding).
    Returns (qid, rank, vec_id, cosine); self-matches (qid == vec_id)
    excluded.  The (small-by-contract) query matrix ships in the UDF
    closure; the big side streams once through an Arrow-batched NumPy
    block-cosine kernel emitting per-batch top-k candidates, and one
    tiny window refines the global top-k — no shuffle of the fact table,
    no pair materialization.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    import numpy as np

    # Loud row cap instead of a silent driver OOM: the query matrix ships to
    # executors via a torrent broadcast, so it must actually be small.
    MAX_QUERIES = 100_000
    q_rows = queries.limit(MAX_QUERIES + 1).collect()
    if len(q_rows) > MAX_QUERIES:
        raise ValueError(
            f"cosine_topk_bruteforce: query side exceeds {MAX_QUERIES} rows; "
            "use cosine_topk_lsh / ivf_topk for a large query table"
        )
    qids = [r.qid for r in q_rows]
    Q = np.array([list(r.q_embedding) for r in q_rows], dtype=np.float64)
    qn = _fold_norms(Q)
    sc = vectors.sparkSession.sparkContext
    bq = sc.broadcast((np.array(qids, dtype=np.int64), Q, qn))

    schema = StructType(
        [
            StructField("qid", LongType(), False),
            StructField("vec_id", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def topk_cands(pdf):
        qid_arr, Q, qn = bq.value
        A = _np_mat(pdf["embedding"])
        an = _fold_norms(A)
        # cosine = dot / (nq * nv): the qn*an product order matches the
        # oracle (IEEE multiply is commutative, so nq*nv == nv*nq bitwise)
        C = _fold_dots(A, Q) / (an[:, None] * qn[None, :])
        vids = pdf["vec_id"].to_numpy(np.int64)
        # per-batch per-query top-k candidates (global top-k refined after)
        out_q, out_v, out_c = [], [], []
        for j in range(C.shape[1]):
            col = C[:, j]
            mask = vids != qid_arr[j]
            vv, cc = vids[mask], col[mask]
            if vv.size == 0:
                continue
            take = min(k, vv.size)
            # smallest-k by (-cosine, vec_id)
            order = np.lexsort((vv, -cc))[:take]
            out_q.extend([qid_arr[j]] * take)
            out_v.extend(vv[order].tolist())
            out_c.extend(cc[order].tolist())
        return pd.DataFrame({"qid": out_q, "vec_id": out_v, "cosine": out_c})

    cand = map_batches(vectors.select("vec_id", "embedding"), topk_cands, schema)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")
    )


def embedding_near_dup(
    vectors: DataFrame, tau: float = 0.9, n_blocks: int = 8
) -> DataFrame:
    """All pairs (vec_a < vec_b) with cosine >= tau — EXACT, fully
    distributed block-pair self-join (the classic all-pairs triangle
    decomposition): each vector hashes to one of ``n_blocks`` blocks; every
    unordered block pair (i <= j) is one cogroup task computing a dense
    (|Bi| x |Bj|) fold-order cosine tile in NumPy.  Replication is
    ~n_blocks/2 copies per side — no driver collect, no O(n^2) pair rows in
    the JVM, and the O(n^2) flop cost is spread over n_blocks*(n_blocks+1)/2
    independent tasks.  Raise ``n_blocks`` with the table (tile memory is
    (n/n_blocks)^2 doubles); minhash/simhash/LSH remain the sub-quadratic
    candidate-generation paths when exactness isn't required.
    """
    import pandas as pd

    nb = F.lit(n_blocks)
    base = vectors.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64(F.col("vec_id")), nb).cast("int").alias("_blk"),
    )
    # A-side of tile (i, j): vectors of block i, for every j >= i.
    a_side = base.select(
        "vec_id",
        "embedding",
        F.col("_blk").alias("_bi"),
        F.explode(F.sequence(F.col("_blk"), nb - 1)).alias("_bj"),
    )
    # B-side of tile (i, j): vectors of block j, for every i <= j.
    b_side = base.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("embedding_b"),
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_bi"),
        F.col("_blk").alias("_bj"),
    )

    def tile(key, apdf: pd.DataFrame, bpdf: pd.DataFrame):
        if len(apdf) == 0 or len(bpdf) == 0:
            return pd.DataFrame()
        A = _np_mat(apdf["embedding"])
        B = _np_mat(bpdf["embedding_b"])
        aid = apdf["vec_id"].to_numpy(np.int64)
        bid = bpdf["vec_id_b"].to_numpy(np.int64)
        C = _fold_dots(A, B) / (_fold_norms(A)[:, None] * _fold_norms(B)[None, :])
        if key[0] == key[1]:
            # diagonal tile: every unordered pair appears twice (both
            # orderings across the A/B copies) — keep one, drop self-pairs
            keep = aid[:, None] < bid[None, :]
        else:
            # off-diagonal tile: each unordered pair appears exactly ONCE
            # (the lower block is always the A side), with either id order
            keep = np.ones_like(C, dtype=bool)
        ii, jj = np.nonzero((C >= tau) & keep)
        if ii.size == 0:
            return pd.DataFrame()
        lo = np.minimum(aid[ii], bid[jj])
        hi = np.maximum(aid[ii], bid[jj])
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": C[ii, jj]})

    return (
        a_side.groupBy("_bi", "_bj")
        .cogroup(b_side.groupBy("_bi", "_bj"))
        .applyInPandas(tile, "vec_a long, vec_b long, cosine double")
    )


# ---------- LSH (random hyperplanes) ----------


def _hyperplanes(dim: int, nbits: int, seed: int = 1234) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from splitmix64 (driver-side
    constants, broadcast via literals)."""
    import numpy as np

    from ..kernels.geotag import splitmix64

    idx = np.arange(dim * nbits, dtype=np.uint64) + np.uint64(seed) * np.uint64(
        0x9E3779B9
    )
    u = (splitmix64(idx) >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))
    g = np.sqrt(-2.0 * np.log(np.clip(u, 1e-300, None))) * np.cos(
        2.0 * np.pi * (splitmix64(idx + np.uint64(77)) >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))
    )
    return g.reshape(nbits, dim).tolist()


def signature_udf(planes: list[list[float]]):
    """LSH signature as an Arrow-batched NumPy kernel: one long per row,
    bit i = sign(dot(emb, plane_i)).  The dot accumulates in DIMENSION
    ORDER (fold kernel, not BLAS) so the sign of a near-zero projection —
    and therefore the signature — is bit-reproducible by the left-assoc
    SQL oracle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    P = np.asarray(planes, dtype=np.float64)

    @pandas_udf(LongType())
    def sig(emb: pd.Series) -> pd.Series:
        A = np.array(emb.tolist(), dtype=np.float64)
        bits = (_fold_dots(A, P) > 0).astype(np.uint64)
        weights = np.uint64(1) << np.arange(P.shape[0], dtype=np.uint64)
        return pd.Series((bits * weights[None, :]).sum(axis=1).astype(np.int64))

    return sig


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 16,
    bands: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates agree with the query on >= 1 signature
    band; exact cosine refinement + window top-k on candidates only."""
    planes = _hyperplanes(dim, nbits)
    rows_per_band = nbits // bands
    mask = (1 << rows_per_band) - 1

    def banded(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
        d = df.withColumn("_sig", signature_udf(planes)(F.col(emb_col)))
        return d.select(
            id_col,
            emb_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.shiftright(F.col("_sig"), bi * rows_per_band)
                            .bitwiseAND(F.lit(mask))
                            .alias("bucket"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("b"),
        ).select(id_col, emb_col, "b.band", "b.bucket")

    v_b = banded(vectors, "vec_id", "embedding")
    q_b = banded(queries, "qid", "q_embedding")
    cand = (
        v_b.join(F.broadcast(q_b), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("qid"))
        .dropDuplicates(["qid", "vec_id"])
    )
    scored = cand.select(
        "qid",
        "vec_id",
        cosine_expr(F.col("q_embedding"), F.col("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")
    )


def _plane_lit(x: float) -> str:
    """Exponent-form literal: DuckDB types bare decimals as DECIMAL (which
    rounds differently from IEEE double); %.17e round-trips exactly and is
    typed DOUBLE."""
    return "%.17e" % x


def lsh_topk_oracle_sql(
    k: int = 5,
    nbits: int = 16,
    bands: int = 4,
    dim: int = 64,
    qfilter: int = 29,
) -> str:
    """DuckDB oracle for cosine_topk_lsh: recomputes the IDENTICAL
    algorithm — fold-order hyperplane projections (plane coefficients as
    exact double literals), banded buckets, exact cosine refinement,
    window top-k — so the match is bit-exact, not a recall bound."""
    planes = _hyperplanes(dim, nbits)
    rows_per_band = nbits // bands

    def bit_sql(col: str, plane: list[float]) -> str:
        dot = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * {_plane_lit(plane[i])}"
            for i in range(dim)
        )
        return f"(CASE WHEN ({dot}) > 0 THEN 1 ELSE 0 END)"

    def bucket_sql(col: str, bi: int) -> str:
        return " + ".join(
            f"{bit_sql(col, planes[bi * rows_per_band + r])} * {1 << r}"
            for r in range(rows_per_band)
        )

    v_buckets = ", ".join(
        f"({bucket_sql('embedding', bi)}) AS b{bi}" for bi in range(bands)
    )
    v_bands = " UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, b{bi} AS bucket FROM sigv"
        for bi in range(bands)
    )
    q_bands = " UNION ALL ".join(
        f"SELECT qid, {bi} AS band, b{bi} AS bucket FROM sigq"
        for bi in range(bands)
    )
    dot = dot_sql("q.embedding", "v.embedding", dim)
    nq, nv = norm_sql("q.embedding", dim), norm_sql("v.embedding", dim)
    return f"""
WITH sigv AS (SELECT vec_id, {v_buckets} FROM embeddings),
sigq AS (SELECT vec_id AS qid, {v_buckets} FROM embeddings
         WHERE vec_id % {qfilter} = 0),
vb AS ({v_bands}),
qb AS ({q_bands}),
cand AS (
  SELECT DISTINCT a.qid, b.vec_id
  FROM qb a JOIN vb b USING (band, bucket)
  WHERE b.vec_id <> a.qid
)
SELECT qid, rank, vec_id, cosine FROM (
  SELECT c.qid, c.vec_id,
         ({dot}) / (({nq}) * ({nv})) AS cosine,
         row_number() OVER (
           PARTITION BY c.qid
           ORDER BY ({dot}) / (({nq}) * ({nv})) DESC, c.vec_id ASC
         ) AS rank
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.qid
  JOIN embeddings v ON v.vec_id = c.vec_id
) WHERE rank <= {k}"""


def ivf_topk_oracle_sql(
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    qfilter: int = 29,
) -> str:
    """DuckDB oracle for ivf_topk: identical centroid rule (every 97th
    id), identical fold-order routing cosine with (cosine DESC, cid ASC)
    tie-break, identical refinement."""
    route_dot = dot_sql("v.embedding", "c.c_emb", dim)
    route_nv, route_nc = norm_sql("v.embedding", dim), norm_sql("c.c_emb", dim)
    route_cos = f"({route_dot}) / (({route_nv}) * ({route_nc}))"
    dot = dot_sql("q.embedding", "v.embedding", dim)
    nq, nv = norm_sql("q.embedding", dim), norm_sql("v.embedding", dim)
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings
  WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT {n_centroids}
),
vroute AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id ORDER BY {route_cos} DESC, c.cid ASC
           ) AS rn
    FROM embeddings v CROSS JOIN cent c
  ) WHERE rn = 1
),
qroute AS (
  SELECT qid, cid FROM (
    SELECT v.vec_id AS qid, c.cid,
           row_number() OVER (
             PARTITION BY v.vec_id ORDER BY {route_cos} DESC, c.cid ASC
           ) AS rn
    FROM embeddings v CROSS JOIN cent c
    WHERE v.vec_id % {qfilter} = 0
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT q.qid, v.vec_id
  FROM qroute q JOIN vroute v USING (cid)
  WHERE v.vec_id <> q.qid
)
SELECT qid, rank, vec_id, cosine FROM (
  SELECT c.qid, c.vec_id,
         ({dot}) / (({nq}) * ({nv})) AS cosine,
         row_number() OVER (
           PARTITION BY c.qid
           ORDER BY ({dot}) / (({nq}) * ({nv})) DESC, c.vec_id ASC
         ) AS rank
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.qid
  JOIN embeddings v ON v.vec_id = c.vec_id
) WHERE rank <= {k}"""


# ---------- IVF-style coarse quantizer ----------


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF: deterministic coarse centroids (every m-th vector), route each
    vector to its nearest centroid (broadcast argmax — one scan), probe the
    nprobe nearest centroid lists per query.  Approximate; recall grows
    with nprobe (nprobe == n_centroids is exact).  Centroid selection is
    the portable every-97th-id rule so the DuckDB oracle picks the
    identical set."""
    cent_rows = (
        vectors.where(F.col("vec_id") % 97 == 0)
        .orderBy("vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
        .collect()
    )
    C = np.array([list(r.c_emb) for r in cent_rows], dtype=np.float64)
    cids = np.array([r.cid for r in cent_rows], dtype=np.int64)
    cn = _fold_norms(C)

    def route(df: DataFrame, emb_col: str, out: str, topn: int) -> DataFrame:
        """Assign each row its top-`topn` centroids — one Arrow-batched
        NumPy pass (the centroid matrix ships in the closure), no
        crossJoin/window."""
        from pyspark.sql.types import LongType, StructField, StructType

        in_fields = df.schema.fields
        schema = StructType(list(in_fields) + [StructField(out, LongType(), False)])

        def route_rows(pdf):
            A = _np_mat(pdf[emb_col])
            an = _fold_norms(A)
            S = _fold_dots(A, C) / (an[:, None] * cn[None, :])
            k_eff = min(topn, C.shape[0])
            # top-k centroids by (-cosine, cid)
            order = np.argsort(cids[None, :].repeat(len(pdf), 0), axis=1, kind="stable")
            s_byid = np.take_along_axis(S, order, axis=1)
            o2 = np.argsort(-s_byid, axis=1, kind="stable")[:, :k_eff]
            sel = np.take_along_axis(order, o2, axis=1)  # (n, k_eff)
            rep = pdf.loc[pdf.index.repeat(k_eff)].reset_index(drop=True)
            rep[out] = cids[sel.reshape(-1)]
            return rep

        return map_batches(df, route_rows, schema)

    v_r = route(vectors, "embedding", "v_cid", 1)
    q_r = route(queries, "q_embedding", "q_cid", nprobe)
    cand = v_r.join(
        F.broadcast(q_r), F.col("v_cid") == F.col("q_cid")
    ).where(F.col("vec_id") != F.col("qid"))
    scored = cand.select(
        "qid",
        "vec_id",
        cosine_expr(F.col("q_embedding"), F.col("embedding")).alias("cosine"),
    ).dropDuplicates(["qid", "vec_id"])
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "vec_id", "cosine")
    )


# ---------- int8 scalar quantization (SQ8) ----------


def sq8_quantize(A: "np.ndarray") -> "np.ndarray":
    """Per-vector symmetric int8 quantization with PINNED op order:
    scale = max_i |v_i| / 127; q_i = clip(floor(v_i / scale + 0.5), -127,
    127).  floor(x + 0.5) — NOT round() — because NumPy rounds half to
    even while DuckDB rounds half away from zero; floor(+0.5) is the
    same correctly-rounded op sequence on both engines.  Returned as
    float64 holding exact small integers (so the downstream dots and
    norms are EXACT and engine-order-independent).

    Contract: no all-zero vectors (scale would be 0 — the cosine is
    undefined for them in the exact path too).
    """
    import numpy as np

    amax = np.max(np.abs(A), axis=1)
    scale = amax / 127.0
    T = A / scale[:, None] + 0.5
    Qm = np.floor(T)
    return np.minimum(127.0, np.maximum(-127.0, Qm))


def sq8_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 5, rerank: int = 4
) -> DataFrame:
    """Quantized ANN: int8 scalar-quantized coarse scoring + exact
    rerank — the memory-bound scale path (int8 vectors are 4x smaller
    than float32, 8x smaller than float64; at 100 TB the coarse pass
    reads a quarter of the bytes, and only the top k*rerank candidates
    per query ever touch the full-precision embeddings).

    Same dataflow shape as cosine_topk_bruteforce: the quantized query
    matrix ships in the UDF closure, the fact side streams ONCE through
    an Arrow-batched kernel that quantizes each batch and emits per-batch
    top-(k*rerank) candidates by quantized cosine; a window trims to the
    global k*rerank, and the exact rerank joins only those candidates
    back to the full-precision embeddings.

    Returns (qid, rank, vec_id, cosine, cosine_sq8): exact-cosine
    ranking with the quantized score carried for audit.
    """
    import numpy as np
    import pandas as pd

    MAX_QUERIES = 100_000
    q_rows = queries.limit(MAX_QUERIES + 1).collect()
    if len(q_rows) > MAX_QUERIES:
        raise ValueError(
            f"sq8_topk: query side exceeds {MAX_QUERIES} rows; "
            "route queries through an IVF/LSH bucketing first"
        )
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Qf = np.array([list(r.q_embedding) for r in q_rows], dtype=np.float64)
    Qq = sq8_quantize(Qf)
    qn = _fold_norms(Qq)
    sc = vectors.sparkSession.sparkContext
    bq = sc.broadcast((qids, Qq, qn))
    n_cand = k * rerank

    def sq8_cands(pdf):
        qid_arr, Qq, qn = bq.value
        A = _np_mat(pdf["embedding"])
        Qa = sq8_quantize(A)
        an = _fold_norms(Qa)
        C = _fold_dots(Qa, Qq) / (an[:, None] * qn[None, :])
        vids = pdf["vec_id"].to_numpy(np.int64)
        out_q, out_v, out_c = [], [], []
        for j in range(C.shape[1]):
            col = C[:, j]
            mask = vids != qid_arr[j]
            vv, cc = vids[mask], col[mask]
            if vv.size == 0:
                continue
            take = min(n_cand, vv.size)
            order = np.lexsort((vv, -cc))[:take]
            out_q.extend([qid_arr[j]] * take)
            out_v.extend(vv[order].tolist())
            out_c.extend(cc[order].tolist())
        return pd.DataFrame(
            {"qid": out_q, "vec_id": out_v, "cosine_sq8": out_c}
        )

    cand = map_batches(
        vectors.select("vec_id", "embedding"),
        sq8_cands,
        "qid long, vec_id long, cosine_sq8 double",
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("cosine_sq8").desc(), F.col("vec_id").asc()
    )
    trimmed = (
        cand.withColumn("_r", F.row_number().over(wq))
        .where(F.col("_r") <= n_cand)
        .drop("_r")
    )
    # exact rerank on the tiny candidate set: fold-order cosine (matches
    # the SQL oracle's left-assoc dot/norm), candidates x 1 join each side
    refined = (
        trimmed.join(F.broadcast(queries), "qid")
        .join(vectors.select("vec_id", "embedding"), "vec_id")
        .select(
            "qid",
            "vec_id",
            "cosine_sq8",
            cosine_expr(F.col("q_embedding"), F.col("embedding")).alias("cosine"),
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
            "cosine_sq8",
        )
    )


def sq8_topk_oracle_sql(
    k: int = 5, rerank: int = 4, dim: int = 64, qfilter: int = 29
) -> str:
    """DuckDB oracle for sq8_topk: replays the IDENTICAL pinned
    quantization (floor(x/scale + 0.5), clip after floor), the exact
    integer dots/norms, the k*rerank candidate cut, and the exact-cosine
    rerank — bit-exact, not a recall bound."""
    amax = "greatest(" + ", ".join(
        f"abs(CAST(embedding[{i}] AS DOUBLE))" for i in range(1, dim + 1)
    ) + ")"
    qcols = ", ".join(
        f"least(127.0, greatest(-127.0, "
        f"floor(CAST(embedding[{i}] AS DOUBLE) / scale + 0.5))) AS q{i}"
        for i in range(1, dim + 1)
    )
    qnorm = "sqrt(" + " + ".join(f"q{i}*q{i}" for i in range(1, dim + 1)) + ")"
    qdot = " + ".join(f"a.q{i}*b.q{i}" for i in range(1, dim + 1))
    dot = dot_sql("q.embedding", "v.embedding", dim)
    nq, nv = norm_sql("q.embedding", dim), norm_sql("v.embedding", dim)
    n_cand = k * rerank
    return f"""
WITH am AS MATERIALIZED (
  SELECT vec_id, embedding, {amax} / 127.0 AS scale FROM embeddings
),
sq AS MATERIALIZED (SELECT vec_id, {qcols} FROM am),
nrm AS MATERIALIZED (SELECT *, {qnorm} AS qn FROM sq),
cand AS (
  SELECT qid, vec_id, cosine_sq8 FROM (
    SELECT a.vec_id AS qid, b.vec_id AS vec_id,
           ({qdot}) / (b.qn * a.qn) AS cosine_sq8,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY ({qdot}) / (b.qn * a.qn) DESC, b.vec_id ASC
           ) AS r
    FROM nrm a JOIN nrm b ON b.vec_id <> a.vec_id
    WHERE a.vec_id % {qfilter} = 0
  ) WHERE r <= {n_cand}
)
SELECT qid, rank, vec_id, cosine, cosine_sq8 FROM (
  SELECT c.qid, c.vec_id, c.cosine_sq8,
         ({dot}) / (({nq}) * ({nv})) AS cosine,
         row_number() OVER (
           PARTITION BY c.qid
           ORDER BY ({dot}) / (({nq}) * ({nv})) DESC, c.vec_id ASC
         ) AS rank
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.qid
  JOIN embeddings v ON v.vec_id = c.vec_id
) WHERE rank <= {k}"""


# ---------- ANN recall audit (approximate vs exact ground truth) ----------


def bruteforce_topk_oracle_sql(k: int = 5, dim: int = 64, qfilter: int = 29) -> str:
    """DuckDB oracle for cosine_topk_bruteforce over the embeddings view
    (query side = every ``qfilter``-th vec_id): identical left-assoc
    fold-order cosine, (cosine DESC, vec_id ASC) tie-break."""
    dot = dot_sql("q.embedding", "v.embedding", dim)
    nq, nv = norm_sql("q.embedding", dim), norm_sql("v.embedding", dim)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings
           WHERE vec_id % {qfilter} = 0)
SELECT qid, rank, vec_id, cosine FROM (
  SELECT q.qid, v.vec_id,
         ({dot}) / (({nq}) * ({nv})) AS cosine,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY ({dot}) / (({nq}) * ({nv})) DESC, v.vec_id ASC
         ) AS rank
  FROM q, embeddings v WHERE v.vec_id <> q.qid
) WHERE rank <= {k}"""


def ivf_recall_audit(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Recall@k audit of the IVF scale path against the exact brute-force
    ground truth — the qualification step a pipeline runs before trusting
    (n_centroids, nprobe) at scale, the ANN analog of lsh_recall_audit.

    One row: (n_queries, n_exact, n_ivf, tp, fn, fp, recall,
    worst_q_recall).  tp counts (qid, vec_id) pairs in both top-k sets;
    fp is IVF's substitutes for the true neighbors it missed (so fp == fn
    whenever both sides return a full k).  recall and worst_q_recall are
    pinned small-integer double divisions so the DuckDB oracle matches
    bit-for-bit.  The audit itself adds one (qid, vec_id) full-outer join
    of two already-tiny top-k frames plus a per-query hash agg — the
    expensive inputs are the audited pipelines."""
    ex = cosine_topk_bruteforce(vectors, queries, k=k).select(
        "qid", "vec_id", F.lit(True).alias("in_exact")
    )
    iv = ivf_topk(
        vectors, queries, k=k, n_centroids=n_centroids, nprobe=nprobe
    ).select("qid", "vec_id", F.lit(True).alias("in_ivf"))
    j = ex.join(iv, ["qid", "vec_id"], "full_outer")
    per_q = j.groupBy("qid").agg(
        F.count("in_exact").alias("nx"),
        F.count("in_ivf").alias("ni"),
        F.count(F.when(F.col("in_exact") & F.col("in_ivf"), 1)).alias("tp"),
    )
    q_recall = F.col("tp").cast("double") / F.col("nx").cast("double")
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("nx").alias("n_exact"),
        F.sum("ni").alias("n_ivf"),
        F.sum("tp").alias("tp"),
        (F.sum("nx") - F.sum("tp")).alias("fn"),
        (F.sum("ni") - F.sum("tp")).alias("fp"),
        (F.sum("tp").cast("double") / F.sum("nx").cast("double")).alias("recall"),
        F.min(q_recall).alias("worst_q_recall"),
    )


def ivf_recall_oracle_sql(
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    qfilter: int = 29,
) -> str:
    """DuckDB replay of ivf_recall_audit: the two top-k oracles as
    MATERIALIZED CTEs, (qid, vec_id) full outer join, identical per-query
    then global count/division arithmetic (sums BIGINT-pinned — DuckDB
    HUGEINT sums surface as float64 otherwise)."""
    ex = bruteforce_topk_oracle_sql(k=k, dim=dim, qfilter=qfilter)
    iv = ivf_topk_oracle_sql(
        k=k, n_centroids=n_centroids, nprobe=nprobe, dim=dim, qfilter=qfilter
    )
    return f"""
WITH exq AS MATERIALIZED ({ex}),
ivq AS MATERIALIZED ({iv}),
j AS (
  SELECT COALESCE(e.qid, i.qid) AS qid, e.vec_id AS ev, i.vec_id AS iv_id
  FROM exq e FULL OUTER JOIN ivq i
    ON e.qid = i.qid AND e.vec_id = i.vec_id
),
pq AS (
  SELECT qid, count(ev) AS nx, count(iv_id) AS ni,
         count(CASE WHEN ev IS NOT NULL AND iv_id IS NOT NULL THEN 1 END) AS tp
  FROM j GROUP BY qid
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(nx) AS BIGINT) AS n_exact,
       CAST(sum(ni) AS BIGINT) AS n_ivf,
       CAST(sum(tp) AS BIGINT) AS tp,
       CAST(sum(nx) - sum(tp) AS BIGINT) AS fn,
       CAST(sum(ni) - sum(tp) AS BIGINT) AS fp,
       CAST(sum(tp) AS DOUBLE) / CAST(sum(nx) AS DOUBLE) AS recall,
       min(CAST(tp AS DOUBLE) / CAST(nx AS DOUBLE)) AS worst_q_recall
FROM pq"""


# ---------- CLIP-style caption/image alignment (multimodal curation) ----------
#
# A contrastive image/caption corpus is audited by in-batch retrieval: for
# every (image, caption) pair, rank the image's cosine against every caption
# in its batch and check the true caption wins (recall@1), exactly the
# training-time objective of CLIP-style models.  Here "image embedding" =
# even vec_id and "caption embedding" = the following odd vec_id — the
# pairing a multimodal curation pipeline materializes before training.
# Batches are FIXED SIZE (`batch_pairs`), so the batch join fans out a
# constant 32x regardless of corpus size: linear at 100 TB, one equi-join
# shuffle on batch_id, and the per-image window ranks only batch_pairs rows.


def _paired_views(emb: DataFrame, batch_pairs: int):
    """(image, caption) views keyed by pair id + fixed-size batch id."""
    img = emb.where(F.col("vec_id") % 2 == 0).select(
        F.expr("vec_id DIV 2").alias("ipair"),
        F.expr(f"(vec_id DIV 2) DIV {batch_pairs}").alias("batch_id"),
        F.col("embedding").alias("i_emb"),
    )
    cap = emb.where(F.col("vec_id") % 2 == 1).select(
        F.expr("vec_id DIV 2").alias("cpair"),
        F.expr(f"(vec_id DIV 2) DIV {batch_pairs}").alias("batch_id"),
        F.col("embedding").alias("c_emb"),
    )
    return img, cap


def _ranked_batch(emb: DataFrame, batch_pairs: int) -> DataFrame:
    img, cap = _paired_views(emb, batch_pairs)
    scored = img.join(cap, "batch_id").select(
        "ipair",
        "cpair",
        cosine_expr(F.col("i_emb"), F.col("c_emb")).alias("cos"),
    )
    w = Window.partitionBy("ipair").orderBy(F.desc("cos"), F.asc("cpair"))
    return scored.select(
        "ipair", "cpair", "cos", F.row_number().over(w).alias("rnk")
    )


def caption_alignment(emb: DataFrame, batch_pairs: int = 32) -> DataFrame:
    """Per-pair in-batch retrieval audit: (pair_id, true_rank, top1_pair,
    true_cos, top1_cos, margin, aligned).  aligned=1 iff the true caption
    is the image's nearest in-batch caption (margin is then exactly 0)."""
    ranked = _ranked_batch(emb, batch_pairs)
    true_c = F.col("cpair") == F.col("ipair")
    return (
        ranked.groupBy(F.col("ipair").alias("pair_id"))
        .agg(
            F.max(F.when(true_c, F.col("rnk"))).cast("long").alias("true_rank"),
            F.max(F.when(F.col("rnk") == 1, F.col("cpair"))).alias("top1_pair"),
            F.max(F.when(true_c, F.col("cos"))).alias("true_cos"),
            F.max(F.when(F.col("rnk") == 1, F.col("cos"))).alias("top1_cos"),
        )
        .withColumn("margin", F.col("top1_cos") - F.col("true_cos"))
        .withColumn("aligned", (F.col("true_rank") == 1).cast("int"))
        .select(
            "pair_id",
            "true_rank",
            "top1_pair",
            "true_cos",
            "top1_cos",
            "margin",
            "aligned",
        )
    )


def hard_negatives(
    emb: DataFrame, batch_pairs: int = 32, k: int = 3
) -> DataFrame:
    """Top-k hardest in-batch negative captions per image — the mining
    step a contrastive trainer runs over the curated corpus.  Reuses the
    caption_alignment ranking; negatives keep their deterministic order
    (cos DESC, cpair ASC) so neg_rank 1 is the hardest negative."""
    ranked = _ranked_batch(emb, batch_pairs)
    neg = ranked.where(F.col("cpair") != F.col("ipair"))
    w = Window.partitionBy("ipair").orderBy(F.asc("rnk"))
    return (
        neg.select(
            F.col("ipair").alias("pair_id"),
            F.row_number().over(w).cast("long").alias("neg_rank"),
            F.col("cpair").alias("neg_pair"),
            "cos",
        )
        .where(F.col("neg_rank") <= k)
    )


def _ranked_batch_ctes(batch_pairs: int, dim: int) -> str:
    d = dot_sql("i.e", "c.e", dim)
    ni = norm_sql("i.e", dim)
    nc = norm_sql("c.e", dim)
    return f"""
img AS (SELECT vec_id // 2 AS ipair, (vec_id // 2) // {batch_pairs} AS batch_id,
               embedding AS e
        FROM embeddings WHERE vec_id % 2 = 0),
cap AS (SELECT vec_id // 2 AS cpair, (vec_id // 2) // {batch_pairs} AS batch_id,
               embedding AS e
        FROM embeddings WHERE vec_id % 2 = 1),
scored AS (SELECT i.ipair, c.cpair, ({d}) / (({ni}) * ({nc})) AS cos
           FROM img i JOIN cap c ON i.batch_id = c.batch_id),
ranked AS (SELECT ipair, cpair, cos,
                  ROW_NUMBER() OVER (PARTITION BY ipair
                                     ORDER BY cos DESC, cpair ASC) AS rnk
           FROM scored)"""


def caption_alignment_oracle_sql(batch_pairs: int = 32, dim: int = DIM) -> str:
    """DuckDB replay: identical pairing, batching, left-assoc fold cosine,
    window rank, and aggregation (rank/ids BIGINT-pinned)."""
    return f"""
WITH {_ranked_batch_ctes(batch_pairs, dim)}
SELECT CAST(ipair AS BIGINT) AS pair_id,
       CAST(MAX(CASE WHEN cpair = ipair THEN rnk END) AS BIGINT) AS true_rank,
       CAST(MAX(CASE WHEN rnk = 1 THEN cpair END) AS BIGINT) AS top1_pair,
       MAX(CASE WHEN cpair = ipair THEN cos END) AS true_cos,
       MAX(CASE WHEN rnk = 1 THEN cos END) AS top1_cos,
       MAX(CASE WHEN rnk = 1 THEN cos END)
         - MAX(CASE WHEN cpair = ipair THEN cos END) AS margin,
       CAST(CASE WHEN MAX(CASE WHEN cpair = ipair THEN rnk END) = 1
                 THEN 1 ELSE 0 END AS INTEGER) AS aligned
FROM ranked GROUP BY ipair"""


def hard_negatives_oracle_sql(
    batch_pairs: int = 32, k: int = 3, dim: int = DIM
) -> str:
    return f"""
WITH {_ranked_batch_ctes(batch_pairs, dim)},
neg AS (SELECT ipair, cpair, cos,
               ROW_NUMBER() OVER (PARTITION BY ipair ORDER BY rnk ASC) AS neg_rank
        FROM ranked WHERE cpair <> ipair)
SELECT CAST(ipair AS BIGINT) AS pair_id,
       CAST(neg_rank AS BIGINT) AS neg_rank,
       CAST(cpair AS BIGINT) AS neg_pair,
       cos
FROM neg WHERE neg_rank <= {k}"""


# ---------- embedding sanity screen (pipeline validation op) ----------

#: |norm2 - 1| tolerance for the unit-normalization screen (the fixture
#: vectors are float32-normalized, so their double-refolded norm2 sits
#: within ~2e-7 of 1; 1e-7 keeps both verdict classes populated)
NORM_TOL = 1e-7


def embedding_screen(emb: DataFrame) -> DataFrame:
    """(vec_id, dim_n, norm2, n_zero, n_nonfinite, abs_max, ok): the
    pre-ANN data-validation screen — dimension check, NaN/Inf count,
    all-zero detection, saturation (abs_max), and unit-normalization to
    NORM_TOL.  Pure projection (no shuffle, map-only at any scale);
    norm2 folds left-to-right so the DuckDB oracle is bit-exact."""
    x = F.col("embedding")
    sq = F.transform(x, lambda v: v.cast("double") * v.cast("double"))
    norm2 = F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)
    nonfinite = F.size(
        F.filter(
            x,
            lambda v: F.isnan(v.cast("double"))
            | (v.cast("double") == F.lit(float("inf")))
            | (v.cast("double") == F.lit(float("-inf"))),
        )
    )
    n_zero = F.size(F.filter(x, lambda v: v.cast("double") == 0.0))
    abs_max = F.aggregate(
        F.transform(x, lambda v: F.abs(v.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    dim_n = F.size(x).cast("long")
    ok = (
        (dim_n == DIM)
        & (nonfinite == 0)
        & (n_zero < dim_n)
        & (F.abs(norm2 - 1.0) <= NORM_TOL)
    )
    return emb.select(
        "vec_id",
        dim_n.alias("dim_n"),
        norm2.alias("norm2"),
        n_zero.cast("long").alias("n_zero"),
        nonfinite.cast("long").alias("n_nonfinite"),
        abs_max.alias("abs_max"),
        ok.alias("ok"),
    )


def embedding_screen_oracle_sql() -> str:
    return f"""
SELECT vec_id,
  CAST(len(embedding) AS BIGINT) AS dim_n,
  list_reduce(list_prepend(0.0,
      [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding]),
      (a, b) -> a + b) AS norm2,
  CAST(len([x for x in embedding if CAST(x AS DOUBLE) = 0.0]) AS BIGINT)
    AS n_zero,
  CAST(len([x for x in embedding
            if isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))])
       AS BIGINT) AS n_nonfinite,
  list_reduce(list_prepend(0.0, [abs(CAST(x AS DOUBLE)) for x in embedding]),
      (a, b) -> greatest(a, b)) AS abs_max,
  (len(embedding) = {DIM}
   AND len([x for x in embedding
            if isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))]) = 0
   AND len([x for x in embedding if CAST(x AS DOUBLE) = 0.0])
       < len(embedding)
   AND abs(list_reduce(list_prepend(0.0,
         [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding]),
         (a, b) -> a + b) - 1.0) <= {NORM_TOL!r}) AS ok
FROM embeddings
"""
