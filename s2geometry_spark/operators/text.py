"""Text-analysis operators for training-data pipelines, over the
`documents(doc_id, text, lang, source, n_chars)` table.

Everything here is pure Spark SQL (whole-stage codegen, no Python), and
every formula is written with PINNED operator order so the DuckDB oracle
evaluates the identical IEEE double sequence:

* token_stats   — token count / avg token length / stopword ratio.
* quality_score — composite quality heuristic (length + stopword mix).
* lang_id       — marker-token n-gram scoring with a deterministic
                  argmax (first-strictly-greater tie-break).
* fingerprint   — 64-bit rolling polynomial document fingerprint
                  (content-defined; a Rabin-Karp hash of the token
                  stream) for fast shift-tolerant identity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import map_batches
from .dedup import words_col

STOPWORDS = ("the", "a", "of", "and")

# marker tokens per language (deterministic toy scorer — the operator
# shape is what matters: per-doc marker counts + argmax, all in SQL)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "scan", "fast"),
    "de": ("window", "order", "join"),
    "es": ("data", "line", "row"),
    "fr": ("table", "merge", "part"),
    "zh": ("hash", "group", "key"),
}


def _count_token(words: Column, token: str) -> Column:
    return F.size(F.filter(words, lambda x: x == token))


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_token_len, stopword_ratio) — one projection."""
    w = words_col()
    n_tokens = F.size(w)
    total_chars = F.length(F.col("text"))
    avg_len = (total_chars - (n_tokens - F.lit(1))).cast("double") / n_tokens.cast(
        "double"
    )
    stop = None
    for s in STOPWORDS:
        c = _count_token(w, s)
        stop = c if stop is None else stop + c
    ratio = stop.cast("double") / n_tokens.cast("double")
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        ratio.alias("stopword_ratio"),
    )


def token_stats_oracle_sql() -> str:
    stop = " + ".join(
        f"len(list_filter(w, x -> x = '{s}'))" for s in STOPWORDS
    )
    return f"""
WITH wrds AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(length(text) - (len(w) - 1) AS DOUBLE) / CAST(len(w) AS DOUBLE)
         AS avg_token_len,
       CAST({stop} AS DOUBLE) / CAST(len(w) AS DOUBLE) AS stopword_ratio
FROM wrds
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, quality): 0.5*min(n_tokens/64, 1) + 0.5*(1 - stopword_ratio).

    The standard "is this document worth training on" heuristic shape;
    pinned arithmetic for the oracle.
    """
    stats = token_stats(docs)
    q = (
        F.lit(0.5) * F.least(F.col("n_tokens").cast("double") / F.lit(64.0), F.lit(1.0))
        + F.lit(0.5) * (F.lit(1.0) - F.col("stopword_ratio"))
    )
    return stats.select("doc_id", q.alias("quality"))


def quality_score_oracle_sql() -> str:
    stop = " + ".join(
        f"len(list_filter(w, x -> x = '{s}'))" for s in STOPWORDS
    )
    return f"""
WITH wrds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       0.5 * least(CAST(len(w) AS DOUBLE) / 64.0, 1.0)
         + 0.5 * (1.0 - CAST({stop} AS DOUBLE) / CAST(len(w) AS DOUBLE))
         AS quality
FROM wrds
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, is_match): marker-count argmax language guess.

    Deterministic argmax: languages are compared in a fixed order and a
    later language wins only on a STRICTLY greater score.
    """
    w = words_col()
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            c = _count_token(w, m)
            s = c if s is None else s + c
        scores[lang] = s
    langs = list(LANG_MARKERS)
    best_lang = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return docs.select(
        "doc_id",
        best_lang.alias("pred_lang"),
        (best_lang == F.col("lang")).alias("is_match"),
    )


def lang_id_oracle_sql() -> str:
    def score(lang: str) -> str:
        return " + ".join(
            f"len(list_filter(w, x -> x = '{m}'))" for m in LANG_MARKERS[lang]
        )

    langs = list(LANG_MARKERS)
    # replicate the fold: later language replaces only on strictly greater
    expr_lang = f"'{langs[0]}'"
    expr_score = f"({score(langs[0])})"
    for lang in langs[1:]:
        s = f"({score(lang)})"
        expr_lang = f"(CASE WHEN {s} > {expr_score} THEN '{lang}' ELSE {expr_lang} END)"
        expr_score = f"(CASE WHEN {s} > {expr_score} THEN {s} ELSE {expr_score} END)"
    return f"""
WITH wrds AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, {expr_lang} AS pred_lang, ({expr_lang} = lang) AS is_match
FROM wrds
"""


FP_MOD = (1 << 57) - 13


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): 64-bit rolling polynomial fingerprint of the token
    stream: fp = fold(tokens, 0, (acc, t) -> (acc*31 + h32(t)) mod M).
    Shift-tolerant doc identity; pure SQL fold (no Python).

    Arithmetic stays inside int64 (ANSI mode forbids wraparound): the
    accumulator is reduced mod M < 2^57 each step and the per-token hash
    is a 32-bit md5 prefix (portable — the DuckDB oracle recomputes the
    identical integer fold), so acc*31 + h < 2^62 never overflows."""
    from .dedup import md5_h32

    w = words_col()
    mod = F.lit(FP_MOD).cast("long")
    fp = F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(31).cast("long") + md5_h32(t), mod),
    )
    return docs.select("doc_id", fp.alias("fp"))


def fingerprint_oracle_sql() -> str:
    """DuckDB oracle: the same left fold via list_reduce (first element is
    the seed, so 0 is prepended); integer arithmetic is exact on both
    sides."""
    from .dedup import md5_h32_sql

    h = md5_h32_sql("t")
    return f"""
WITH wrds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
hs AS (
  SELECT doc_id, list_prepend(0::BIGINT, list_transform(w, t -> {h})) AS hl
  FROM wrds
)
SELECT doc_id, list_reduce(hl, (acc, h) -> (acc * 31 + h) % {FP_MOD}) AS fp
FROM hs
"""


# ---------- BM25 relevance scoring (portable-ln, bit-exact oracle) ----------
#
# BM25 needs a natural log for the idf term, and libm log differs between
# the JVM and DuckDB in the last ulp (measured: max 8.9e-16 on 22k
# inputs).  So the idf uses LN_PORTABLE: floor(log2 x) argument
# reduction + an atanh Horner series evaluated in a pinned order —
# plain floor/log2/power/+-*/ that both engines round identically.
# floor(log2 x) itself is safe for BM25's rational inputs
# x = (N+1)/(df+0.5): with doc counts below ~3e5 the ratio can never
# fall within one ulp of a power of two without being exactly one
# (integer-separation argument; see tests/test_sessions_bm25.py).
# Series truncation error < 5e-12 relative — the score is a RANKING
# signal, and both engines compute the identical double.

BM25_K1 = "1.2"
BM25_B = "0.75"
# Exponent-notation literals parse as DOUBLE on BOTH engines; a bare
# decimal literal parses as DECIMAL (Spark AND DuckDB), and the
# decimal->double conversion can land one ulp off the correctly-rounded
# parse (observed: Spark's 0.0526315789... coefficient flipped the last
# bit of unigram_logprob contributions on ~10% of docs)
_LN2 = "6.93147180559945286e-01"
# 1/19 .. 1/3, Horner order (odd atanh series to r^19)
_LN_COEFFS = ["%.17e" % (1.0 / k) for k in (19, 17, 15, 13, 11, 9, 7, 5, 3)]


def ln_portable_sql(x: str) -> str:
    """ln(x) for x > 0 as a portable SQL expression (identical doubles in
    Spark SQL and DuckDB).

    Argument reduction rounds the exponent (m in [sqrt2/2, sqrt2), |r| <=
    0.1716) so the series truncation (r^21/21 < 5e-17) stays below double
    resolution even for x just under a power of two; the floor boundary
    then sits at 2^(k+1/2), which the rational BM25 inputs cannot
    approach within an ulp (irrationality-measure separation of sqrt2)."""
    e = f"floor(log2({x}) + 0.5)"
    m = f"(({x}) / power(2.0, {e}))"
    r = f"(({m} - 1.0) / ({m} + 1.0))"
    r2 = f"({r} * {r})"
    p = _LN_COEFFS[0]
    for c in _LN_COEFFS[1:]:
        p = f"({p} * {r2} + {c})"
    p = f"({p} * {r2} + 1.0)"
    return f"(({e} * {_LN2}) + ((2.0 * {r}) * {p}))"


def bm25_score_sql(tf: str, df: str, dl: str, avgdl: str, n_docs: str) -> str:
    """One query term's BM25 contribution; shared verbatim by the Spark
    plan (F.expr) and the DuckDB oracle so every float op has the same
    shape on both sides."""
    idf = ln_portable_sql(f"(({n_docs} + 1.0) / ({df} + 0.5))")
    denom = f"({tf} + {BM25_K1} * ((1.0 - {BM25_B}) + {BM25_B} * ({dl} / {avgdl})))"
    return f"({idf} * (({tf} * ({BM25_K1} + 1.0)) / {denom}))"


def bm25(docs: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, n_terms_matched, score): Okapi BM25 of every document
    against a fixed term set.

    Shape: explode words -> per-(doc, term) tf + per-doc length (one
    hash agg), per-term df (a tiny broadcast dim), global (n_docs,
    total_len) as a broadcast 1-row join — one shuffle on doc_id, the
    rest map-side.  The score arithmetic is a single shared SQL fragment
    (bm25_score_sql), so the DuckDB oracle is bit-exact."""
    w = docs.select("doc_id", F.explode(words_col()).alias("w"))
    dl = w.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = (
        w.where(F.col("w").isin(list(terms)))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count("*").alias("df"))
    glob = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    ).withColumn("avgdl", F.col("total_len") / F.col("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(glob))
        .withColumn(
            "term_score",
            F.expr(bm25_score_sql("tf", "df", "dl", "avgdl", "n_docs")),
        )
    )
    # float addition is not associative and a hash-agg SUM sees rows in
    # shuffle order: fold the <=len(terms) addends term-sorted on BOTH
    # sides (the oracle's list_reduce mirrors this exactly)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_matched"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("w", "term_score"))),
            F.lit(0.0),
            lambda acc, s: acc + s["term_score"],
        ).alias("score"),
    )


def bm25_oracle_sql(terms: tuple[str, ...]) -> str:
    """DuckDB replay over ``documents`` with the identical fragment.

    The per-doc score sums exactly like Spark's F.sum over term_score
    because each doc matches at most len(terms) terms and DuckDB's
    segment-tree sum equals left-assoc sum for <= 4 addends only when
    fold order matches — so the oracle sums via list_reduce over the
    term-ordered list (the chain_interpolate recipe) to pin the order.
    Spark's hash-agg sum over an unsorted group is itself order-dependent
    in general, so BOTH sides sort by term and fold left-to-right."""
    tl = ", ".join(f"'{t}'" for t in terms)
    frag = bm25_score_sql("tf", "df", "dl", "avgdl", "n_docs")
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM w WHERE w IN ({tl}) GROUP BY 1, 2
),
df_t AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
gstats AS (
  SELECT count(*) AS n_docs, sum(dl) AS total_len,
         sum(dl) / count(*) AS avgdl
  FROM dl
),
term_scores AS (
  SELECT tf.doc_id, tf.w, {frag} AS term_score
  FROM tf JOIN df_t USING (w) JOIN dl USING (doc_id) CROSS JOIN gstats
),
folded AS (
  SELECT doc_id, count(*) AS n_terms_matched,
         list_reduce(
           list_prepend(0.0, list(term_score ORDER BY w)),
           (acc, x) -> acc + x
         ) AS score
  FROM term_scores GROUP BY doc_id
)
SELECT doc_id, n_terms_matched, score FROM folded
"""


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_distinct, dup_word_ratio, top_bigram_count,
    top_bigram_frac, dup_trigram_occ, dup_trigram_frac): the standard
    repetition quality signals for training-data filtering (duplicate
    token ratio, most-frequent-bigram fraction, fraction of trigram
    occurrences that are duplicated — the Gopher/MassiveText family of
    repetition filters).

    Shape: the n-gram counts go through explode -> hash agg (LINEAR in
    document length, one shuffle keyed on (doc_id, gram)) rather than a
    per-doc O(L^2) higher-order-function scan, so arbitrarily long
    documents stay safe at scale.  All counts are integer-exact; the
    ratios are single pinned divisions, so the DuckDB oracle matches
    bit-for-bit.
    """
    w = words_col()
    base = docs.select(
        "doc_id",
        w.alias("w"),
        F.size(w).cast("long").alias("n_words"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
    )

    def grams(n: int) -> DataFrame:
        joined = ", ' ', ".join(f"w[i+{j}]" for j in range(n))
        expr = f"transform(sequence(0, size(w) - {n}), i -> concat({joined}))"
        return (
            base.where(F.size("w") >= n)
            .select("doc_id", F.explode(F.expr(expr)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
        )

    top_bg = grams(2).groupBy("doc_id").agg(
        F.max("c").cast("long").alias("top_bigram_count")
    )
    dup_tg = grams(3).groupBy("doc_id").agg(
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_trigram_occ")
    )
    out = (
        base.drop("w")
        .join(top_bg, "doc_id", "left")
        .join(dup_tg, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            (
                F.lit(1.0)
                - F.col("n_distinct").cast("double")
                / F.col("n_words").cast("double")
            ).alias("dup_word_ratio"),
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
            F.coalesce("dup_trigram_occ", F.lit(0)).alias("dup_trigram_occ"),
        )
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "dup_word_ratio",
        "top_bigram_count",
        F.when(
            F.col("n_words") > 1,
            F.col("top_bigram_count").cast("double")
            / (F.col("n_words") - F.lit(1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        "dup_trigram_occ",
        F.when(
            F.col("n_words") > 2,
            F.col("dup_trigram_occ").cast("double")
            / (F.col("n_words") - F.lit(2)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )


def repetition_oracle_sql() -> str:
    """DuckDB replay of repetition_stats: lateral range() n-gram
    generation, the same integer counts and pinned divisions."""
    return """
WITH wrds AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
base AS MATERIALIZED (
  SELECT doc_id, w,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
  FROM wrds
),
bg AS (
  SELECT doc_id, unnest(
    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
  ) AS g
  FROM base
),
bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
top_bg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY 1),
tg AS (
  SELECT doc_id, unnest(
    list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
  ) AS g
  FROM base
),
tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
dup_tg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS dup_trigram_occ
  FROM tgc GROUP BY 1
)
SELECT b.doc_id, b.n_words, b.n_distinct,
       1.0 - CAST(b.n_distinct AS DOUBLE) / CAST(b.n_words AS DOUBLE)
         AS dup_word_ratio,
       coalesce(t.top_bigram_count, 0) AS top_bigram_count,
       CASE WHEN b.n_words > 1
            THEN CAST(coalesce(t.top_bigram_count, 0) AS DOUBLE)
                   / CAST(b.n_words - 1 AS DOUBLE)
            ELSE 0.0 END AS top_bigram_frac,
       coalesce(d.dup_trigram_occ, 0) AS dup_trigram_occ,
       CASE WHEN b.n_words > 2
            THEN CAST(coalesce(d.dup_trigram_occ, 0) AS DOUBLE)
                   / CAST(b.n_words - 2 AS DOUBLE)
            ELSE 0.0 END AS dup_trigram_frac
FROM base b
LEFT JOIN top_bg t USING (doc_id)
LEFT JOIN dup_tg d USING (doc_id)
"""


# train/val/test split fractions in permille: stable across runs, joins,
# and re-partitioning because the assignment depends only on the doc key
SPLIT_PERMILLE = (("train", 900), ("val", 50), ("test", 50))


def split_assign(docs: DataFrame, salt: str = "s2split") -> DataFrame:
    """(doc_id, bucket, split): deterministic hash-based train/val/test
    assignment — the standard leakage-safe dataset split (the assignment
    is a pure function of the document key, so adding/removing OTHER
    documents, re-sharding, or re-running never moves a document between
    splits).  bucket = portable md5-h32(salt || doc_id) mod 1000; the
    split boundaries come from SPLIT_PERMILLE.  Pure codegen projection
    — no shuffle, trivially scales."""
    from .dedup import md5_h32

    b = md5_h32(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))) % 1000
    lo = 0
    cases = []
    for name, width in SPLIT_PERMILLE:
        cases.append((lo, lo + width, name))
        lo += width
    assert lo == 1000
    expr = F.when(
        F.col("bucket") < cases[0][1], F.lit(cases[0][2])
    )
    for lo_, hi, name in cases[1:]:
        expr = expr.when(F.col("bucket") < hi, F.lit(name))
    return (
        docs.select("doc_id")
        .withColumn("bucket", b.cast("long"))
        .select("doc_id", "bucket", expr.alias("split"))
    )


def split_assign_oracle_sql(salt: str = "s2split") -> str:
    from .dedup import md5_h32_sql

    h = md5_h32_sql(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    cases = []
    lo = 0
    for name, width in SPLIT_PERMILLE:
        cases.append(f"WHEN bucket < {lo + width} THEN '{name}'")
        lo += width
    case = "CASE " + " ".join(cases) + " END"
    return f"""
WITH b AS (SELECT doc_id, ({h}) % 1000 AS bucket FROM documents)
SELECT doc_id, bucket, {case} AS split FROM b
"""


#: quantiles for the length-distribution audit (permille, exact order
#: statistics — approximate percentile sketches differ across engines)
LENGTH_QUANTILES = (500, 900, 990)


def token_length_quantiles(docs: DataFrame) -> DataFrame:
    """Exact token-count quantiles over the corpus — the sequence-length
    planning numbers (truncation budget, packing efficiency) a training
    pipeline derives before tokenizing at scale.

    For quantile q (permille), the value is the k-th smallest n_tokens
    with k = ceil(q/1000 * n) (the k-th ORDER STATISTIC, tie-insensitive)
    — pinned integer arithmetic, so the DuckDB oracle replays it exactly;
    no approximate sketches.  The plan never globally sorts the fact
    table: one hash-agg shuffle builds the length HISTOGRAM (cardinality
    bounded by the max document length, not the corpus), and the
    cumulative window runs over that tiny table only.
    """
    from pyspark.sql import Window

    hist = token_stats(docs).groupBy("n_tokens").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy(F.col("n_tokens").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "n_tokens",
        "cnt",
        F.sum("cnt").over(w).alias("cum_hi"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    ).withColumn("cum_lo", F.col("cum_hi") - F.col("cnt"))
    qs = F.array(*[F.lit(int(q)) for q in LENGTH_QUANTILES])
    exploded = cum.select(
        "n_tokens", "cum_lo", "cum_hi", "n",
        F.explode(qs).alias("quantile_permille"),
    )
    # k = ceil(q * n / 1000); the k-th order statistic falls in the
    # histogram bucket whose cumulative range covers k
    k = -F.floor((-F.col("quantile_permille") * F.col("n")) / F.lit(1000))
    return (
        exploded.where((F.col("cum_lo") < k) & (k <= F.col("cum_hi")))
        .select("quantile_permille", "n_tokens")
    )


def token_length_quantiles_oracle_sql() -> str:
    """DuckDB replay: identical rank + integer ceil(k) selection."""
    qvals = ", ".join(str(int(q)) for q in LENGTH_QUANTILES)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
),
ranked AS MATERIALIZED (
  SELECT n_tokens,
         row_number() OVER (ORDER BY n_tokens ASC) AS rk,
         count(*) OVER () AS n
  FROM toks
),
q AS (SELECT unnest([{qvals}]) AS quantile_permille)
SELECT q.quantile_permille, r.n_tokens
FROM ranked r JOIN q
  ON r.rk = -floor((-q.quantile_permille * r.n) / 1000)
"""


#: sequence-packing defaults: context window length (tokens) and the
#: prefix-sum bucket count (any value works; 64 keeps the offset table tiny)
PACK_CONTEXT = 512
PACK_BUCKETS = 64


def pack_assign(docs: DataFrame, context_len: int = PACK_CONTEXT) -> DataFrame:
    """Concatenate-and-chunk sequence packing — the GPT-style pretraining
    step that lays every document into a virtual token stream and splits
    it into fixed ``context_len`` windows.  Output per document:
    (doc_id, n_tokens, start_off, bin_first, bin_last) — its byte-exact
    slot in the stream and the first/last context window it touches
    (documents may span windows; trainers mask across the boundary).

    The stream order is the deterministic hash shuffle
    (md5_h32("s2pack:" || doc_id), doc_id) — reproducible like
    split_assign, decorrelated from ingest order.

    Scale shape: a GLOBAL ordered cumsum would be a one-partition window
    (the classic scale cliff).  Instead this is a two-level distributed
    prefix sum: documents hash into ``PACK_BUCKETS`` buckets keyed below
    the stream order's top bits, each bucket computes its own windowed
    cumsum in parallel, and the per-bucket totals (PACK_BUCKETS rows)
    become broadcast prefix offsets.  All arithmetic is integer, so the
    result is partitioning-invariant and the DuckDB oracle replays it
    bit-exactly.
    """
    from .dedup import md5_h32

    from pyspark.sql import Window

    h = md5_h32(F.concat(F.lit("s2pack:"), F.col("doc_id").cast("string")))
    t = docs.select(
        "doc_id",
        F.size(words_col()).cast("long").alias("n_tokens"),
        h.cast("long").alias("h"),
    ).withColumn("bucket", F.col("h") % PACK_BUCKETS)
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("cum_in", F.sum("n_tokens").over(w_in))
    tot = t.groupBy("bucket").agg(F.sum("n_tokens").alias("tot"))
    w_off = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = tot.select(
        "bucket", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("boff")
    )
    start = F.col("boff") + F.col("cum_in") - F.col("n_tokens")
    return (
        cum.join(F.broadcast(off), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_off"),
            F.floor(start / context_len).cast("long").alias("bin_first"),
            F.floor((start + F.col("n_tokens") - 1) / context_len)
            .cast("long")
            .alias("bin_last"),
        )
    )


def pack_assign_oracle_sql(context_len: int = PACK_CONTEXT) -> str:
    from .dedup import md5_h32_sql

    h = md5_h32_sql("'s2pack:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(({h}) AS BIGINT) AS h
  FROM documents
),
tb AS (SELECT *, h % {PACK_BUCKETS} AS bucket FROM t),
cum AS (
  SELECT *,
         sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h ASC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum_in
  FROM tb
),
tot AS (SELECT bucket, sum(n_tokens) AS tot FROM tb GROUP BY bucket),
off AS (
  SELECT bucket,
         coalesce(sum(tot) OVER (ORDER BY bucket ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS boff
  FROM tot
)
SELECT doc_id, n_tokens,
       CAST(boff + cum_in - n_tokens AS BIGINT) AS start_off,
       CAST(floor((boff + cum_in - n_tokens) / {context_len}) AS BIGINT)
         AS bin_first,
       CAST(floor((boff + cum_in - 1) / {context_len}) AS BIGINT) AS bin_last
FROM cum JOIN off USING (bucket)
"""


def corpus_mixture(docs: DataFrame, salt: str = "s2split") -> DataFrame:
    """(lang, split, n_docs, n_tokens, permille_tokens): the data-mix
    table a pretraining run is configured from — token mass per language
    per split, with each cell's share of the corpus in exact integer
    permille (floor(1000 * cell / total)).  Composes the split_assign
    hash rule with the whitespace tokenizer; one hash-agg shuffle plus a
    1-row total broadcast, no sorts.
    """
    toks = docs.select(
        "doc_id", "lang", F.size(words_col()).cast("long").alias("n_tokens")
    )
    sp = split_assign(docs, salt).select("doc_id", "split")
    cells = (
        toks.join(sp, "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    total = cells.agg(F.sum("n_tokens").alias("_tot"))
    return (
        cells.join(F.broadcast(total))
        .select(
            "lang",
            "split",
            "n_docs",
            "n_tokens",
            F.floor((F.lit(1000) * F.col("n_tokens")) / F.col("_tot"))
            .cast("long")
            .alias("permille_tokens"),
        )
    )


def corpus_mixture_oracle_sql(salt: str = "s2split") -> str:
    from .dedup import md5_h32_sql

    h = md5_h32_sql(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    cases = []
    lo = 0
    for name, width in SPLIT_PERMILLE:
        cases.append(f"WHEN bucket < {lo + width} THEN '{name}'")
        lo += width
    case = "CASE " + " ".join(cases) + " END"
    return f"""
WITH b AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         ({h}) % 1000 AS bucket
  FROM documents
),
cells AS (
  SELECT lang, {case} AS split, count(*) AS n_docs, sum(n_tokens) AS n_tokens
  FROM b GROUP BY 1, 2
),
tot AS (SELECT sum(n_tokens) AS t FROM cells)
SELECT lang, split, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(floor((1000 * n_tokens) / t) AS BIGINT) AS permille_tokens
FROM cells, tot
"""


def quality_sample(docs: DataFrame, salt: str = "s2qs") -> DataFrame:
    """Quality-weighted importance sampling: keep a document with
    probability equal to its quality score, decided by the deterministic
    hash coin md5_h32(salt || doc_id) % 10000 < floor(quality * 10000)
    — the reproducible soft-filter between hard thresholding (loses all
    low-quality data) and uniform sampling (keeps junk at full rate).
    Like split_assign the verdict is a pure function of the document, so
    re-runs, re-shards, and cluster-size changes never flip a keep.

    Output: (doc_id, quality, keep) for EVERY doc (the audit shape —
    filtering is one `WHERE keep` downstream).  Pure projection, no
    shuffle; floor(quality*10000) is exact on both engines.
    """
    from .dedup import md5_h32

    q = quality_score(docs)
    coin = md5_h32(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))) % 10000
    return q.select(
        "doc_id",
        "quality",
        (coin < F.floor(F.col("quality") * F.lit(10000.0)).cast("long")).alias(
            "keep"
        ),
    )


def quality_sample_oracle_sql(salt: str = "s2qs") -> str:
    from .dedup import md5_h32_sql

    h = md5_h32_sql(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    base = quality_score_oracle_sql()
    return f"""
WITH q AS MATERIALIZED ({base})
SELECT doc_id, quality,
       (({h}) % 10000) < CAST(floor(quality * 10000.0) AS BIGINT) AS keep
FROM q
"""


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """(doc_id, dl, avg_nll): per-document average negative log-likelihood
    under the corpus's own add-one-smoothed unigram LM — the classic
    model-based quality signal (the cheap stand-in for a perplexity
    filter: documents whose token distribution is unlike the corpus
    score high and get reviewed/dropped).

    logp(w) = ln((c(w) + 1) / (N + V)) with corpus counts c, total N,
    vocabulary V; avg_nll = -(sum over tokens of logp) / dl.  All ln
    inputs are rational, so ln_portable_sql's bit-exactness argument
    (see bm25) applies; the per-doc sum folds term-sorted on BOTH sides
    (the bm25 recipe — float addition is order-dependent).

    Scale shape: one explode + two hash aggs; the unigram table joins by
    word (a shuffle join — the vocabulary is NOT assumed broadcastable
    at corpus scale), corpus totals are a 1-row broadcast.
    """
    w = docs.select("doc_id", F.explode(words_col()).alias("w"))
    cw = w.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    glob = cw.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("vocab")
    )
    tf = w.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dl = w.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # the ratio must be computed in DOUBLE: a bare 1.0 makes Spark run
    # (c + 1.0) / (...) in DECIMAL arithmetic whose division rounding is
    # not IEEE double division (measured 1-ulp drift vs DuckDB)
    logp = ln_portable_sql(
        "((CAST(c AS DOUBLE) + 1e0) / CAST(n_total + vocab AS DOUBLE))"
    )
    scored = (
        tf.join(cw, "w")
        .crossJoin(F.broadcast(glob))
        .withColumn("contrib", F.expr(f"CAST(tf AS DOUBLE) * {logp}"))
    )
    folded = scored.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("w", "contrib"))),
            F.lit(0.0),
            lambda acc, s: acc + s["contrib"],
        ).alias("_ll")
    )
    return folded.join(dl, "doc_id").select(
        "doc_id",
        "dl",
        (-F.col("_ll") / F.col("dl").cast("double")).alias("avg_nll"),
    )


def unigram_logprob_oracle_sql() -> str:
    logp = ln_portable_sql(
        "((CAST(c AS DOUBLE) + 1e0) / CAST(n_total + vocab AS DOUBLE))"
    )
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
cw AS MATERIALIZED (SELECT w, count(*) AS c FROM w GROUP BY 1),
gstats AS (SELECT sum(c) AS n_total, count(*) AS vocab FROM cw),
-- the engine side computes the smoothed ratio in DOUBLE (see
-- unigram_logprob); the shared ln fragment below embeds the same casts
tf AS (SELECT doc_id, w, count(*) AS tf FROM w GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.w, CAST(tf AS DOUBLE) * {logp} AS contrib
  FROM tf JOIN cw USING (w) CROSS JOIN gstats
),
folded AS (
  SELECT doc_id,
         list_reduce(list_prepend(0.0, list(contrib ORDER BY w)),
                     (acc, x) -> acc + x) AS _ll
  FROM scored GROUP BY doc_id
)
SELECT f.doc_id, dl, -(_ll) / CAST(dl AS DOUBLE) AS avg_nll
FROM folded f JOIN dl USING (doc_id)
"""


# ---------- token-window chunking ----------

# sliding context windows: the tokenize-and-chunk step every LLM
# training pipeline runs between curation and packing
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def doc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, start, chunk_len, chunk_md5): fixed-size token
    windows with overlap.

    Chunk k covers tokens [k*STRIDE, k*STRIDE + CHUNK); the chunk count
    ceil(max(n - OVERLAP, 1) / STRIDE) guarantees every token is covered
    and the final chunk carries > OVERLAP fresh tokens (no chunk is a
    subset of its predecessor).  chunk_md5 certifies the exact token
    content of every window.

    Scale: one projection + one in-row explode — NO shuffle, no Python;
    at 10^12 docs this is a map-only pass whose output partitioning
    inherits the scan's.
    """
    w = words_col()
    n = F.size(w).cast("long")
    n_chunks = (
        (F.greatest(n - F.lit(CHUNK_OVERLAP), F.lit(1)) + F.lit(CHUNK_STRIDE - 1))
        / F.lit(CHUNK_STRIDE)
    ).cast("long")
    base = docs.select("doc_id", w.alias("w"), n_chunks.alias("nc"))
    out = base.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("nc") - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * F.lit(CHUNK_STRIDE)
    piece = F.slice(F.col("w"), start + 1, F.lit(CHUNK_TOKENS))
    return out.select(
        "doc_id",
        "chunk_id",
        start.cast("long").alias("start"),
        F.size(piece).cast("long").alias("chunk_len"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


def doc_chunks_oracle_sql() -> str:
    s, c, o = CHUNK_STRIDE, CHUNK_TOKENS, CHUNK_OVERLAP
    return f"""
WITH wrds AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST((greatest(len(w) - {o}, 1) + {s - 1}) // {s} AS BIGINT) AS nc
  FROM documents
)
SELECT doc_id,
       gs.chunk_id,
       CAST(gs.chunk_id * {s} AS BIGINT) AS start,
       CAST(len(list_slice(w, gs.chunk_id * {s} + 1, gs.chunk_id * {s} + {c}))
            AS BIGINT) AS chunk_len,
       md5(array_to_string(
           list_slice(w, gs.chunk_id * {s} + 1, gs.chunk_id * {s} + {c}), ' '))
         AS chunk_md5
FROM wrds,
     LATERAL (SELECT unnest(generate_series(0, nc - 1)) AS chunk_id) gs
"""


# ---------- temperature resampling (multilingual data balancing) ----------

#: acceptance-coin resolution (2^20 buckets)
TEMP_COIN_MOD = 1 << 20


def lang_temperature_sample(
    docs: DataFrame, salt: str = "s2temp"
) -> DataFrame:
    """(doc_id, lang, coin, threshold, keep): temperature resampling of
    a multilingual corpus toward p_l^alpha with alpha = 1/2 — the
    standard multilingual-pretraining rebalance (upweight rare
    languages) done as pure downsampling: accept a doc of language l
    with probability a_l = sqrt(tok_min / tok_l), so the kept token
    mass is proportional to sqrt(p_l) and the rarest language keeps
    everything.  alpha is pinned at 1/2 because IEEE sqrt is correctly
    rounded (bit-identical in Spark and DuckDB) while pow(x, a) is not
    — the portable-trig lesson applied to the exponent.

    The accept coin is the split_assign hash rule (md5-h32 of salt ||
    doc_id, mod 2^20): deterministic, stable under re-runs and corpus
    growth of OTHER languages' docs.  Shape: one token-count hash agg
    per language (tiny dim), a broadcast min, and a map-side threshold
    compare — no shuffle of the fact table.
    """
    from .dedup import md5_h32

    toks = docs.select(
        "doc_id", "lang", F.size(words_col()).cast("long").alias("n_tokens")
    )
    lt = toks.groupBy("lang").agg(F.sum("n_tokens").alias("tok_l"))
    mn = lt.agg(F.min("tok_l").alias("tok_min"))
    thr = lt.join(F.broadcast(mn)).select(
        "lang",
        F.floor(
            F.sqrt(
                F.col("tok_min").cast("double")
                / F.col("tok_l").cast("double")
            )
            * F.lit(TEMP_COIN_MOD)
        )
        .cast("long")
        .alias("threshold"),
    )
    coin = F.pmod(
        md5_h32(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))),
        F.lit(TEMP_COIN_MOD),
    ).cast("long")
    return (
        toks.select("doc_id", "lang", coin.alias("coin"))
        .join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "coin",
            "threshold",
            (F.col("coin") < F.col("threshold")).alias("keep"),
        )
    )


def lang_temperature_oracle_sql(salt: str = "s2temp") -> str:
    from .dedup import md5_h32_sql

    key = f"'{salt}:' || CAST(doc_id AS VARCHAR)"
    coin = f"({md5_h32_sql(key)}) % {TEMP_COIN_MOD}"
    return f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
lt AS (SELECT lang, sum(n_tokens) AS tok_l FROM toks GROUP BY 1),
mn AS (SELECT min(tok_l) AS tok_min FROM lt),
thr AS (
  SELECT lang,
         CAST(floor(sqrt(CAST(tok_min AS DOUBLE) / CAST(tok_l AS DOUBLE))
                    * {TEMP_COIN_MOD}) AS BIGINT) AS threshold
  FROM lt, mn
)
SELECT t.doc_id, t.lang, CAST({coin} AS BIGINT) AS coin, thr.threshold,
       ({coin} < thr.threshold) AS keep
FROM toks t JOIN thr USING (lang)
"""


# ---------- tf-idf keyword extraction ----------


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, rnk, term, tf, df, score): the top-k tf-idf keywords of
    every document — idf = ln_portable((N + 1) / (df + 0.5)), the BM25
    idf, so the score doubles are bit-identical across engines.

    Shape: explode words -> one (doc, term) hash agg; per-term df is a
    second hash agg over the (doc, term) pairs (already deduplicated,
    so df counts documents); N is a 1-row broadcast; the top-k pick is
    a row_number window PARTITIONED BY doc_id (per-doc groups — no
    global sort), ties broken by term ascending on both sides.
    """
    w = docs.select("doc_id", F.explode(words_col()).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = ln_portable_sql(
        "((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 0.5))"
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("score", F.expr(f"(tf * {idf})"))
        .withColumn("rnk", F.row_number().over(win).cast("long"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "rnk", "term", "tf", "df", "score")
    )


def tfidf_keywords_oracle_sql(k: int = 3) -> str:
    idf = ln_portable_sql(
        "((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 0.5))"
    )
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df, (tf * {idf}) AS score
  FROM tf JOIN df_t USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df, score
FROM ranked WHERE rnk <= {k}
"""


def domain_cap(docs: DataFrame, cap: int = 10, salt: str = "s2dcap") -> DataFrame:
    """Per-source document cap — the anti-domination rule every web-scale
    corpus applies so one crawl host cannot own the training mixture
    (the C4/Gopher-style "max N documents per domain" curation step).

    Each document draws the deterministic coin md5_h64(salt || doc_id);
    within a source, documents are ranked by (coin, doc_id) and only the
    first ``cap`` survive.  Ranking on the hash coin — not on arrival
    order — makes the kept subset a uniform random sample of the domain
    that is stable across re-runs, re-shards, and cluster sizes (the
    same pure-function-of-the-row contract as split_assign).

    Output: (doc_id, source, n_source_docs, rank_in_source, keep) for
    EVERY document — the audit shape; enforcement is one ``WHERE keep``
    downstream.

    Scale shape: one shuffle on ``source`` + a row_number window.  Skew
    is bounded by the largest domain; at 100 TB the window never
    materializes more than one domain per task, and a domain too large
    for one task is exactly the domain the cap is about to cut to
    ``cap`` rows — so a two-phase per-partition pre-cap (keep the
    ``cap`` smallest coins per partition, then re-rank the survivors,
    which cannot evict a true winner) bounds the shuffle at
    cap * n_partitions rows per domain.
    """
    from .dedup import md5_h64

    coin = md5_h64(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    from pyspark.sql import Window

    win = Window.partitionBy("source").orderBy(
        F.col("coin").asc(), F.col("doc_id").asc()
    )
    n_win = Window.partitionBy("source")
    return (
        docs.select("doc_id", "source", coin.alias("coin"))
        .withColumn("rank_in_source", F.row_number().over(win).cast("long"))
        .withColumn("n_source_docs", F.count(F.lit(1)).over(n_win).cast("long"))
        .select(
            "doc_id",
            "source",
            "n_source_docs",
            "rank_in_source",
            (F.col("rank_in_source") <= cap).alias("keep"),
        )
    )


def domain_cap_oracle_sql(cap: int = 10, salt: str = "s2dcap") -> str:
    """DuckDB replay: identical md5 coin, identical (coin, doc_id) rank."""
    from .dedup import md5_h64_sql

    coin = md5_h64_sql(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH c AS (
  SELECT doc_id, source, ({coin}) AS coin FROM documents
),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY coin ASC, doc_id ASC) AS rnk,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM c
)
SELECT doc_id, source, CAST(n_src AS BIGINT) AS n_source_docs,
       CAST(rnk AS BIGINT) AS rank_in_source, rnk <= {cap} AS keep
FROM r
"""


def domain_cap_enforce(
    docs: DataFrame, cap: int = 10, salt: str = "s2dcap"
) -> DataFrame:
    """Two-phase enforcement variant of :func:`domain_cap` — the shape
    that survives a monster domain at 100 TB.  Phase 1 is a map-side
    pre-cap with NO shuffle: one mapInPandas over the existing
    partitions keeps only the ``cap`` smallest (coin, doc_id) rows per
    source per Arrow batch.  A batch-local cap can never evict a true
    global winner (a top-``cap`` document is top-``cap`` within its own
    batch a fortiori), so phase 2 — the same (source) window as the
    audit variant, now over at most cap x n_batches rows per source
    instead of the whole domain — re-ranks the survivors exactly.

    Output is the ENFORCEMENT shape (doc_id, source, rank_in_source for
    kept rows only), not the audit shape: rows cut in phase 1 have no
    exact global rank, only the guarantee rank > cap.  Equivalence of
    the kept set with the single-window audit is pinned by test.

    The coin is computed JVM-side before the Python crossing, so the
    pandas stage only sorts/slices — no per-row hashing in Python.
    """
    from .dedup import md5_h64

    coin = md5_h64(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
    base = docs.select("doc_id", "source", coin.alias("coin"))

    def precap(pdf):
        return pdf.sort_values(["coin", "doc_id"]).groupby("source", sort=False).head(cap)

    surv = map_batches(base, precap, "doc_id long, source string, coin long")
    from pyspark.sql import Window

    win = Window.partitionBy("source").orderBy(
        F.col("coin").asc(), F.col("doc_id").asc()
    )
    return (
        surv.withColumn("rank_in_source", F.row_number().over(win).cast("long"))
        .where(F.col("rank_in_source") <= cap)
        .select("doc_id", "source", "rank_in_source")
    )
