"""Audio near-duplicate detection over binary WAV columns.

The audio leg of the near-dup family (builder brief; cousin of
operators/image_dedup).  One FUSED Arrow pass decodes each WAV and
emits its integer landmark fingerprint (kernels/audiofp — exact int64
WHT hashing, no float anywhere), then a pure-Catalyst inverted-index
self-join on the 40-bit hashes finds candidate pairs and scores them by
shared-hash count:

    match_frac = shared / min(|fp_a|, |fp_b|)   (>= threshold -> dup)

Scale shape (the minhash/LSH recipe, operators/dedup.py): the binary
column never leaves the decode stage; hashes explode into (hash,
audio_id) postings; ONE shuffle on the uniform hash key builds the
index; postings with document frequency > MAX_DF are dropped before
pairing (stop-hash rule — a degenerate hash shared by k audios would
otherwise fan out k^2 candidate rows), and candidate dedup happens
AFTER the cheap count aggregation on 2 narrow columns.  Pair emission
is a per-hash pandas-free JVM join (a < b), so the whole operator is
decode + codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels import audiofp, wavcodec

#: drop hashes appearing in more than this many audios (stop-hashes);
#: at the fixture's similarity structure the planted variants share
#: nearly all hashes while unrelated audios share isolated ones, so a
#: generous cap only guards the quadratic blowup.
MAX_DF = 64

_FP_SCHEMA = "audio_id string, n_hashes long, h long"


def audio_fingerprints(audio: DataFrame) -> DataFrame:
    """(audio_id, n_hashes, h): one exploded posting row per landmark
    hash.  Decode + WHT + hashing in a single mapInPandas crossing."""

    def fingerprints(pdf):
        ids, counts, hs = [], [], []
        for r in pdf.itertuples():
            s, _rate = wavcodec.decode_wav(r.bytes)
            f = audiofp.fingerprint(s)
            ids.extend([r.audio_id] * len(f))
            counts.extend([len(f)] * len(f))
            hs.append(f)
        return pd.DataFrame(
            {"audio_id": ids, "n_hashes": counts, "h": np.concatenate(hs)}
        )

    return map_batches(audio.select("audio_id", "bytes"), fingerprints, _FP_SCHEMA)


def audio_near_dup_pairs(
    audio: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """(audio_a, audio_b, shared, n_a, n_b, match_permille) for every
    pair with match_frac >= threshold; match_permille is the exact
    integer 1000*shared*min(n)^-1 floor (no float compare)."""
    fp = audio_fingerprints(audio)
    df = fp.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    posts = fp.join(df.where(F.col("df") <= MAX_DF).select("h"), "h")
    a = posts.select(
        "h",
        F.col("audio_id").alias("audio_a"),
        F.col("n_hashes").alias("n_a"),
    )
    b = posts.select(
        "h",
        F.col("audio_id").alias("audio_b"),
        F.col("n_hashes").alias("n_b"),
    )
    pairs = (
        a.join(b, "h")
        .where(F.col("audio_a") < F.col("audio_b"))
        .groupBy("audio_a", "audio_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    mn = F.least(F.col("n_a"), F.col("n_b"))
    permille = F.floor(F.col("shared") * 1000 / mn).cast("long")
    return (
        pairs.withColumn("match_permille", permille)
        .where(F.col("match_permille") >= int(threshold * 1000))
        .select(
            "audio_a", "audio_b", "shared", "n_a", "n_b",
            "match_permille",
        )
    )


def audio_near_dup_oracle_sql(n_rows: int, threshold: float = 0.8) -> str:
    """Analytic replay of q_audio_near_dup WITHOUT touching any WAV
    bytes (the audio_features_oracle_sql recipe, extended to the full
    constellation pipeline): the dedup fixture's base + x2-gain +
    hop-shift waveforms regenerate from the generator's integer
    recurrence (splitmix64 in HUGEINT SQL), every Walsh-Hadamard
    coefficient is the EXACT sign aggregate
    sum((-1)^popcount(k AND t) * mono[t]) — bit-identical to the
    butterfly fwht (pinned in tests/test_audio_dedup.py) — and the
    per-band peaks, joint signatures, consecutive-frame hashes,
    stop-hash cap, and shared-count refinement replay as plain
    aggregates and joins.  ~60M intermediate sign rows at the gate's
    sf0.01 scale: heavy for an oracle, fine for DuckDB."""
    from .audio_pipeline import _M64, _SM_GAMMA, _SM_M1, _SM_M2, _mul64, _xs
    from ..kernels.audiofp import FRAME, HOP
    from ..sources.audio import DEDUP_SHIFT, DEDUP_VARIANT_EVERY

    return f"""WITH ids AS (
  SELECT CAST(range AS HUGEINT) AS idx FROM range(0, {n_rows})
),
hx AS (SELECT idx, (CAST(xor(CAST(idx AS BIGINT), {0x5EED}) AS HUGEINT)
                    + {_SM_GAMMA}) % {_M64} AS z0 FROM ids),
h1 AS (SELECT idx, {_xs("z0", 30)} AS z1 FROM hx),
h2 AS (SELECT idx, {_mul64("z1", str(_SM_M1))} AS z2 FROM h1),
h3 AS (SELECT idx, {_xs("z2", 27)} AS z3 FROM h2),
h4 AS (SELECT idx, {_mul64("z3", str(_SM_M2))} AS z4 FROM h3),
h64 AS (SELECT idx, {_xs("z4", 31)} AS h FROM h4),
meta AS (
  SELECT idx, CAST(1 + h % 2 AS BIGINT) AS channels,
         CAST(1500 + (h // 256) % 2000 AS BIGINT) AS n
  FROM h64
),
vars AS (
  SELECT idx, printf('aud%012d', CAST(idx AS BIGINT)) AS audio_id,
         0 AS off, 1 AS gain, n AS len FROM meta
  UNION ALL
  SELECT idx, printf('aud%012d_g2', CAST(idx AS BIGINT)),
         0, 2, n FROM meta WHERE idx % {DEDUP_VARIANT_EVERY} = 0
  UNION ALL
  SELECT idx, printf('aud%012d_sh', CAST(idx AS BIGINT)),
         {DEDUP_SHIFT}, 1, n - {DEDUP_SHIFT}
  FROM meta WHERE idx % {DEDUP_VARIANT_EVERY} = 0
),
chanpos AS (
  SELECT m.idx, CAST(p.range AS HUGEINT) AS p, CAST(c.c AS HUGEINT) AS c
  FROM meta m
  CROSS JOIN range(0, 3500) p
  CROSS JOIN (VALUES (0), (1)) c(c)
  WHERE p.range < m.n AND c.c < m.channels
),
sc AS (SELECT *, (idx * 1000003 + c * 7919 + 13) AS seed FROM chanpos),
pp AS (
  SELECT *, 20 + seed % 90 AS p1, 7 + (seed // 256) % 40 AS p2,
         (p + seed) % {_M64} AS za
  FROM sc
),
n1 AS (SELECT *, {_mul64("za", str(_SM_GAMMA))} AS zb FROM pp),
n2 AS (SELECT *, {_xs("zb", 30)} AS zc FROM n1),
n3 AS (SELECT *, {_mul64("zc", str(_SM_M1))} AS zd FROM n2),
n4 AS (SELECT *, {_xs("zd", 27)} AS ze FROM n3),
n5 AS (SELECT *, {_mul64("ze", str(_SM_M2))} AS zf FROM n4),
samp AS (
  SELECT idx, p,
    CAST(CASE WHEN (p // p1) % 2 = 0 THEN 9000 ELSE -9000 END
         + CASE WHEN (p // p2) % 2 = 0 THEN 4000 ELSE -4000 END
         + (zf // {1 << 52}) - 2048 AS BIGINT) AS s
  FROM n5
),
mono AS MATERIALIZED (
  SELECT idx, CAST(p AS BIGINT) AS p, sum(s) AS v FROM samp GROUP BY idx, p
),
vf AS (
  SELECT v.idx, v.audio_id, v.off, v.gain, CAST(f.range AS BIGINT) AS f
  FROM vars v CROSS JOIN range(0, 32) f
  WHERE f.range < (v.len - {FRAME}) // {HOP} + 1
),
sgn AS MATERIALIZED (
  SELECT CAST(k.range AS BIGINT) AS k, CAST(t.range AS BIGINT) AS t,
         1 - 2 * (bit_count(CAST(k.range AS BIGINT) & CAST(t.range AS BIGINT)) % 2) AS sg
  FROM range(1, 129) k CROSS JOIN range(0, {FRAME}) t
),
coef AS MATERIALIZED (
  SELECT vf.audio_id, vf.f, s.k,
         abs(sum(s.sg * m.v)) * max(vf.gain) AS a
  FROM vf
  JOIN sgn s ON TRUE
  JOIN mono m ON m.idx = vf.idx AND m.p = vf.off + vf.f * {HOP} + s.t
  GROUP BY vf.audio_id, vf.f, s.k
),
pk AS (
  SELECT audio_id, f, (k - 1) // 32 AS band, (k - 1) % 32 AS rel,
         row_number() OVER (PARTITION BY audio_id, f, (k - 1) // 32
                            ORDER BY a DESC, k) AS rn
  FROM coef
),
sig AS (
  SELECT audio_id, f,
         sum(rel * CASE band WHEN 0 THEN 32768 WHEN 1 THEN 1024
                             WHEN 2 THEN 32 ELSE 1 END) AS sg
  FROM pk WHERE rn = 1 GROUP BY audio_id, f
),
hh AS (
  SELECT audio_id, sg * 1048576 + lead(sg) OVER w AS h
  FROM sig WINDOW w AS (PARTITION BY audio_id ORDER BY f)
  QUALIFY lead(sg) OVER w IS NOT NULL
),
fp AS (SELECT DISTINCT audio_id, CAST(h AS BIGINT) AS h FROM hh),
nh AS (SELECT audio_id, count(*) AS n_hashes FROM fp GROUP BY audio_id),
dff AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= {MAX_DF}),
posts AS (SELECT fp.audio_id, fp.h, nh.n_hashes
          FROM fp JOIN dff USING (h) JOIN nh USING (audio_id)),
pairs AS (
  SELECT a.audio_id AS audio_a, b.audio_id AS audio_b,
         a.n_hashes AS n_a, b.n_hashes AS n_b, count(*) AS shared
  FROM posts a JOIN posts b ON a.h = b.h AND a.audio_id < b.audio_id
  GROUP BY a.audio_id, b.audio_id, a.n_hashes, b.n_hashes
)
SELECT audio_a, audio_b, CAST(shared AS BIGINT) AS shared,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST((shared * 1000) // least(n_a, n_b) AS BIGINT) AS match_permille
FROM pairs
WHERE (shared * 1000) // least(n_a, n_b) >= {int(threshold * 1000)}
ORDER BY audio_a, audio_b"""
