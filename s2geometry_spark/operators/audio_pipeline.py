"""Audio feature extraction over binary WAV columns — the audio leg of
the multimodal pipeline (builder brief; no s2geometry counterpart).

One FUSED Arrow pass per operator (the BENCH.md rule: never chain
Python stages): decode + invariant verify + every feature in a single
mapInPandas crossing, binary column never cached or shuffled.

All emitted statistics are exact integers (int16 samples -> int64
sums), so results are identical under any partitioning / cluster size
— the same bit-reproducibility contract as the rest of the repo.  The
features are the standard cheap audio-curation screens: peak/clipping
(recording quality), RMS energy via sum of squares (silence filter),
zero-crossing count (crude spectral content / noisiness).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import map_batches
from ..kernels import wavcodec

_FEAT_SCHEMA = (
    "audio_id string, rate int, channels int, n_samples int, "
    "duration_us long, peak long, sum_sq long, zero_crossings long, "
    "clip_count long, invariant_ok boolean"
)


def audio_features(audio: DataFrame) -> DataFrame:
    """(audio_id, rate, channels, n_samples, duration_us, peak, sum_sq,
    zero_crossings, clip_count, invariant_ok): decode each WAV and
    extract integer features.  ``invariant_ok`` verifies the typed
    metadata AGAINST THE DECODED STREAM (rate/channels/n_samples/
    duration match) — the multimodal analog of the image PSNR/caption
    invariant, exact because PCM is lossless."""

    def features(pdf):
        rows = []
        for r in pdf.itertuples():
            s, rate = wavcodec.decode_wav(r.bytes)
            n, ch = s.shape
            x = s.astype(np.int64)
            mono = x.sum(axis=1)  # exact channel fold
            sgn = np.sign(mono)
            nz = sgn[sgn != 0]
            zc = int((nz[1:] != nz[:-1]).sum()) if len(nz) > 1 else 0
            ok = (
                rate == r.rate
                and ch == r.channels
                and n == r.n_samples
                and n * 1_000_000 // rate == r.duration_us
            )
            rows.append(
                (
                    r.audio_id,
                    rate,
                    ch,
                    n,
                    n * 1_000_000 // rate,
                    int(np.abs(x).max()) if n else 0,
                    int((x * x).sum()),
                    zc,
                    int((np.abs(s.astype(np.int64)) >= 32767).sum()),
                    bool(ok),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "audio_id",
                "rate",
                "channels",
                "n_samples",
                "duration_us",
                "peak",
                "sum_sq",
                "zero_crossings",
                "clip_count",
                "invariant_ok",
            ],
        )

    return map_batches(audio, features, _FEAT_SCHEMA)


_FRAME_SCHEMA = (
    "audio_id string, frame int, start_sample int, n int, "
    "peak long, sum_sq long"
)


def audio_frame_energy(audio: DataFrame, frame_len: int = 512) -> DataFrame:
    """Fixed-window frame energies (the audio analog of video frame
    sampling): per ``frame_len``-sample window, exact integer peak and
    sum-of-squares over the channel-summed signal.  One fused decode
    pass; frames explode INSIDE the Arrow batch (map-only at scale)."""

    def frames(pdf):
        out = {
            "audio_id": [],
            "frame": [],
            "start_sample": [],
            "n": [],
            "peak": [],
            "sum_sq": [],
        }
        for r in pdf.itertuples():
            s, _rate = wavcodec.decode_wav(r.bytes)
            mono = s.astype(np.int64).sum(axis=1)
            for f in range(0, len(mono), frame_len):
                w = mono[f : f + frame_len]
                out["audio_id"].append(r.audio_id)
                out["frame"].append(f // frame_len)
                out["start_sample"].append(f)
                out["n"].append(len(w))
                out["peak"].append(int(np.abs(w).max()))
                out["sum_sq"].append(int((w * w).sum()))
        return pd.DataFrame(out)

    return map_batches(audio, frames, _FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# DuckDB oracle: the WAV pipeline replayed ANALYTICALLY (no bytes).
# splitmix64's mod-2^64 arithmetic is exactly expressible in HUGEINT SQL
# via 32-bit split multiplication + xor() — which upgrades this query
# from rows-only to hash-checked: the oracle regenerates every sample
# from the generator's integer recurrence and recomputes the features,
# so a corruption anywhere in encode_wav/decode_wav/feature extraction
# breaks value parity.
# ---------------------------------------------------------------------------

_M64 = 1 << 64
_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB


def _mul64(a: str, b: str) -> str:
    """(a * b) mod 2^64 over HUGEINT via 32-bit split partials (a full
    128-bit product would overflow int128 for 64-bit operands)."""
    return (
        f"(((({a}) % 4294967296) * (({b}) % 4294967296) "
        f"+ ((((({a}) % 4294967296) * (({b}) // 4294967296)) "
        f"+ ((({a}) // 4294967296) * (({b}) % 4294967296))) % 4294967296) "
        f"* 4294967296) % {_M64})"
    )


def _xs(z: str, s: int) -> str:
    """z ^ (z >> s) over HUGEINT."""
    return f"xor(CAST(({z}) AS HUGEINT), CAST(({z}) // {1 << s} AS HUGEINT))"


def audio_features_oracle_sql(n_rows: int) -> str:
    """Analytic replay of q_audio_features for the ``n_rows``-row
    generated WAV table (sources/audio.make_audio_row +
    kernels/wavcodec.gen_samples, both pure integer recurrences):
    per-id metadata from splitmix64(idx ^ 0xA0D10), per-sample values
    from the two square waves + the truncated-splitmix noise chain,
    then exact-integer peak / sum-of-squares / zero-crossings.
    clip_count is structurally 0 (|sample| <= 15 048) and invariant_ok
    TRUE (PCM is lossless) — both pinned."""
    return f"""WITH ids AS (
  SELECT CAST(range AS HUGEINT) AS idx FROM range(0, {n_rows})
),
hx AS (SELECT idx, (CAST(xor(CAST(idx AS BIGINT), {0xA0D10}) AS HUGEINT)
                    + {_SM_GAMMA}) % {_M64} AS z0 FROM ids),
h1 AS (SELECT idx, {_xs("z0", 30)} AS z1 FROM hx),
h2 AS (SELECT idx, {_mul64("z1", str(_SM_M1))} AS z2 FROM h1),
h3 AS (SELECT idx, {_xs("z2", 27)} AS z3 FROM h2),
h4 AS (SELECT idx, {_mul64("z3", str(_SM_M2))} AS z4 FROM h3),
h64 AS (SELECT idx, {_xs("z4", 31)} AS h FROM h4),
meta AS (
  SELECT idx,
         CASE idx % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS rate,
         CAST(1 + h % 2 AS BIGINT) AS channels,
         CAST(256 + (h // 256) % 3841 AS BIGINT) AS n
  FROM h64
),
tc AS (
  SELECT m.idx, m.rate, m.channels, m.n,
         CAST(t.range AS HUGEINT) AS t, CAST(c.c AS HUGEINT) AS c
  FROM meta m
  CROSS JOIN range(0, 4097) t
  CROSS JOIN (VALUES (0), (1)) c(c)
  WHERE t.range < m.n AND c.c < m.channels
),
sc AS (
  SELECT *, (idx * 1000003 + c * 7919 + 13) AS seed FROM tc
),
pp AS (
  SELECT *, 20 + seed % 90 AS p1, 7 + (seed // 256) % 40 AS p2,
         (t + seed) % {_M64} AS za
  FROM sc
),
n1 AS (SELECT *, {_mul64("za", str(_SM_GAMMA))} AS zb FROM pp),
n2 AS (SELECT *, {_xs("zb", 30)} AS zc FROM n1),
n3 AS (SELECT *, {_mul64("zc", str(_SM_M1))} AS zd FROM n2),
n4 AS (SELECT *, {_xs("zd", 27)} AS ze FROM n3),
n5 AS (SELECT *, {_mul64("ze", str(_SM_M2))} AS zf FROM n4),
samp AS (
  SELECT idx, rate, channels, n, t,
    CAST(CASE WHEN (t // p1) % 2 = 0 THEN 9000 ELSE -9000 END
         + CASE WHEN (t // p2) % 2 = 0 THEN 4000 ELSE -4000 END
         + (zf // {1 << 52}) - 2048 AS BIGINT) AS s
  FROM n5
),
mono AS (
  SELECT idx, rate, channels, n, t,
         sum(s) AS mono, max(abs(s)) AS pk_t, sum(s * s) AS ss_t
  FROM samp GROUP BY idx, rate, channels, n, t
),
feat AS (
  SELECT idx, rate, channels, n,
         max(pk_t) AS peak, sum(ss_t) AS sum_sq
  FROM mono GROUP BY idx, rate, channels, n
),
sgns AS (
  SELECT idx, t, CASE WHEN mono > 0 THEN 1 ELSE -1 END AS sgn
  FROM mono WHERE mono <> 0
),
zc AS (
  SELECT idx, coalesce(sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
                                THEN 1 ELSE 0 END), 0) AS zcs
  FROM (
    SELECT idx, sgn, lag(sgn) OVER (PARTITION BY idx ORDER BY t) AS prev
    FROM sgns
  ) GROUP BY idx
)
SELECT printf('aud%012d', CAST(f.idx AS BIGINT)) AS audio_id,
       CAST(f.rate AS INTEGER) AS rate,
       CAST(f.channels AS INTEGER) AS channels,
       CAST(f.n AS INTEGER) AS n_samples,
       CAST(f.n * 1000000 // f.rate AS BIGINT) AS duration_us,
       CAST(f.peak AS BIGINT) AS peak,
       CAST(f.sum_sq AS BIGINT) AS sum_sq,
       CAST(coalesce(z.zcs, 0) AS BIGINT) AS zero_crossings,
       CAST(0 AS BIGINT) AS clip_count,
       TRUE AS invariant_ok
FROM feat f LEFT JOIN zc z ON z.idx = f.idx
ORDER BY audio_id"""
