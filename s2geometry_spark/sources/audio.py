"""Deterministic audio table generator — the audio leg of the
multimodal axis (builder brief), mirroring sources/images.

Every row is a pure function of its index: rate/channels/length derive
from splitmix64(idx), samples from the integer waveform generator
(kernels/wavcodec.gen_samples), bytes are a REAL canonical PCM16 WAV
(kernels/wavcodec.encode_wav).  The metadata columns (rate, channels,
n_samples, duration_us) are the TYPED-METADATA invariant surface:
decoding must reproduce them exactly, and PCM being lossless the
decoded samples must equal the regenerated source bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import map_batches
from ..kernels import wavcodec
from ..kernels.geotag import splitmix64
from .images import n_images_for_sf_dir

AUDIO_SCHEMA = StructType(
    [
        StructField("audio_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("rate", IntegerType(), False),
        StructField("channels", IntegerType(), False),
        StructField("n_samples", IntegerType(), False),
        StructField("duration_us", LongType(), False),
    ]
)

RATES = (8000, 16000, 22050)


def make_audio_row(idx: int) -> dict:
    h64 = splitmix64(np.asarray([idx ^ 0xA0D10], np.uint64))[0]
    rate = RATES[idx % len(RATES)]
    channels = 1 + int(h64 % np.uint64(2))
    n = 256 + int((h64 >> np.uint64(8)) % np.uint64(3841))
    samples = wavcodec.gen_samples(idx, n, channels)
    return {
        "audio_id": f"aud{idx:012d}",
        "bytes": wavcodec.encode_wav(samples, rate),
        "rate": rate,
        "channels": channels,
        "n_samples": n,
        "duration_us": n * 1_000_000 // rate,
    }


def n_audio_for_sf_dir(sf_dir: str) -> int:
    """Audio row count per scale factor — images // 20."""
    return max(32, n_images_for_sf_dir(sf_dir) // 20)


def audio_df(
    spark: SparkSession, n: int, num_partitions: int | None = None
) -> DataFrame:
    num_partitions = num_partitions or max(
        8, spark.sparkContext.defaultParallelism
    )

    def gen(pdf):
        rows = [make_audio_row(int(i)) for i in pdf["id"]]
        return pd.DataFrame(rows, columns=AUDIO_SCHEMA.fieldNames())

    rng = spark.range(0, n, numPartitions=min(num_partitions, max(1, n)))
    return map_batches(rng, gen, AUDIO_SCHEMA)


# ---------- near-dup fixture (planted variants) ----------

#: every k-th base audio gets two planted near-duplicate variants
DEDUP_VARIANT_EVERY = 5
#: hop-aligned time shift used by the "_sh" variant (whole hops keep
#: the landmark frames aligned — kernels/audiofp invariance contract)
DEDUP_SHIFT = 256

DEDUP_SCHEMA = StructType(
    [
        StructField("audio_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
    ]
)


def make_audio_dedup_rows(idx: int) -> list[dict]:
    """Base waveform (length >= 1500 so variants keep enough frames)
    plus, for every DEDUP_VARIANT_EVERY-th index, an exact x2-gain copy
    ("_g2" — generator peak 15048 so 2x still fits int16) and a copy
    time-shifted by DEDUP_SHIFT samples ("_sh").  Pure function of idx."""
    h64 = splitmix64(np.asarray([idx ^ 0x5EED], np.uint64))[0]
    rate = RATES[idx % len(RATES)]
    channels = 1 + int(h64 % np.uint64(2))
    n = 1500 + int((h64 >> np.uint64(8)) % np.uint64(2000))
    samples = wavcodec.gen_samples(idx, n, channels)
    rows = [
        {
            "audio_id": f"aud{idx:012d}",
            "bytes": wavcodec.encode_wav(samples, rate),
        }
    ]
    if idx % DEDUP_VARIANT_EVERY == 0:
        g2 = (samples.astype(np.int32) * 2).astype(np.int16)
        rows.append(
            {
                "audio_id": f"aud{idx:012d}_g2",
                "bytes": wavcodec.encode_wav(g2, rate),
            }
        )
        rows.append(
            {
                "audio_id": f"aud{idx:012d}_sh",
                "bytes": wavcodec.encode_wav(samples[DEDUP_SHIFT:], rate),
            }
        )
    return rows


def audio_dedup_df(
    spark: SparkSession, n: int, num_partitions: int | None = None
) -> DataFrame:
    num_partitions = num_partitions or max(
        8, spark.sparkContext.defaultParallelism
    )

    def gen(pdf):
        rows = [
            r
            for i in pdf["id"]
            for r in make_audio_dedup_rows(int(i))
        ]
        return pd.DataFrame(rows, columns=DEDUP_SCHEMA.fieldNames())

    rng = spark.range(0, n, numPartitions=min(num_partitions, max(1, n)))
    return map_batches(rng, gen, DEDUP_SCHEMA)
