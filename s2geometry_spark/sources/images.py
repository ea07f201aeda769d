"""Deterministic synthetic `images` table (BASELINE.json input_hint).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long) — generated fully distributed with
``spark.range(n) -> mapInPandas``: no driver-side materialization, so the
same generator scales to any row count on a real cluster (each partition
synthesizes its own rows from its id range; the output is a pure function
of the row index).

Row derivation (all from splitmix64 of the index):
  * w,h in [8, 24] — tiny on purpose; payload size is irrelevant to the
    plan shape, only the bytes->decode->verify dataflow matters.
  * fmt cycles raw / rle / qnt / png / jpeg (three lossless codecs +
    the synthetic lossy qnt + REAL baseline JFIF at q=98, both of which
    genuinely exercise the PSNR >= 40 dB branch of the invariant).
  * caption = deterministic word sentence (exact-equality invariant).
  * phash = average-hash of the SOURCE pixels (the geotag metadata key).
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
from ..kernels import imagecodec
from ..kernels.geotag import splitmix64

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
    ]
)

FMTS = ("raw", "rle", "qnt", "png", "jpeg")
_WORDS = (
    "harbor mountain sunset forest bridge market temple desert river tower "
    "glacier meadow island canyon lighthouse orchard plaza reef valley dune"
).split()


def caption_for(idx: int) -> str:
    h = int(splitmix64(np.asarray([idx ^ 0x5CA1AB1E], np.uint64))[0])
    w1 = _WORDS[h % len(_WORDS)]
    w2 = _WORDS[(h >> 8) % len(_WORDS)]
    return f"photo {idx:012d}: a {w1} near the {w2}"


def make_row(idx: int, px_scale: int = 1) -> dict:
    """One deterministic image row; pure function of (idx, px_scale).

    ``px_scale`` multiplies the image dimensions (default tiny images for
    fast tests; the scaling benchmark uses larger ones so per-row decode
    cost resembles real thumbnails).  The invariant checker regenerates
    the source from the DECODED dimensions, so any px_scale verifies.
    """
    h64 = splitmix64(np.asarray([idx], np.uint64))[0]
    w = (8 + int(h64 % np.uint64(17))) * px_scale
    h = (8 + int((h64 >> np.uint64(8)) % np.uint64(17))) * px_scale
    fmt = FMTS[idx % len(FMTS)]
    pixels = imagecodec.gen_pixels(idx, w, h)
    return {
        "image_id": f"img{idx:012d}",
        "bytes": imagecodec.encode(pixels, fmt),
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(idx),
        "phash": imagecodec.phash64(pixels),
    }


def images_df(
    spark: SparkSession,
    n: int,
    num_partitions: int | None = None,
    px_scale: int = 1,
) -> DataFrame:
    num_partitions = num_partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(pdf):
        rows = [make_row(int(i), px_scale) for i in pdf["id"]]
        return pd.DataFrame(rows, columns=IMAGES_SCHEMA.fieldNames())

    rng = spark.range(0, n, numPartitions=min(num_partitions, max(1, n)))
    return map_batches(rng, gen, IMAGES_SCHEMA)


def n_images_for_sf_dir(sf_dir: str) -> int:
    """Deterministic row count per scale factor (parsed from the dir name)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.001
    return max(300, int(round(sf * 120_000)))


def source_pixels(idx: int) -> np.ndarray:
    """Regenerate the pre-encoding source pixels for invariant checks."""
    h64 = splitmix64(np.asarray([idx], np.uint64))[0]
    w = 8 + int(h64 % np.uint64(17))
    h = 8 + int((h64 >> np.uint64(8)) % np.uint64(17))
    return imagecodec.gen_pixels(idx, w, h)


# ---------- deterministic fake video payloads (multimodal plumbing) ----------

VIDEOS_SCHEMA = StructType(
    [
        StructField("video_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("fps", IntegerType(), False),
    ]
)


def gen_video_frames(idx: int, w: int, h: int, n_frames: int) -> np.ndarray:
    """(n_frames, h, w, 3) deterministic fake frames — frame f is the
    image generator seeded by (idx, f), standing in for a real decoder
    (kernels.imagecodec.decode_video is the stubbed real-codec slot)."""
    return np.stack(
        [imagecodec.gen_pixels(idx * 1_000_003 + f, w, h) for f in range(n_frames)]
    )


def make_video_row(idx: int) -> dict:
    h64 = splitmix64(np.asarray([idx ^ 0x71DE0], np.uint64))[0]
    w = 8 + int(h64 % np.uint64(9))
    h = 8 + int((h64 >> np.uint64(8)) % np.uint64(9))
    n_frames = 8 + int((h64 >> np.uint64(16)) % np.uint64(25))
    frames = gen_video_frames(idx, w, h, n_frames)
    return {
        "video_id": f"vid{idx:012d}",
        # REAL container: concatenated baseline JFIF frames (MJPEG) —
        # the demuxer in imagecodec.decode_video parses actual marker
        # streams, no external codec library needed
        "bytes": imagecodec.encode_video(frames),
        "w": w,
        "h": h,
        "n_frames": n_frames,
        "fps": 24,
    }


def n_videos_for_sf_dir(sf_dir: str) -> int:
    """Video row count per scale factor — images//100 (videos carry ~20
    frames each, so the decoded-frame volume stays comparable)."""
    return max(16, n_images_for_sf_dir(sf_dir) // 100)


def videos_df(spark: SparkSession, n: int, num_partitions: int | None = None) -> DataFrame:
    num_partitions = num_partitions or max(8, spark.sparkContext.defaultParallelism)

    def gen(pdf):
        rows = [make_video_row(int(i)) for i in pdf["id"]]
        return pd.DataFrame(rows, columns=VIDEOS_SCHEMA.fieldNames())

    rng = spark.range(0, n, numPartitions=min(num_partitions, max(1, n)))
    return map_batches(rng, gen, VIDEOS_SCHEMA)
