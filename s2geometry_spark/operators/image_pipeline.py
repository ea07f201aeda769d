"""The north-rule image pipeline: geotag -> tile -> join -> verify.

Every image row is geotagged to a sphere point from its METADATA (the
phash column, per BASELINE.json: "each image geotagged to a sphere point
via its metadata"), assigned S2 tiling cells, joined against broadcast
polygon sets, and carries the per-row invariant through every operator:
decoded pixels ≈ source (exact for lossless fmts, PSNR ≥ 40 dB for
lossy) and caption exact-equality.

Boundary discipline: geotag+encode is ONE pandas UDF crossing; tiling
columns and xyz reconstruction are pure SQL; decode/verify/feature-
extract are Arrow-batched ``mapInPandas`` (per-image NumPy inside the
batch — the only sane shape for variable-size binary payloads).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import functions as s2f
from ..functions import map_batches
from ..kernels import cellid, imagecodec
from ..kernels.geotag import geotag_from_index
from .contains_join import RegionIndex, contains_join

GEO_SCHEMA = StructType(
    [
        StructField("lat", DoubleType(), False),
        StructField("lng", DoubleType(), False),
        StructField("cell", LongType(), False),
    ]
)


def _geotag_frame(phash: pd.Series) -> pd.DataFrame:
    """phash (int64 metadata) -> (lat, lng, leaf cell biased int64)."""
    key = phash.to_numpy(np.int64).astype(np.uint64)  # reinterpret bits
    lat, lng = geotag_from_index(key)
    ids = cellid.from_latlng_degrees(lat, lng)
    return pd.DataFrame({"lat": lat, "lng": lng, "cell": cellid.to_biased(ids)})


@pandas_udf(GEO_SCHEMA)
def geotag_cell_from_phash(phash: pd.Series) -> pd.DataFrame:
    return _geotag_frame(phash)


def with_geotag(images: DataFrame) -> DataFrame:
    """Adds lat, lng, cell (one Python-boundary crossing)."""
    g = geotag_cell_from_phash(F.col("phash"))
    return (
        images.withColumn("_g", g)
        .select("*", "_g.lat", "_g.lng", "_g.cell")
        .drop("_g")
    )


def with_xyz(df: DataFrame, lat: str = "lat", lng: str = "lng") -> DataFrame:
    """Unit direction vector from lat/lng — pure SQL trig (JVM codegen)."""
    la, ln = F.radians(F.col(lat)), F.radians(F.col(lng))
    return (
        df.withColumn("x", F.cos(la) * F.cos(ln))
        .withColumn("y", F.cos(la) * F.sin(ln))
        .withColumn("z", F.sin(la))
    )


# ---------- invariant verification (decode vs source) ----------

VERIFY_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("fmt", StringType(), False),
        StructField("psnr_db", DoubleType(), False),
        StructField("caption_ok", BooleanType(), False),
        StructField("pixels_ok", BooleanType(), False),
    ]
)


def _pixels_ok(fmt: str, src: np.ndarray, decoded: np.ndarray, psnr=None) -> bool:
    """Decoded pixels match the source: exactly for lossless formats,
    within PSNR_MIN_DB for lossy ones (``psnr`` if already computed)."""
    if fmt in imagecodec.LOSSLESS:
        return bool(np.array_equal(src, decoded))
    if psnr is None:
        psnr = imagecodec.psnr_db(src, decoded)
    return bool(psnr >= imagecodec.PSNR_MIN_DB)


def _luma(px: np.ndarray) -> np.ndarray:
    """Rec. 601 luma of an (h, w, 3) RGB image, float64."""
    p = px.astype(np.float64)
    return 0.299 * p[:, :, 0] + 0.587 * p[:, :, 1] + 0.114 * p[:, :, 2]


def _verify_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    from ..sources.images import caption_for

    out = []
    for row in pdf.itertuples(index=False):
        idx = int(row.image_id[3:])
        decoded, fmt = imagecodec.decode(bytes(row.bytes))
        # regenerate the source at the DECODED dimensions: pixels are a
        # pure function of (idx, w, h), so any px_scale verifies
        src = imagecodec.gen_pixels(idx, decoded.shape[1], decoded.shape[0])
        psnr = imagecodec.psnr_db(src, decoded)
        pixels_ok = _pixels_ok(fmt, src, decoded, psnr)
        out.append(
            {
                "image_id": row.image_id,
                "fmt": fmt,
                "psnr_db": 999.0 if np.isinf(psnr) else float(psnr),
                "caption_ok": row.caption == caption_for(idx),
                "pixels_ok": pixels_ok,
            }
        )
    return pd.DataFrame(out, columns=VERIFY_SCHEMA.fieldNames())


def verify_invariants(images: DataFrame) -> DataFrame:
    """Per-row invariant table (decode + PSNR + caption equality)."""
    cols = images.select("image_id", "bytes", "caption")
    return map_batches(cols, _verify_frame, VERIFY_SCHEMA)


def invariant_violations(images: DataFrame) -> DataFrame:
    v = verify_invariants(images)
    return v.where(~(F.col("caption_ok") & F.col("pixels_ok")))


# ---------- video invariants (real MJPEG container vs source frames) ----------

VIDEO_VERIFY_SCHEMA = StructType(
    [
        StructField("video_id", StringType(), False),
        StructField("fmt", StringType(), False),
        StructField("psnr_db", DoubleType(), False),
        StructField("meta_ok", BooleanType(), False),
        StructField("pixels_ok", BooleanType(), False),
    ]
)


def _video_verify_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    from ..sources.images import gen_video_frames

    out = []
    for row in pdf.itertuples(index=False):
        idx = int(row.video_id[3:])
        decoded = imagecodec.decode_video(bytes(row.bytes))
        src = gen_video_frames(idx, int(row.w), int(row.h), int(row.n_frames))
        meta_ok = decoded.shape == src.shape
        psnr = (
            min(imagecodec.psnr_db(s, d) for s, d in zip(src, decoded))
            if meta_ok
            else 0.0
        )
        out.append(
            {
                "video_id": row.video_id,
                "fmt": "mjpg",
                "psnr_db": 999.0 if np.isinf(psnr) else float(psnr),
                "meta_ok": bool(meta_ok),
                "pixels_ok": bool(meta_ok and psnr >= imagecodec.PSNR_MIN_DB),
            }
        )
    return pd.DataFrame(out, columns=VIDEO_VERIFY_SCHEMA.fieldNames())


def verify_video_invariants(videos: DataFrame) -> DataFrame:
    """Per-video invariant table: the MJPEG container demuxes to the
    metadata geometry and every frame reconstructs its source at
    PSNR >= 40 dB (worst frame reported)."""
    cols = videos.select("video_id", "bytes", "w", "h", "n_frames")
    return map_batches(cols, _video_verify_frame, VIDEO_VERIFY_SCHEMA)


def video_invariant_violations(videos: DataFrame) -> DataFrame:
    v = verify_video_invariants(videos)
    return v.where(~(F.col("meta_ok") & F.col("pixels_ok")))


# ---------- decode -> feature extract ----------

LUMA_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("cell", LongType(), False),
        StructField("mean_luma", DoubleType(), False),
        StructField("n_px", LongType(), False),
    ]
)


def _luma_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    ids, cells, lumas, npx = [], [], [], []
    for row in pdf.itertuples(index=False):
        px, _ = imagecodec.decode(bytes(row.bytes))
        luma = _luma(px)
        ids.append(row.image_id)
        cells.append(row.cell)
        lumas.append(float(luma.mean()))
        npx.append(px.shape[0] * px.shape[1])
    return pd.DataFrame(
        {"image_id": ids, "cell": cells, "mean_luma": lumas, "n_px": npx}
    )


def decoded_features(images_geo: DataFrame) -> DataFrame:
    """Decode every image and extract luma features (Arrow-batched)."""
    return map_batches(
        images_geo.select("image_id", "cell", "bytes"),
        _luma_frame,
        LUMA_SCHEMA,
    )


def tile_image_stats(images_geo: DataFrame, level: int) -> DataFrame:
    """Per-tile rollup of decoded image features: decode (mapInPandas) ->
    pure-SQL parent tiling -> hash agg (partial+final, one shuffle)."""
    feats = decoded_features(images_geo)
    return feats.groupBy(s2f.parent_expr("cell", level).alias(f"cell_l{level}")).agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_px").alias("total_px"),
        F.avg("mean_luma").alias("avg_luma"),
    )


FUSED_SCHEMA = StructType(
    [
        StructField("cell", LongType(), False),
        StructField("ok", BooleanType(), False),
        StructField("mean_luma", DoubleType(), False),
        StructField("n_px", LongType(), False),
    ]
)


def _fused_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    from ..sources.images import caption_for

    cells_in = _geotag_frame(pdf["phash"])
    cells, oks, lumas, npx = [], [], [], []
    for i, row in enumerate(pdf.itertuples(index=False)):
        idx = int(row.image_id[3:])
        decoded, fmt = imagecodec.decode(bytes(row.bytes))
        src = imagecodec.gen_pixels(idx, decoded.shape[1], decoded.shape[0])
        pok = _pixels_ok(fmt, src, decoded)
        luma = _luma(decoded)
        cells.append(int(cells_in["cell"].iloc[i]))
        oks.append(pok and row.caption == caption_for(idx))
        lumas.append(float(luma.mean()))
        npx.append(decoded.shape[0] * decoded.shape[1])
    return pd.DataFrame(
        {"cell": cells, "ok": oks, "mean_luma": lumas, "n_px": npx}
    )


def fused_tile_audit(images: DataFrame, level: int) -> DataFrame:
    """Scan -> ONE Python crossing (decode + invariant check + geotag +
    feature extract) -> JVM hash agg.

    The chained per-step pipeline (geotag UDF -> verify mapInPandas ->
    luma mapInPandas) runs 3 Python workers per task; at high parallelism
    the worker oversubscription inverts scaling.  Fusing to a single
    mapInPandas is the production shape for wide Python pipelines and
    what the scaling benchmark measures.  Returns per-tile
    (n_images, n_violations, total_px, avg_luma).
    """
    feats = map_batches(
        images.select("image_id", "bytes", "caption", "phash"),
        _fused_frame,
        FUSED_SCHEMA,
    )
    return feats.groupBy(s2f.parent_expr("cell", level).alias(f"cell_l{level}")).agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_violations"),
        F.sum("n_px").alias("total_px"),
        F.avg("mean_luma").alias("avg_luma"),
    )


# ---------- multimodal: resize / video frame-sample (brief §multimodal) ----------

THUMB_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("thumb", BinaryType(), False),
        StructField("tw", LongType(), False),
        StructField("th", LongType(), False),
        StructField("mean_luma", DoubleType(), False),
    ]
)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode -> nearest-neighbor resize -> re-encode raw thumbnails: one
    Arrow-batched pass over the binary column (the standard multimodal
    decode/transform plumbing; swap kernels.imagecodec.decode for a real
    codec without touching the dataflow)."""

    def resize(pdf):
        ids, thumbs, lumas = [], [], []
        for row in pdf.itertuples(index=False):
            px, _ = imagecodec.decode(bytes(row.bytes))
            t = imagecodec.resize_nearest(px, out_w, out_h)
            luma = _luma(t)
            ids.append(row.image_id)
            thumbs.append(t.tobytes())
            lumas.append(float(luma.mean()))
        return pd.DataFrame(
            {
                "image_id": ids,
                "thumb": thumbs,
                "tw": np.full(len(ids), out_w, dtype=np.int64),
                "th": np.full(len(ids), out_h, dtype=np.int64),
                "mean_luma": lumas,
            }
        )

    return map_batches(images.select("image_id", "bytes"), resize, THUMB_SCHEMA)


def sample_video_frames(videos: DataFrame, every: int) -> DataFrame:
    """Frame-sample a video table: one output row per sampled frame with
    per-frame luma — (video_id, frame_idx, mean_luma).  The binary column
    is a REAL container (MJPEG-style concatenated JFIF frames): the
    demuxer walks the marker structure to index frame extents and decodes
    ONLY the sampled frames — one byte scan plus 1/every of the decode
    work per video, the shape that survives 100 TB of video.  Frame count
    comes from the container itself, not row metadata."""

    def sampled_frames(pdf):
        vids, fidx, lumas = [], [], []
        for row in pdf.itertuples(index=False):
            buf = bytes(row.bytes)
            keep = imagecodec.frame_sample_indices(
                imagecodec.video_frame_count(buf), every
            )
            for f, px in imagecodec.decode_video_frames(buf, keep):
                luma = _luma(px)
                vids.append(row.video_id)
                fidx.append(f)
                lumas.append(float(luma.mean()))
        return pd.DataFrame(
            {"video_id": vids, "frame_idx": fidx, "mean_luma": lumas}
        )

    return map_batches(
        videos.select("video_id", "bytes"),
        sampled_frames,
        "video_id string, frame_idx long, mean_luma double",
    )


def images_pip_join(
    spark: SparkSession, images_geo: DataFrame, index: RegionIndex
) -> DataFrame:
    """Which polygons contain each image's geotag point — the flagship
    broadcast term-join, with image_id as the point id."""
    pts = with_xyz(images_geo).select(
        F.col("image_id").alias("pid"), "x", "y", "z", "cell"
    )
    return contains_join(spark, pts, index).withColumnRenamed("pid", "image_id")


QUALITY_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("n_px", LongType(), False),
        StructField("mean_luma", DoubleType(), False),
        StructField("std_luma", DoubleType(), False),
        StructField("entropy_bits", DoubleType(), False),
        StructField("keep", BooleanType(), False),
    ]
)

# conventional screening thresholds for photographic training data:
# near-black / near-white frames, flat (low-contrast) frames, and
# synthetic/degenerate content with a collapsed intensity histogram
QUALITY_MIN_MEAN = 16.0
QUALITY_MAX_MEAN = 235.0
QUALITY_MIN_STD = 8.0
QUALITY_MIN_ENTROPY = 2.0


def _quality_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    ids, npx, means, stds, ents, keeps = [], [], [], [], [], []
    for row in pdf.itertuples(index=False):
        px, _ = imagecodec.decode(bytes(row.bytes))
        luma = _luma(px)
        m = float(luma.mean())
        s = float(luma.std())
        hist = np.bincount(
            np.clip(luma.astype(np.int64), 0, 255).ravel(), minlength=256
        )
        q = hist[hist > 0] / luma.size
        ent = float(-(q * np.log2(q)).sum())
        keep = (
            QUALITY_MIN_MEAN <= m <= QUALITY_MAX_MEAN
            and s >= QUALITY_MIN_STD
            and ent >= QUALITY_MIN_ENTROPY
        )
        ids.append(row.image_id)
        npx.append(luma.size)
        means.append(m)
        stds.append(s)
        ents.append(ent)
        keeps.append(keep)
    return pd.DataFrame(
        {
            "image_id": ids,
            "n_px": npx,
            "mean_luma": means,
            "std_luma": stds,
            "entropy_bits": ents,
            "keep": keeps,
        }
    )


def image_quality(images: DataFrame) -> DataFrame:
    """Per-image quality screening (the image-pipeline analogue of the
    text quality/repetition filters): decode once, emit luma mean/std and
    the Shannon entropy of the 256-bin luma histogram, plus a `keep`
    verdict against the conventional near-black / near-white / flat /
    collapsed-histogram thresholds.

    ONE Arrow-batched mapInPandas pass over (image_id, bytes) — no
    binary caching, no second decode; downstream filters join on the
    narrow verdict table.  Rows-only check (binary decode is not
    SQL-expressible).
    """
    return map_batches(
        images.select("image_id", "bytes"),
        _quality_frame,
        QUALITY_SCHEMA,
    )


# ---------- map-tile mosaic rendering (geo x image fusion) ----------

MOSAIC_GRID = 2
MOSAIC_THUMB = 16


def tile_mosaic(
    images_geo: DataFrame,
    level: int,
    grid: int = MOSAIC_GRID,
    thumb: int = MOSAIC_THUMB,
) -> DataFrame:
    """One rendered map-tile mosaic per S2 cell at ``level``: the
    ``grid**2`` lowest-image_id members of each tile, decoded, resized
    to ``thumb`` x ``thumb`` (nearest neighbor), composed row-major into
    a grid, and re-encoded as PNG.  Output: (cell_l<level>, n_images,
    mosaic, w, h).  Empty grid slots stay black; tiles render whatever
    they have (n_images < grid**2 included).

    This is the pyramid-building step of a map-serving pipeline — the
    operation a 100 TB imagery corpus runs per zoom level.  Scale shape:
      * member SELECTION happens before any decode: a per-tile window
        over the narrow (cell, image_id) projection picks grid**2 ids,
        so the binary decode touches only ~grid**2 rows per tile, never
        the corpus (decode-after-prune, the binary analog of
        filter-pushdown).
      * the selected ids join back to the bytes column, then ONE
        applyInPandas keyed on the tile cell renders each mosaic —
        composition is per-tile local, no cross-tile state.
      * output is one row per tile: strictly smaller than the input by
        the tile occupancy factor, so successive pyramid levels shrink
        geometrically exactly as at production scale.

    Reference scope: builder-brief multimodal axis (no s2geometry
    counterpart); the tiling key is the same parent_expr the oracled
    tile_counts/tile_rollup queries prove out.
    """
    from pyspark.sql import Window

    cap = grid * grid
    key = f"cell_l{level}"
    keyed = images_geo.select(
        "image_id", "bytes", s2f.parent_expr("cell", level).alias(key)
    )
    w = Window.partitionBy(key).orderBy(F.col("image_id").asc())
    picked = (
        keyed.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
    )

    schema = StructType(
        [
            StructField(key, LongType(), False),
            StructField("n_images", IntegerType(), False),
            StructField("mosaic", BinaryType(), False),
            StructField("w", IntegerType(), False),
            StructField("h", IntegerType(), False),
        ]
    )

    def render(kv, pdf: pd.DataFrame) -> pd.DataFrame:
        side = grid * thumb
        canvas = np.zeros((side, side, 3), np.uint8)
        pdf = pdf.sort_values("_rk")
        for slot, buf in enumerate(pdf["bytes"]):
            px, _ = imagecodec.decode(bytes(buf))
            t = imagecodec.resize_nearest(px, thumb, thumb)
            r, c = divmod(slot, grid)
            canvas[r * thumb : (r + 1) * thumb, c * thumb : (c + 1) * thumb] = t
        return pd.DataFrame(
            {
                key: [kv[0]],
                "n_images": [len(pdf)],
                "mosaic": [imagecodec.encode(canvas, "png")],
                "w": [side],
                "h": [side],
            }
        )

    return picked.groupBy(key).applyInPandas(render, schema)
