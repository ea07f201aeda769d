"""Perceptual near-duplicate image detection: decode -> pHash ->
exact Hamming-ball join (small radius) / banded Hamming join (generic).

The LLM-training-data counterpart of the text dedup family
(operators/dedup.py simhash_near_pairs) on the IMAGE axis: every image
is decoded once, reduced to the 64-bit block-mean perceptual hash
(kernels/imagecodec.phash64 — the same function that derives the
geotag metadata at generation time), and near-duplicate pairs are found
by joining hashes within Hamming distance ``max_dist``.

Two candidate generators, picked by radius:
  * ``max_dist <= 2`` (the production dedup setting): contract identical
    hashes, then the EXACT Hamming-ball variant join
    (hamming_ball_hash_pairs) — every distinct hash emits its 65
    single-bit-flip variants and an equi-join on the full 64-bit variant
    value yields exactly the d <= 2 pairs.  Candidates == answers; the
    structurally-hot hash values real corpora produce (flat images ->
    all-zero/all-one hashes) cost g exact-group rows, never g^2 band
    candidates (the banded join drew 17.4M candidates for 211k true
    pairs on the sf0.1 corpus; the ball join draws 26k for 26k).
  * larger radii: the standard banded trick — split the hash into
    ``n_bands`` bands; within ``max_dist < n_bands`` at least one band
    matches (pigeonhole), so the (band index, band value) equi-join is a
    lossless candidate generator, refined by exact popcount.

Scale shape (the whole point):
  * decode + hash is ONE Arrow-batched ``mapInPandas`` pass per side —
    the only Python crossing; binary payloads never survive past it.
  * variant/band explosion, the candidate equi-join, and the exact
    popcount refinement are all JVM-side (whole-stage codegen) — the
    heavy join never touches Python.
  * exact-duplicate contraction bounds the skew: the only quadratic
    blow-up left is the true duplicate multiplicity, which the clusters
    operator never materializes (star edges, not cliques).

The banded-join mechanism itself is oracle-proven bit-exact by the
``dedup_simhash`` entry query; what this operator adds is the binary
decode front-end, which SQL cannot express — the entry query is
therefore rows-only (like the other three image queries) and the
pairing guarantees are pytest-verified against a brute-force popcount
over all pairs.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels import imagecodec

N_BANDS = 4
BAND_BITS = 64 // N_BANDS
_BAND_MASK = (1 << BAND_BITS) - 1


def phash_from_bytes(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """(id_col, phash): decode each binary payload and hash the DECODED
    pixels (not the phash metadata column, which hashes the pre-encoding
    source — the difference is exactly what lossy formats perturb)."""

    def phashes(pdf):
        hashes = np.empty(len(pdf), np.int64)
        for i, buf in enumerate(pdf["bytes"]):
            px, _ = imagecodec.decode(bytes(buf))
            hashes[i] = imagecodec.phash64(px)
        return pd.DataFrame({id_col: pdf[id_col].to_numpy(), "phash": hashes})

    return map_batches(
        images.select(id_col, "bytes"),
        phashes,
        f"{id_col} string, phash long",
    )


def _banded(ph: DataFrame, id_col: str, suffix: str) -> DataFrame:
    """Explode (id, phash) into one row per 16-bit band — pure Catalyst.

    The arithmetic shiftright fills sign bits for the top band of a
    negative hash, but the band mask truncates to BAND_BITS, so the
    result equals the logical-shift band value.
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                (
                    F.shiftright(F.col("phash"), BAND_BITS * i)
                    .bitwiseAND(F.lit(_BAND_MASK))
                ).alias("bv"),
            )
            for i in range(N_BANDS)
        ]
    )
    return ph.select(
        F.col(id_col).alias(f"id_{suffix}"),
        F.col("phash").alias(f"ph_{suffix}"),
        F.explode(bands).alias("b"),
    ).select(f"id_{suffix}", f"ph_{suffix}", "b.bi", "b.bv")


def phash_with_reencoded(
    images: DataFrame,
    fmt: str = "qnt",
    id_col: str = "image_id",
    id_prefix: str = "dup-",
) -> DataFrame:
    """(id_col, phash) for the corpus AND its re-encoded variant in ONE
    decode pass: each image is decoded once, hashed, re-encoded through
    ``fmt``, and the variant decoded+hashed in the same Arrow batch —
    half the decode work and none of the variant binary ever shuffles,
    vs composing reencoded_variants with phash_from_bytes (which
    generates and decodes the corpus twice).  Feed the result to
    phash_near_dup_pairs(hashes_a=...) / phash_dedup_clusters(hashes=...).
    """

    def phashes_with_variant(pdf):
        ids = []
        hashes = []
        for rid, buf in zip(pdf[id_col], pdf["bytes"]):
            px, _ = imagecodec.decode(bytes(buf))
            ids.append(rid)
            hashes.append(imagecodec.phash64(px))
            vpx, _ = imagecodec.decode(imagecodec.encode(px, fmt))
            ids.append(id_prefix + rid)
            hashes.append(imagecodec.phash64(vpx))
        return pd.DataFrame({id_col: ids, "phash": np.array(hashes, np.int64)})

    return map_batches(
        images.select(id_col, "bytes"),
        phashes_with_variant,
        f"{id_col} string, phash long",
    )


#: XOR masks for the Hamming-ball variant join: identity + each single
#: bit of a 64-bit hash (bit 63 as the signed-long two's-complement min)
_BALL_MASKS = [0] + [(1 << k) if k < 63 else -(1 << 63) for k in range(64)]


def hamming_ball_hash_pairs(hashes: DataFrame, max_dist: int = 2) -> DataFrame:
    """Distinct unordered 64-bit hash pairs (ph_a < ph_b, hamming) within
    Hamming distance ``max_dist`` <= 2, by the flip-one-bit variant join
    (the SimHash neighborhood-enumeration trick, Manku et al. WWW'07):
    every hash emits its 65 single-bit-flip variants (incl. itself); two
    hashes at distance d <= 2 share a variant value (flip one differing
    bit on each side), so an equi-join on the FULL 64-bit variant value
    is a lossless — and, unlike 16-bit banding, *exact* — candidate
    generator: the join emits only true d ∈ {1, 2} pairs (each twice;
    deduped), never the O(|bucket|^2) false candidates a hot band value
    produces (structurally frequent hashes like all-zeros/all-ones make
    16-bit-band buckets quadratic; a 64-bit variant bucket is only as
    big as the data's exact-duplicate multiplicity, which the caller
    contracts away first).

    Input: a frame with a distinct ``phash`` column.  Output columns:
    ph_a, ph_b, hamming.  Everything is codegen JVM (explode over a
    65-element literal mask array, one equi-join, one popcount).
    """
    if max_dist > 2:
        raise ValueError(
            f"hamming_ball_hash_pairs covers max_dist <= 2, got {max_dist}; "
            "use the banded join for larger radii"
        )
    var = hashes.select(
        "phash",
        F.explode(
            F.array(*[F.lit(m).cast("long") for m in _BALL_MASKS])
        ).alias("m"),
    ).select("phash", F.col("phash").bitwiseXOR(F.col("m")).alias("v"))
    a = var.select(F.col("phash").alias("ph_a"), "v")
    b = var.select(F.col("phash").alias("ph_b"), "v")
    cand = (
        a.join(b, "v")
        .where(F.col("ph_a") < F.col("ph_b"))
        .select("ph_a", "ph_b")
        .dropDuplicates(["ph_a", "ph_b"])
    )
    out = cand.withColumn(
        "hamming",
        F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int"),
    )
    if max_dist < 2:
        out = out.where(F.col("hamming") <= max_dist)
    return out


def phash_near_dup_pairs(
    images_a: DataFrame | None = None,
    images_b: DataFrame | None = None,
    max_dist: int = 2,
    id_col: str = "image_id",
    hashes_a: DataFrame | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b, hamming) pairs with perceptual-hash Hamming
    distance <= ``max_dist``.

    One-table form (images_b=None): unordered pairs within the corpus,
    id_a < id_b.  Two-table form: A x B pairs (e.g. a corpus against a
    re-encoded / resized copy).  Lossless for ``max_dist < N_BANDS`` (= 4).
    ``hashes_a``: a precomputed (id_col, phash) frame replacing the A-side
    decode (e.g. from phash_with_reencoded).
    """
    if max_dist >= N_BANDS:
        raise ValueError(
            f"phash_near_dup_pairs: max_dist {max_dist} >= {N_BANDS} bands "
            "breaks the pigeonhole guarantee; raise N_BANDS instead"
        )
    if (images_a is None) == (hashes_a is None):
        raise ValueError("pass exactly one of images_a / hashes_a")
    from pyspark.storagelevel import StorageLevel

    pa = hashes_a if hashes_a is not None else phash_from_bytes(images_a, id_col)
    if images_b is None:
        # the hash table feeds BOTH legs of the self-join (and is the
        # product of the only expensive step, the binary decode) —
        # persist the narrow (id, 8-byte hash) projection so the decode
        # runs once, not per leg (the dedup_minhash_lsh recompute
        # lesson, operators/dedup.py:262)
        pa = pa.persist(StorageLevel.MEMORY_AND_DISK)
    if images_b is None and max_dist <= 2:
        # one-table small-radius form: exact Hamming-ball join on the
        # DISTINCT hashes (identical hashes contracted first), then
        # expand back to image pairs.  Candidates == true pairs — no
        # hot-band quadratic buckets (17.4M candidates -> ~60k on the
        # sf0.1 corpus whose flat images concentrate band values).
        h_a = pa.select(F.col(id_col).alias("xa"), F.col("phash").alias("ph_a"))
        h_b = pa.select(F.col(id_col).alias("xb"), F.col("phash").alias("ph_b"))
        exact = (
            h_a.join(h_b, F.col("ph_a") == F.col("ph_b"))
            .where(F.col("xa") < F.col("xb"))
            .select(
                F.col("xa").alias("id_a"),
                F.col("xb").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        hp = hamming_ball_hash_pairs(pa.select("phash").distinct(), max_dist)
        near = (
            hp.join(h_a, "ph_a")
            .join(h_b, "ph_b")
            .select(
                F.least("xa", "xb").alias("id_a"),
                F.greatest("xa", "xb").alias("id_b"),
                "hamming",
            )
        )
        return exact.unionByName(near)
    ta = _banded(pa, id_col, "a")
    if images_b is None:
        tb = ta.select(
            F.col("id_a").alias("id_b"),
            F.col("ph_a").alias("ph_b"),
            "bi",
            "bv",
        )
    else:
        tb = _banded(phash_from_bytes(images_b, id_col), id_col, "b")
    cand = ta.join(tb, ["bi", "bv"])
    if images_b is None:
        cand = cand.where(F.col("id_a") < F.col("id_b"))
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(
                F.col("ph_a").bitwiseXOR(F.col("ph_b"))
            ).cast("int"),
        )
        .where(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def reencoded_variants(
    images: DataFrame,
    fmt: str = "qnt",
    id_col: str = "image_id",
    id_prefix: str = "dup-",
) -> DataFrame:
    """A deterministic transformed copy of the corpus: decode -> re-encode
    through ``fmt`` (lossy ``qnt`` perturbs block means by <= 2 codes, so
    each variant lands within a small Hamming ball of its source hash) —
    the standard fixture for exercising near-dup detection end-to-end,
    and a realistic stand-in for "the same photo saved twice"."""

    def reencode(pdf):
        out_ids = []
        out_bytes = []
        for rid, buf in zip(pdf[id_col], pdf["bytes"]):
            px, _ = imagecodec.decode(bytes(buf))
            out_ids.append(id_prefix + rid)
            out_bytes.append(imagecodec.encode(px, fmt))
        return pd.DataFrame({id_col: out_ids, "bytes": out_bytes})

    return map_batches(
        images.select(id_col, "bytes"),
        reencode,
        f"{id_col} string, bytes binary",
    )


def phash_dedup_clusters(
    images: DataFrame | None = None,
    max_dist: int = 2,
    id_col: str = "image_id",
    hashes: DataFrame | None = None,
) -> DataFrame:
    """(image_id, canonical_id, cluster_size): perceptual near-duplicate
    CLUSTERS — the keep-one-per-group step a dedup pipeline actually
    executes, composing phash_near_dup_pairs with the distributed
    connected-components operator (operators/graph.py).

    The components loop needs integer node ids (its fixpoint witness is
    an exact label sum), so string image ids are bridged through the
    portable md5-h64 (collision odds ~2^-64 per pair — acceptable for a
    perceptual grouping whose hash distance is itself approximate).  The
    canonical id is the lexicographically smallest member, computed per
    component AFTER labeling so the output is hash-order independent.
    Only images that appear in at least one pair are emitted (singletons
    are their own keeper by definition).

    Scale shape: exact-duplicate hashes are CONTRACTED before the graph
    step — the O(log n) large/small-star loop runs only on the distinct
    hash values joined by the exact Hamming-ball pairs (13k nodes at
    sf0.1 instead of 24k, and ~50k edges instead of the 210k all-pairs
    clique edges), and every image attaches to its hash's component by
    one join AFTER the loop.  A clique of g identical images contributes
    0 loop edges instead of g(g-1)/2 — the same contraction a 100 TB
    run needs, where exact-duplicate multiplicity is the dominant skew.
    """
    from .dedup import md5_h64
    from .graph import connected_components

    if (images is None) == (hashes is None):
        raise ValueError("pass exactly one of images / hashes")
    if max_dist > 2:
        # generic radius: all-pairs banded join feeding the graph loop
        pairs = phash_near_dup_pairs(
            images, max_dist=max_dist, id_col=id_col, hashes_a=hashes
        ).persist()
        e = pairs.select(
            md5_h64(F.col("id_a")).alias("doc_a"),
            md5_h64(F.col("id_b")).alias("doc_b"),
        )
        comp = connected_components(e)
        nodes = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
            .withColumn("_h", md5_h64(F.col(id_col)))
        )
        labeled = nodes.join(comp, nodes["_h"] == comp["doc_id"]).select(
            id_col, "component_id"
        )
    else:
        from pyspark.storagelevel import StorageLevel

        h = hashes if hashes is not None else phash_from_bytes(images, id_col)
        h = h.persist(StorageLevel.MEMORY_AND_DISK)
        reps = h.groupBy("phash").agg(
            F.min(id_col).alias("rep"), F.count(F.lit(1)).alias("g")
        )
        hp = hamming_ball_hash_pairs(h.select("phash").distinct(), max_dist)
        ra = reps.select(F.col("phash").alias("ph_a"), md5_h64("rep").alias("doc_a"))
        rb = reps.select(F.col("phash").alias("ph_b"), md5_h64("rep").alias("doc_b"))
        rp = hp.join(ra, "ph_a").join(rb, "ph_b").select("doc_a", "doc_b")
        comp = connected_components(rp)  # over linked hash reps only
        rlab = reps.withColumn("_h", md5_h64("rep")).join(
            comp, F.col("_h") == F.col("doc_id"), "left"
        ).select(
            "phash",
            "g",
            F.col("component_id").isNotNull().alias("linked"),
            F.coalesce("component_id", F.col("_h")).alias("component_id"),
        )
        labeled = (
            h.join(rlab, "phash")
            # node set == images appearing in >= 1 pair: an exact-dup
            # group member (g >= 2, a d=0 pair) or any image whose hash
            # has a Hamming-ball neighbor
            .where((F.col("g") >= 2) | F.col("linked"))
            .select(id_col, "component_id")
        )
    # labeled feeds both the group aggregate and the final join
    labeled = labeled.persist()
    groups = labeled.groupBy("component_id").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return labeled.join(groups, "component_id").select(
        id_col, "canonical_id", "cluster_size"
    )


def dihedral_variants(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Planted rotated/mirrored duplicates: for every image whose
    dimensions are multiples of 8 (the exact-invariance precondition of
    kernels/imagecodec.phash64_canon), emit ONE dihedral transform of
    its DECODED pixels, losslessly re-encoded (PNG) so the variant's
    decoded pixels are an exact transform of the source's.  The
    transform index 1..7 derives deterministically from the image id."""

    def dihedral(pdf):
        out_ids: list[str] = []
        out_bytes: list[bytes] = []
        for iid, buf in zip(pdf[id_col], pdf["bytes"]):
            px, _ = imagecodec.decode(bytes(buf))
            h, w = px.shape[:2]
            if h % 8 or w % 8:
                continue
            k = 1 + (int(str(iid)[3:]) % 7)
            out_ids.append(f"{iid}:d{k}")
            out_bytes.append(
                imagecodec.encode_png(imagecodec.dihedral_transform(px, k))
            )
        return pd.DataFrame({id_col: out_ids, "bytes": out_bytes})

    return map_batches(images, dihedral, f"{id_col} string, bytes binary")


def phash_canon_from_bytes(
    images: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """(id_col, canon): the dihedral-invariant perceptual hash of each
    decoded payload — one stateless mapInPandas decode pass."""

    def canon_hashes(pdf):
        hashes = np.empty(len(pdf), np.int64)
        for i, buf in enumerate(pdf["bytes"]):
            px, _ = imagecodec.decode(bytes(buf))
            hashes[i] = imagecodec.phash64_canon(px)
        return pd.DataFrame({id_col: pdf[id_col].to_numpy(), "canon": hashes})

    return map_batches(images, canon_hashes, f"{id_col} string, canon long")


def phash_canon_with_dihedral(
    images: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """(id_col, canon) for the corpus AND one planted dihedral variant
    per multiple-of-8 image, in ONE decode pass: each image is decoded
    once, canon-hashed, and its dihedral transform is re-encoded (PNG)
    and decoded back inside the same Arrow batch — the
    phash_with_reencoded recipe applied to dihedral_variants, replacing
    the compose-then-union path that decoded the corpus twice (once to
    build variants, once to hash the union) and shuffled the variant
    binary.  The PNG round-trip is kept so the query still exercises
    the codec end to end; ids/transform-index match dihedral_variants
    exactly, so the downstream pair set is identical."""

    def canon_with_variant(pdf):
        ids: list[str] = []
        hashes: list[int] = []
        for iid, buf in zip(pdf[id_col], pdf["bytes"]):
            px, _ = imagecodec.decode(bytes(buf))
            ids.append(iid)
            hashes.append(imagecodec.phash64_canon(px))
            h, w = px.shape[:2]
            if h % 8 or w % 8:
                continue
            k = 1 + (int(str(iid)[3:]) % 7)
            vpx, _ = imagecodec.decode(
                imagecodec.encode_png(imagecodec.dihedral_transform(px, k))
            )
            ids.append(f"{iid}:d{k}")
            hashes.append(imagecodec.phash64_canon(vpx))
        return pd.DataFrame({id_col: ids, "canon": np.array(hashes, np.int64)})

    return map_batches(
        images.select(id_col, "bytes"),
        canon_with_variant,
        f"{id_col} string, canon long",
    )


def dihedral_dup_pairs(
    images: DataFrame | None = None,
    id_col: str = "image_id",
    hashes: DataFrame | None = None,
) -> DataFrame:
    """(canon, id_a, id_b): all image pairs sharing the dihedral-
    invariant hash — catches rotated and mirrored duplicates that the
    plain pHash band join structurally cannot (a quarter-turn permutes
    all 64 bits).  One decode pass, then a pure-Catalyst exact-hash
    self-join: one shuffle on a uniformly distributed 64-bit key, the
    same shape at 10^12 rows.  ``hashes``: a precomputed
    (id_col, canon) frame replacing the decode (e.g. from
    phash_canon_with_dihedral)."""
    from pyspark.storagelevel import StorageLevel

    if (images is None) == (hashes is None):
        raise ValueError("pass exactly one of images / hashes")
    ph = hashes if hashes is not None else phash_canon_from_bytes(images, id_col)
    # the canon frame feeds BOTH legs of the self-join and is the
    # product of the only expensive step (the binary decode): persist
    # the narrow (id, 8-byte hash) projection so the decode chain runs
    # once, not once per leg (the phash_near_dup_pairs lesson)
    ph = ph.persist(StorageLevel.MEMORY_AND_DISK)
    a = ph.select(F.col("canon"), F.col(id_col).alias("id_a"))
    b = ph.select(F.col("canon"), F.col(id_col).alias("id_b"))
    return a.join(b, "canon").filter(F.col("id_a") < F.col("id_b")).select(
        "canon", "id_a", "id_b"
    )


def caption_conflict_pairs(
    pairs: DataFrame, captions: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """Near-duplicate image pairs whose captions DISAGREE — the standard
    web-crawl label-noise screen (the same photo crawled twice with
    drifted alt-text poisons caption-supervised training; near-dups with
    IDENTICAL captions are ordinary dups and handled by dedup).

    ``pairs``: (id_a, id_b, ...) from phash_near_dup_pairs /
    dihedral_dup_pairs.  ``captions``: (id_col, caption).  Two hash
    equi-joins on the pair endpoints then a caption filter — pairs are
    a tiny fraction of the corpus, so both joins stay skew-free at any
    scale (AQE may broadcast the pair side)."""
    ca = captions.select(
        F.col(id_col).alias("id_a"), F.col("caption").alias("caption_a")
    )
    cb = captions.select(
        F.col(id_col).alias("id_b"), F.col("caption").alias("caption_b")
    )
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .where(F.col("caption_a") != F.col("caption_b"))
        .select("id_a", "id_b", "caption_a", "caption_b")
    )


def tile_blocked_near_dup(
    images_geo: DataFrame,
    level: int = 5,
    max_dist: int = 2,
    id_col: str = "image_id",
) -> DataFrame:
    """(tile, id_a, id_b, hamming): near-dup image pairs CO-LOCATED in
    the same level-``level`` tile — the geo x visual crossover query
    (duplicate uploads cluster spatially, and tile-blocking is the
    standard way to keep a planetary-scale near-dup join linear: the
    band join keys on (tile, band_index, band_value), so no candidate
    ever crosses a tile boundary and per-tile skew is bounded by the
    densest tile, the quantity S2DensityTree sharding already measures).

    One decode pass (the narrow (id, phash, tile) frame is persisted and
    feeds both join legs), banded candidates within tile, exact popcount
    refinement, post-refinement dedup on 3 narrow columns.
    """
    from pyspark.storagelevel import StorageLevel

    from .. import functions as s2f

    ph = (
        phash_from_bytes(images_geo.select(id_col, "bytes"), id_col)
        .join(
            images_geo.select(
                id_col, s2f.parent_expr("cell", level).alias("tile")
            ),
            id_col,
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                (
                    F.shiftright(F.col("phash"), BAND_BITS * i)
                    .bitwiseAND(F.lit(_BAND_MASK))
                ).alias("bv"),
            )
            for i in range(N_BANDS)
        ]
    )
    banded = ph.select(
        id_col, "phash", "tile", F.explode(bands).alias("b")
    ).select(id_col, "phash", "tile", "b.bi", "b.bv")
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("phash").alias("ph_a"),
        "tile", "bi", "bv",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("phash").alias("ph_b"),
        "tile", "bi", "bv",
    )
    return (
        a.join(b, ["tile", "bi", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast(
                "int"
            ),
        )
        .where(F.col("hamming") <= max_dist)
        .select("tile", "id_a", "id_b", "hamming")
        .dropDuplicates(["tile", "id_a", "id_b"])
    )
