"""Spatial containment join: points x regions via the S2 term-indexer
inverted-index scheme (s2region_term_indexer.cc:23-72) re-expressed as a
Spark broadcast equi-join + vectorized crossing-parity refinement.

Plan shape (SURVEY.md §2.4):

  points:   leaf cell (pandas-UDF encode)
            -> query terms per level (PURE SQL parent exprs, codegen)
            -> explode -> equi-join on (term_cell, is_covering)
  regions:  driver-side canonical coverings (RegionCoverer port)
            -> index terms (covering + ancestors, kernels.termindex)
            -> tiny DataFrame
            -> broadcast()
  refine:   vectorized polygon_contains_points parity kernel per candidate
            (pandas UDF; polygons shipped in the UDF closure/broadcast)

At 100 TB the equi-join is a BroadcastHashJoin against a few-thousand-row
term table (no shuffle of the fact table), and refinement is Arrow-batched
NumPy — the same asymptotics as S2's own distributed-indexing design.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from .. import functions as s2f
from ..kernels import cellid, termindex
from ..kernels.coverer import CovererOptions, RegionCoverer

# S2RegionTermIndexer defaults (s2region_term_indexer.h); every term join
# on points uses them, so the point query terms are fixed SQL
TERM_OPTS = CovererOptions(max_cells=8, min_level=4, max_level=16, level_mod=1)


def covering_index_terms(
    coverings: list[np.ndarray],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(owner, biased term cell, is_covering) index terms under TERM_OPTS;
    ``owner`` is the position of the covering in ``coverings``."""
    owner = np.repeat(np.arange(len(coverings)), [len(c) for c in coverings])
    cells = np.concatenate([np.zeros(0, np.uint64), *coverings])
    return termindex.index_terms(
        owner,
        cells,
        TERM_OPTS.min_level,
        TERM_OPTS.true_max_level(),
        TERM_OPTS.level_mod,
    )


class RegionIndex:
    """Driver-side index of a (broadcast-scale) region set.

    Builds canonical coverings and S2 index terms for each region; exposes
    them as a small DataFrame for the broadcast join and keeps the region
    objects for the exact refinement kernel.
    """

    def __init__(
        self,
        regions: dict[str, object],
        coverings: dict[str, np.ndarray] | None = None,
    ):
        """``coverings`` may supply a precomputed covering per region
        (must COVER the region, e.g. a cell raster the region was traced
        from); regions without one are covered by the RegionCoverer."""
        self.regions = regions
        coverer = RegionCoverer(TERM_OPTS)
        pre = coverings or {}
        self.coverings: dict[str, np.ndarray] = {
            rid: (
                np.sort(np.asarray(pre[rid], np.uint64))
                if rid in pre
                else coverer.get_covering(region)
            )
            for rid, region in regions.items()
        }
        rids = list(self.coverings)
        owner, cells, is_cov = covering_index_terms(list(self.coverings.values()))
        # (biased_cell, is_covering, rid)
        self.terms: list[tuple[int, bool, str]] = [
            (c, f, rids[o])
            for o, c, f in zip(owner.tolist(), cells.tolist(), is_cov.tolist())
        ]

    def terms_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.terms, schema="term_cell long, is_covering boolean, poly_id string"
        )


def point_query_terms(df: DataFrame, cell: str = "cell") -> DataFrame:
    """GetQueryTerms for points (s2region_term_indexer.cc:215-245) as pure
    SQL: one ancestor term at true_max_level + covering terms for every
    ancestor level.  Stays in whole-stage codegen; output has one row per
    (row, term) after the explode."""
    true_max = TERM_OPTS.true_max_level()
    terms = [
        F.struct(
            s2f.parent_expr(cell, true_max).alias("term_cell"),
            F.lit(False).alias("is_covering"),
        )
    ]
    for lv in range(true_max, TERM_OPTS.min_level - 1, -TERM_OPTS.level_mod):
        terms.append(
            F.struct(
                s2f.parent_expr(cell, lv).alias("term_cell"),
                F.lit(True).alias("is_covering"),
            )
        )
    return df.withColumn("q_term", F.explode(F.array(*terms))).select(
        "*", F.col("q_term.term_cell").alias("term_cell"),
        F.col("q_term.is_covering").alias("is_covering"),
    ).drop("q_term")


def _candidates(
    points: DataFrame,
    terms: DataFrame,
    point_id: str,
    cell: str,
    xyz: tuple[str, str, str],
) -> DataFrame:
    """(point_id, x, y, z, poly_id) for every point whose query terms meet
    a region's index terms, each pair once — the covering-intersection
    candidates every term join refines."""
    return (
        point_query_terms(points, cell=cell)
        .join(terms, ["term_cell", "is_covering"], "inner")
        .select(point_id, *xyz, "poly_id")
        .dropDuplicates([point_id, "poly_id"])
    )


def _make_refiner(index: RegionIndex):
    """Vectorized exact refinement: group candidate rows by region inside
    each Arrow batch and run the parity kernel once per region."""
    payload = {
        rid: (
            [np.asarray(lp.vertices) for lp in _loops_of(region)],
            [bool(lp.origin_inside) for lp in _loops_of(region)],
        )
        for rid, region in index.regions.items()
    }

    @pandas_udf(BooleanType())
    def refine(poly_id: pd.Series, x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
        from ..kernels import predicates

        pts = np.stack(
            [x.to_numpy(np.float64), y.to_numpy(np.float64), z.to_numpy(np.float64)],
            axis=1,
        )
        out = np.zeros(len(poly_id), dtype=bool)
        codes, uniques = pd.factorize(poly_id)
        for gi, rid in enumerate(uniques):
            mask = codes == gi
            loops, flags = payload[rid]
            out[mask] = predicates.polygon_contains_points(loops, flags, pts[mask])
        return pd.Series(out)

    return refine


def _loops_of(region):
    from ..kernels.regions import Loop, Polygon

    if isinstance(region, Polygon):
        return region.loops
    if isinstance(region, Loop):
        return [region]
    raise TypeError(f"refinement requires Loop/Polygon, got {type(region)}")


def cap_join(
    spark: SparkSession,
    points: DataFrame,
    caps: dict[str, object],
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """within-distance join: all (point, cap) pairs with the point inside
    the spherical cap.  Candidates via the term join; refinement is a pure
    SQL chord^2 test (JVM codegen, no Python) against the cap constants."""
    terms = F.broadcast(RegionIndex(caps).terms_df(spark))
    cand = _candidates(points, terms, point_id, cell, xyz)
    x, y, z = xyz
    # refinement predicate: one CASE over the (few) caps — constant-folded
    expr = None
    for rid, cap in caps.items():
        cx, cy, cz = (float(v) for v in cap.center)
        pred = (
            s2f.chord2_expr(
                F.col(x), F.col(y), F.col(z), F.lit(cx), F.lit(cy), F.lit(cz)
            )
            <= F.lit(float(cap.radius2))
        ) & (F.col("poly_id") == rid)
        expr = pred if expr is None else (expr | pred)
    return cand.where(expr).select(point_id, "poly_id")


def rect_join(
    spark: SparkSession,
    points: DataFrame,
    rects: dict[str, object],
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """S2LatLngRect::Contains(S2Point) as a distributed join
    (s2latlng_rect.cc:248-262, tested throughout s2latlng_rect_test.cc),
    including antimeridian-wrapping and full-longitude polar rects.

    Candidates via the same covering term join as every region join;
    refinement is pure SQL (JVM codegen, no Python) and avoids atan2
    (bit-portability): latitude via the monotone z = sin(lat) bounds,
    longitude via the two meridian half-plane signs — exact for spans
    <= pi, which covers every rect a coverer-backed join should broadcast
    (wider rects belong in a cell-union join)."""
    import math

    terms = F.broadcast(RegionIndex(rects).terms_df(spark))
    cand = _candidates(points, terms, point_id, cell, xyz)
    x, y, z = xyz
    expr = None
    for rid, rect in rects.items():
        pred = (F.col(z) >= F.lit(math.sin(rect.lat.lo))) & (
            F.col(z) <= F.lit(math.sin(rect.lat.hi))
        )
        if not rect.lng.is_full():
            if rect.lng.get_length() > math.pi:
                raise ValueError(f"rect_join: lng span > pi for {rid!r}")
            lo, hi = rect.lng.lo, rect.lng.hi
            pred = pred & (
                F.col(y) * F.lit(math.cos(lo)) - F.col(x) * F.lit(math.sin(lo))
                >= F.lit(0.0)
            )
            pred = pred & (
                F.col(x) * F.lit(math.sin(hi)) - F.col(y) * F.lit(math.cos(hi))
                >= F.lit(0.0)
            )
        pred = pred & (F.col("poly_id") == rid)
        expr = pred if expr is None else (expr | pred)
    return cand.where(expr).select(point_id, "poly_id")


def cell_union_contains_join(
    spark: SparkSession,
    points: DataFrame,
    unions: dict[str, "np.ndarray"],
    point_id: str = "pid",
    cell: str = "cell",
) -> DataFrame:
    """S2CellUnion::Contains as a distributed join (s2cell_union.cc:285-308
    re-expressed): all (point, region) pairs whose leaf cell lies inside
    the region's covering cell union.

    Plan: ONE scan of the points, exploding (level, parent(cell, level))
    pairs for only the levels present in any covering (pure-SQL prefix
    exprs, codegen), then a single broadcast equi-join on (level, cell)
    against the exploded covering dim table.  Normalized unions are
    non-overlapping, so no dedup is needed.  This is the
    S2CellIteratorJoin shape with the small side broadcast; the explode
    factor equals the number of distinct covering levels (<= ~8), far
    cheaper than re-scanning + re-encoding the fact table per level.
    """
    dim_rows: list[tuple[int, int, str]] = []
    levels: set[int] = set()
    for rid, ids in unions.items():
        arr = np.asarray(ids, np.uint64)
        for v, lv in zip(cellid.to_biased(arr).tolist(), cellid.level(arr).tolist()):
            dim_rows.append((int(lv), int(v), rid))
            levels.add(int(lv))
    dim = F.broadcast(
        spark.createDataFrame(
            dim_rows, schema="u_level int, u_cell long, region_id string"
        )
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(lv).alias("u_level"),
                s2f.parent_expr(cell, lv).alias("u_cell"),
            )
            for lv in sorted(levels)
        ]
    )
    exploded = points.select(point_id, F.explode(pairs).alias("p")).select(
        point_id, F.col("p.u_level").alias("u_level"), F.col("p.u_cell").alias("u_cell")
    )
    return exploded.join(dim, ["u_level", "u_cell"]).select(point_id, "region_id")


def contains_semi_join(
    spark: SparkSession, points: DataFrame, index: RegionIndex, point_id: str = "pid", **kw
) -> DataFrame:
    """Points contained by AT LEAST one region (left_semi on the pair set)."""
    pairs = contains_join(spark, points, index, point_id=point_id, **kw)
    return points.select(point_id).join(pairs, point_id, "left_semi")


def contains_anti_join(
    spark: SparkSession, points: DataFrame, index: RegionIndex, point_id: str = "pid", **kw
) -> DataFrame:
    """Points contained by NO region (left_anti) — e.g. "images outside
    every sensitive zone"."""
    pairs = contains_join(spark, points, index, point_id=point_id, **kw)
    return points.select(point_id).join(pairs, point_id, "left_anti")


def contains_join(
    spark: SparkSession,
    points: DataFrame,
    index: RegionIndex,
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
    exact: bool = True,
) -> DataFrame:
    """All (point, region) pairs where the region contains the point.

    ``exact=False`` returns the candidate set (covering-intersection
    semantics, no parity refinement) — what S2CellIndex-style queries give.
    """
    terms = F.broadcast(index.terms_df(spark))
    cand = _candidates(points, terms, point_id, cell, xyz)
    if not exact:
        return cand
    refine = _make_refiner(index)
    x, y, z = xyz
    return (
        cand.withColumn("_inside", refine(F.col("poly_id"), F.col(x), F.col(y), F.col(z)))
        .where(F.col("_inside"))
        .select(point_id, "poly_id")
    )
