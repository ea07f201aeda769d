"""Tiling operators: leaf cell-id assignment + cell-at-level columns.

The leaf encode is the only Python-boundary crossing (vectorized pandas
UDF); every derived tiling column is pure integer SQL (parent_expr) so it
stays inside whole-stage codegen and is usable for partition pruning.
At design scale the `cell_l{k}` column is the Iceberg partition/sort key
(SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import functions as s2f

def with_cell_from_triplet(
    df: DataFrame, x0: str = "x0", y0: str = "y0", z0: str = "z0", out: str = "cell"
) -> DataFrame:
    return df.withColumn(out, s2f.cell_from_triplet(F.col(x0), F.col(y0), F.col(z0)))


def with_cell_from_latlng(
    df: DataFrame, lat: str = "lat", lng: str = "lng", out: str = "cell"
) -> DataFrame:
    return df.withColumn(out, s2f.cell_from_latlng_degrees(F.col(lat), F.col(lng)))


def triplet_exprs(key_col: str) -> list[Column]:
    """Spark columns for the exact integer geotag of an integer key column.

    Mirrors kernels.geotag.int_triplet_from_key / sql_xyz_exprs — pure
    integer SQL, identical in DuckDB.
    """
    from ..kernels.geotag import sql_xyz_exprs

    e = sql_xyz_exprs(key_col)
    return [
        F.expr(e["x0"]).alias("x0"),
        F.expr(e["y0"]).alias("y0"),
        F.expr(e["z0"]).alias("z0"),
    ]


def tile_counts(df: DataFrame, level: int, cell: str = "cell") -> DataFrame:
    """images-per-tile at one level: partial+final hash agg (SURVEY §2.8)."""
    return df.groupBy(s2f.parent_expr(cell, level).alias(f"cell_l{level}")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def tile_sample(
    df: DataFrame,
    level: int,
    k: int,
    cell: str = "cell",
    point_id: str = "pid",
    salt: str = "s2sample",
) -> DataFrame:
    """Deterministic stratified sampling: the k rows with the smallest
    portable md5-h32 hash per tile at ``level`` — spatially balanced
    subsampling for training-data pipelines, equivalent in distribution
    to uniform-without-replacement per stratum but reproducible across
    runs, retries, and cluster sizes (no RNG state).

    One shuffle on the tile key; the rank window runs per tile with
    map-side partial sort.  At skewed scale, cap per-tile group size
    upstream with the density-tree sharder (operators/density.py) — the
    sample itself is insensitive to salting because the hash order is a
    global property of the rows."""
    from .dedup import md5_h32

    from pyspark.sql import Window

    tile_col = f"cell_l{level}"
    h = md5_h32(F.concat(F.lit(salt + ":"), F.col(point_id).cast("string")))
    w = Window.partitionBy(tile_col).orderBy(F.col("h"), F.col(point_id))
    return (
        df.select(s2f.parent_expr(cell, level).alias(tile_col), point_id, h.alias("h"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def per_tile_hulls(df: DataFrame, level: int, cell: str = "cell") -> DataFrame:
    """Convex hull of the points in each tile (S2ConvexHullQuery per
    group): shuffle once on the tile key, hull + area per group in NumPy.

    df needs x,y,z unit-vector columns.  Returns (cell_l{level},
    n_points, n_hull_vertices, hull_area, n_inside) where n_inside counts
    the tile's points inside-or-on the computed hull — a correct hull has
    n_inside == n_points, which is what the DuckDB oracle asserts (the
    hull construction itself is verified by kernel property tests).
    """
    import numpy as np
    import pandas as pd

    from ..kernels.convexhull import convex_hull
    from ..kernels.measures import loop_area
    from ..kernels.regions import Loop

    key = f"cell_l{level}"
    out_schema = (
        f"{key} long, n_points long, n_hull_vertices long, hull_area double, "
        "n_inside long"
    )

    def one_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = pdf[["x", "y", "z"]].to_numpy(np.float64)
        try:
            hull = convex_hull(pts)
            area = loop_area(hull) if hull.shape[0] >= 3 else 0.0
        except ValueError:  # non-hemispheric tile group (only at level 0-1)
            hull, area = pts, float("nan")
        if hull.shape[0] >= 3:
            c = hull.mean(axis=0)
            c /= np.linalg.norm(c)
            # pull exact-boundary points (the hull vertices themselves)
            # slightly toward the hull centroid to dodge boundary parity
            q = pts * (1.0 - 1e-9) + c[None, :] * 1e-9
            q /= np.linalg.norm(q, axis=1)[:, None]
            n_inside = int(Loop(hull).contains_points(q).sum())
        else:
            n_inside = len(pdf)  # degenerate hull (<=2 distinct points)
        return pd.DataFrame(
            {
                key: [int(pdf[key].iloc[0])],
                "n_points": [len(pdf)],
                "n_hull_vertices": [hull.shape[0]],
                "hull_area": [float(area)],
                "n_inside": [n_inside],
            }
        )

    with_key = df.withColumn(key, s2f.parent_expr(cell, level))
    return with_key.groupBy(key).applyInPandas(one_tile, out_schema)


def tile_rollup(df: DataFrame, levels, cell: str = "cell") -> DataFrame:
    """Multi-level tile rollup in ONE shuffle.

    Aggregates once at the finest level, then re-aggregates coarser levels
    from the fine partials (the density-tree ancestor property,
    s2density_tree.h:16-40): map-side combine does most of the work and the
    coarse levels reuse the fine aggregate instead of rescanning the fact
    table.
    """
    levels = sorted(levels)
    finest = levels[-1]
    fine = df.groupBy(s2f.parent_expr(cell, finest).alias("cell_lvl")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    fine = fine.withColumn("level", F.lit(finest))
    out = fine
    for lvl in reversed(levels[:-1]):
        coarser = (
            fine.groupBy(s2f.parent_expr("cell_lvl", lvl).alias("cell_lvl"))
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("level", F.lit(lvl))
        )
        out = out.unionByName(coarser)
    return out.select("level", "cell_lvl", "cnt")
