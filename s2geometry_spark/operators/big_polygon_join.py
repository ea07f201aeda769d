"""Containment join against a LARGE polygon table (no broadcast).

`contains_join` (term-indexer + broadcast) assumes the polygon set fits
on the driver — the north-star case.  At 10^12 scale the polygon side can
itself be a big table; this operator keeps the same two-phase shape with
every step distributed:

1. **index terms** — each polygon's covering + ancestor terms are computed
   INSIDE a mapInPandas pass (the RegionCoverer port runs per-row in the
   executors; no driver materialization), yielding an exploded
   (term_cell, is_covering, poly_id) table — S2's own distributed-indexing
   design (s2region_term_indexer.cc:23-72).
2. **candidate join** — point query terms (pure-SQL explode) equi-join the
   term table; with a big polygon side Catalyst picks a shuffle hash join
   keyed on the term cell, AQE handling skewed hot terms.
3. **refinement** — candidates shuffle on poly_id and cogroup with the
   polygon payload; one vectorized crossing-parity batch per polygon
   group (kernels.predicates), never per-row Python.

Polygon table schema: (poly_id string, loops array<array<array<double>>>)
— loops -> vertices -> [x, y, z].
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions import map_batches
from ..kernels.coverer import RegionCoverer
from ..kernels.predicates import compute_origin_inside, polygon_contains_points
from ..kernels.regions import Loop, Polygon
from .contains_join import TERM_OPTS, _candidates, covering_index_terms

TERM_SCHEMA = "term_cell long, is_covering boolean, poly_id string"


def polygons_to_df(spark: SparkSession, regions: dict[str, object]) -> DataFrame:
    """Helper: driver dict -> the big-table layout (for tests/fixtures)."""
    rows = []
    for rid, region in regions.items():
        loops = region.loops if isinstance(region, Polygon) else [region]
        rows.append((rid, [np.asarray(lp.vertices).tolist() for lp in loops]))
    return spark.createDataFrame(
        rows, schema="poly_id string, loops array<array<array<double>>>"
    )


def polygon_index_terms(polygons: DataFrame) -> DataFrame:
    """(term_cell, is_covering, poly_id): coverings + ancestor terms,
    computed executor-side per Arrow batch."""

    def index_terms(pdf):
        coverer = RegionCoverer(TERM_OPTS)
        coverings = []
        for row in pdf.itertuples(index=False):
            loops = [
                Loop(np.stack([np.asarray(v, np.float64) for v in lv]))
                for lv in row.loops
            ]
            region = Polygon(loops) if len(loops) > 1 else loops[0]
            coverings.append(coverer.get_covering(region))
        owner, cells, is_cov = covering_index_terms(coverings)
        return pd.DataFrame(
            {
                "term_cell": cells,
                "is_covering": is_cov,
                "poly_id": pdf["poly_id"].to_numpy()[owner],
            }
        )

    return map_batches(polygons, index_terms, TERM_SCHEMA)


def contains_join_big(
    spark: SparkSession,
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "pid",
    cell: str = "cell",
    xyz: tuple[str, str, str] = ("x", "y", "z"),
) -> DataFrame:
    """All (point, polygon) pairs with the polygon containing the point —
    both sides arbitrarily large."""
    cand = _candidates(points, polygon_index_terms(polygons), point_id, cell, xyz)

    # refinement: cogroup candidates with polygon payloads per poly_id;
    # one parity kernel call per (polygon, batch)
    id_type = points.schema[point_id].dataType
    out_schema = f"{point_id} {id_type.simpleString()}, poly_id string"

    def refine(key, cand_pdf: pd.DataFrame, poly_pdf: pd.DataFrame):
        if len(cand_pdf) == 0 or len(poly_pdf) == 0:
            return pd.DataFrame()
        loops = [
            np.stack([np.asarray(v, np.float64) for v in lv])
            for lv in poly_pdf.iloc[0]["loops"]
        ]
        flags = [compute_origin_inside(v) for v in loops]
        pts = cand_pdf[list(xyz)].to_numpy(np.float64)
        inside = polygon_contains_points(loops, flags, pts)
        keep = cand_pdf.loc[inside, [point_id]].copy()
        keep["poly_id"] = key[0]
        return keep

    return (
        cand.groupBy("poly_id")
        .cogroup(polygons.groupBy("poly_id"))
        .applyInPandas(refine, out_schema)
    )
