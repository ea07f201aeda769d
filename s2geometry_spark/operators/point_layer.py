"""S2PointVectorLayer as a distributed query.

Parity target: s2builderutil_s2point_vector_layer.cc:60-78 (Build) with
graph_options() = (DIRECTED, DegenerateEdges::KEEP, DuplicateEdges::MERGE,
SiblingPairs::KEEP) — s2builderutil_s2point_vector_layer.cc:80-84.

The layer runs after S2Builder snapping, so its input graph's vertices
are snap sites.  An edge is a point iff it is DEGENERATE IN THE SNAPPED
GRAPH (edge.first == edge.second): that covers both input point edges
(src == dst) and short edges COLLAPSED by snapping.  Edges still
non-degenerate after the snap make the layer set
S2Error::InvalidArgument and are skipped (the reference keeps emitting
the degenerate ones — .cc:66-70).

With DuplicateEdges::MERGE the builder collapses duplicate degenerate
edges, and the layer's optional IdSetLexicon output attaches the MERGED
LABEL SET to each emitted point (LabelFetcher over the merged edge,
.cc:71-75).  We surface that as one row per snap site:

    (site long, n_merged bigint, labels string, cx, cy, cz double)

* ``site``   — biased cell id of the snap site (S2CellIdSnapFunction
  at ``level``, kernels/builder.snap_cells);
* ``n_merged`` — how many degenerate edges merged into this point;
* ``labels`` — the IdSetLexicon set: DISTINCT labels, ascending,
  comma-joined (a canonical string so the DuckDB oracle hash-matches);
* ``cx,cy,cz`` — the output S2Point = the snap-site cell center
  (cellid.to_point, bit-identical to the oracle's inverse-Hilbert
  decode CTE).

DuplicateEdges::KEEP (the non-default) emits one row per degenerate
edge instead — ``point_vector_layer(..., duplicate="keep")``.

Distributed plan: ONE stateless mapInPandas over the edge table (snap
both endpoints, NumPy), a filter, and one hash aggregate on the site
key — linear, shuffle = the tiny per-site partials.  No driver state;
at 10^12 edges the agg key space is bounded by the level's cell count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels import builder, cellid

_SNAPPED_SCHEMA = (
    "eid long, label long, site long, site_b long, "
    "cx double, cy double, cz double"
)


def snap_edge_endpoints(edges: DataFrame, level: int) -> DataFrame:
    """One Arrow pass: snap both endpoints of every edge to the level's
    cell grid.  Output: (eid, label, site, site_b, cx, cy, cz) where
    site/site_b are the biased snap cells of A/B and cx..cz is the
    A-side snap-site center (the point the layer would emit)."""

    def snap_ends(pdf):
        A = pdf[["ax", "ay", "az"]].to_numpy(np.float64)
        B = pdf[["bx", "by", "bz"]].to_numpy(np.float64)
        ca = builder.snap_cells(A, level)
        cb = builder.snap_cells(B, level)
        S = builder.snap_to_cell_centers(A, level)
        return pd.DataFrame(
            {
                "eid": pdf["eid"].to_numpy(np.int64),
                "label": pdf["label"].to_numpy(np.int64),
                "site": cellid.to_biased(ca),
                "site_b": cellid.to_biased(cb),
                "cx": S[:, 0],
                "cy": S[:, 1],
                "cz": S[:, 2],
            }
        )

    return map_batches(edges, snap_ends, _SNAPPED_SCHEMA)


def point_vector_layer(
    edges: DataFrame, level: int, duplicate: str = "merge"
) -> DataFrame:
    """S2PointVectorLayer::Build over a snapped edge table.

    ``edges``: (eid long, label long, ax..az double, bx..bz double).
    Returns the layer's point vector (see module docstring).
    """
    snapped = snap_edge_endpoints(edges, level)
    deg = snapped.filter(F.col("site") == F.col("site_b"))
    if duplicate == "keep":
        return deg.select(
            "site",
            "eid",
            F.col("label").cast("long").alias("label"),
            "cx",
            "cy",
            "cz",
        )
    if duplicate != "merge":
        raise ValueError("duplicate must be 'merge' or 'keep'")
    return deg.groupBy("site").agg(
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_set("label")),
                lambda x: x.cast("string"),
            ),
        ).alias("labels"),
        # every row of a site group carries the identical decoded center
        F.min("cx").alias("cx"),
        F.min("cy").alias("cy"),
        F.min("cz").alias("cz"),
    )


def nondegenerate_edge_count(edges: DataFrame, level: int):
    """The layer's S2Error signal: how many edges are still
    non-degenerate after snapping (InvalidArgument when > 0,
    s2builderutil_s2point_vector_layer.cc:66-68)."""
    snapped = snap_edge_endpoints(edges, level)
    return snapped.filter(F.col("site") != F.col("site_b")).count()
