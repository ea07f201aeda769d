"""S2PaddedCell::ShrinkToFit as a distributed query.

Parity target: s2padded_cell.cc:128-168.  ShrinkToFit(rect) answers
"what is the smallest cell whose padded (u,v) bound still contains this
rect" — the index-descent seek that MutableS2ShapeIndex performs per
edge when positioning its update iterator, and that
S2CrossingEdgeQuery uses to start each query-edge descent.  At 10^12
rows this is a pure map stage: every (face, rect) row is independent,
so the operator is ONE stateless Arrow pass over the rect table with
the vectorized kernel (kernels/paddedcell.shrink_to_fit) — no shuffle,
no join, no driver state.

The oracle replays the full case analysis in SQL: center-line quick
reject, padding + 1.5*DBL_EPSILON expansion, UVtoST -> STtoIJ clamps,
ij-xor bit-width level choice, FromFaceIJ (the new integer-input
Hilbert CTE, oracle.leaf_from_face_ij_cte) and a variable-level parent
on the biased id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import oracle
from ..functions import map_batches
from ..kernels import cellid, paddedcell

#: 26 dyadic half-sizes 2^-3 .. 2^-28 — rect levels span the hierarchy
_N_SIZES = 26


def _size_case(sel: str) -> str:
    whens = " ".join(
        f"WHEN {t} THEN {2.0 ** -(3 + t)!r}" for t in range(_N_SIZES)
    )
    return f"(CASE {sel} {whens} END)"


def rect_fixture_exprs(key: str) -> dict[str, str]:
    """Key-derived (face, rect) columns as ONE SQL text both engines
    evaluate: exact dyadic centers (k/2^21 in [-0.25, 0.25)) and exact
    power-of-two half-sizes, so every float is exactly representable
    and the rect always lies inside the face bound."""
    k = f"({key})"
    cu = f"(CAST(({k} * 2654435761) % 1048576 AS DOUBLE) / 2097152.0 - 0.25)"
    cv = f"(CAST(({k} * 1885667171) % 1048576 AS DOUBLE) / 2097152.0 - 0.25)"
    hu = _size_case(f"({k} * 7919 + 3) % {_N_SIZES}")
    hv = _size_case(f"({k} * 104729 + 11) % {_N_SIZES}")
    return {
        "face": f"{k} % 6",
        "ru_lo": f"{cu} - {hu}",
        "ru_hi": f"{cu} + {hu}",
        "rv_lo": f"{cv} - {hv}",
        "rv_hi": f"{cv} + {hv}",
    }


def rect_fixture(t: DataFrame, key: str, id_expr: str) -> DataFrame:
    ex = rect_fixture_exprs(key)
    return t.select(
        F.expr(id_expr).cast("long").alias("rid"),
        F.expr(ex["face"]).cast("long").alias("face"),
        F.expr(ex["ru_lo"]).alias("ru_lo"),
        F.expr(ex["ru_hi"]).alias("ru_hi"),
        F.expr(ex["rv_lo"]).alias("rv_lo"),
        F.expr(ex["rv_hi"]).alias("rv_hi"),
    )


def shrink_to_fit_cells(rects: DataFrame, padding: float) -> DataFrame:
    """(rid, face, seed_cell, seed_level): ShrinkToFit of each row's
    rect from its face cell.  ``rects``: (rid long, face long,
    ru_lo/ru_hi/rv_lo/rv_hi double), rect required to intersect the
    face's padded bound (the reference's DCHECK)."""

    def shrink(pdf):
        face = pdf["face"].to_numpy(np.int64).astype(np.uint64)
        ids = (face << np.uint64(61)) | np.uint64(1 << 60)
        seed = paddedcell.shrink_to_fit(
            ids,
            padding,
            pdf["ru_lo"].to_numpy(np.float64),
            pdf["ru_hi"].to_numpy(np.float64),
            pdf["rv_lo"].to_numpy(np.float64),
            pdf["rv_hi"].to_numpy(np.float64),
        )
        return pd.DataFrame(
            {
                "rid": pdf["rid"].to_numpy(np.int64),
                "face": face.astype(np.int64),
                "seed_cell": cellid.to_biased(seed),
                "seed_level": cellid.level(seed).astype(np.int64),
            }
        )

    return map_batches(
        rects,
        shrink,
        "rid long, face long, seed_cell long, seed_level long",
    )


def _uv2st(u: str) -> str:
    return (
        f"(CASE WHEN {u} >= 0 THEN 0.5 * sqrt(1 + 3*({u})) "
        f"ELSE 1 - 0.5 * sqrt(1 - 3*({u})) END)"
    )


def _st2ij(s: str) -> str:
    return (
        f"(CASE WHEN {s} > 0 THEN "
        f"CAST(floor(least(1073741824e0 * ({s}), 1073741823e0)) AS BIGINT) "
        f"ELSE 0 END)"
    )


def _bit_width_sql(x: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {x} >= {1 << t} THEN 1 ELSE 0 END)" for t in range(32)
    )
    return f"({terms})"


def shrink_to_fit_oracle_sql(table: str, key: str, id_expr: str, padding: float) -> str:
    ex = rect_fixture_exprs(key)
    pad2 = repr(padding + 1.5 * paddedcell.DBL_EPSILON)
    face_cell = f"2*(face * {1 << 60} + {1 << 59} - {1 << 62})"
    return f"""
WITH rects AS MATERIALIZED (
  SELECT {id_expr} AS rid, {ex["face"]} AS face,
         {ex["ru_lo"]} AS ru_lo, {ex["ru_hi"]} AS ru_hi,
         {ex["rv_lo"]} AS rv_lo, {ex["rv_hi"]} AS rv_hi
  FROM {table}
),
qk AS (
  SELECT *, ((ru_lo <= 0 AND 0 <= ru_hi) OR (rv_lo <= 0 AND 0 <= rv_hi))
              AS keep0
  FROM rects
),
ij0 AS MATERIALIZED (
  SELECT *,
    {_st2ij(_uv2st(f"ru_lo - {pad2}"))} AS i0,
    {_st2ij(_uv2st(f"ru_hi + {pad2}"))} AS i1,
    {_st2ij(_uv2st(f"rv_lo - {pad2}"))} AS j0,
    {_st2ij(_uv2st(f"rv_hi + {pad2}"))} AS j1
  FROM qk
),
lv AS (
  SELECT *, ((xor(i0, i1) | xor(j0, j1)) * 2 + 1) AS msb FROM ij0
),
lv2 AS (
  SELECT rid, face, keep0, i0 AS i, j0 AS j,
         30 - ({_bit_width_sql("msb")} - 1) AS nlvl
  FROM lv
),
{oracle.leaf_from_face_ij_cte("lv2")},
par AS (
  SELECT *, (CAST(1 AS BIGINT) << (2 * (30 - nlvl))) AS plsb FROM leaf
)
SELECT rid, face,
  CASE WHEN keep0 OR nlvl <= 0 THEN {face_cell}
       ELSE cell_leaf - (((cell_leaf % (2*plsb)) + 2*plsb) % (2*plsb)) + plsb
  END AS seed_cell,
  CASE WHEN keep0 OR nlvl <= 0 THEN 0 ELSE nlvl END AS seed_level
FROM par
"""
