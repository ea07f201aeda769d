"""Closest-cell query: S2ClosestCellQuery (s2closest_cell_query.h) as
distributed dataflow.

The reference indexes (cell, label) pairs — typically region coverings —
in an S2CellIndex and answers "nearest indexed cell to each target
point".  The index is small by construction (it lives in memory in the
reference too), so the dataflow shape is: corners of every indexed cell
ship in the kernel closure; ONE Arrow-batched pass over the points table
computes the (batch x n_cells) distance matrix and emits each point's
top-k — no shuffle at all, no window (the per-row top-k is computed
inside the kernel).

Distance semantics (S2Cell::GetDistance, s2cell.cc:382-460): zero if the
cell contains the point (4-edge sign test against the corner cross
products), else the min over the 4 boundary edges of the point-to-arc
distance.  Every operation is the pinned kernel from measures so the
DuckDB oracle (corner literals + the same formulas) matches bit-exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import map_batches
from ..kernels import cellid, measures
from ..kernels.regions import Cell


def cell_corner_table(cells: list[tuple[str, int]]):
    """labels, biased ids, corner arrays (n,4,3) for the indexed cells,
    sorted by (label, cell) so a stable distance sort yields the
    (dist, label, cell) tie-break order."""
    cells = sorted(cells)
    labels = [c[0] for c in cells]
    ids = np.array([c[1] for c in cells], dtype=np.uint64)
    corners = np.stack([Cell(int(c)).vertices() for c in ids])
    biased = cellid.to_biased(ids)
    return labels, biased, corners


def _cell_distances(P: np.ndarray, corners: np.ndarray) -> np.ndarray:
    """(n_points, n_cells) chord^2 distance matrix, pinned ops."""
    n, m = P.shape[0], corners.shape[0]
    D = np.empty((n, m), np.float64)
    for ci in range(m):
        V = corners[ci]
        inside = np.ones(n, bool)
        dmin = None
        for e in range(4):
            a, b = V[e], V[(e + 1) % 4]
            # edge normal n = a x b (pinned component order)
            nx = a[1] * b[2] - a[2] * b[1]
            ny = a[2] * b[0] - a[0] * b[2]
            nz = a[0] * b[1] - a[1] * b[0]
            sd = (P[:, 0] * nx + P[:, 1] * ny) + P[:, 2] * nz
            inside &= sd >= 0
            d = measures.point_edge_chord2(
                P, np.broadcast_to(a, (n, 3)), np.broadcast_to(b, (n, 3))
            )
            dmin = d if dmin is None else np.minimum(dmin, d)
        D[:, ci] = np.where(inside, 0.0, dmin)
    return D


def closest_cells_join(
    points: DataFrame, cells: list[tuple[str, int]], k: int = 1
) -> DataFrame:
    """Top-k nearest indexed cells per point.

    points: (qid, qx, qy, qz); cells: [(label, cell_id uint64)].
    Returns (qid, rank, label, cell, dist_chord2); ties break by
    (dist, label, cell) ascending.
    """
    labels, biased, corners = cell_corner_table(cells)
    label_arr = np.array(labels)
    k_eff = min(k, len(labels))

    def nearest(pdf):
        P = pdf[["qx", "qy", "qz"]].to_numpy(np.float64)
        D = _cell_distances(P, corners)
        # cells pre-sorted by (label, cell): stable distance argsort
        # gives the (dist, label, cell) order
        order = np.argsort(D, axis=1, kind="stable")[:, :k_eff]
        qids = pdf["qid"].to_numpy(np.int64)
        return pd.DataFrame(
            {
                "qid": np.repeat(qids, k_eff),
                "rank": np.tile(np.arange(1, k_eff + 1), len(pdf)),
                "label": label_arr[order].reshape(-1),
                "cell": biased[order].reshape(-1),
                "dist_chord2": np.take_along_axis(D, order, axis=1).reshape(-1),
            }
        )

    return map_batches(
        points.select("qid", "qx", "qy", "qz"),
        nearest,
        "qid long, rank long, label string, cell long, dist_chord2 double",
    )


def closest_cells_oracle_sql(
    cells: list[tuple[str, int]], q_cte: str, k: int = 1
) -> str:
    """DuckDB oracle: corner literals + the identical pinned formulas.
    ``q_cte`` is a WITH-body ending in CTE ``qxyz(qid, x, y, z)``."""
    labels, biased, corners = cell_corner_table(cells)
    rows = []
    for li in range(len(labels)):
        V = corners[li]
        for e in range(4):
            a, b = V[e], V[(e + 1) % 4]
            vals = ", ".join("CAST(%.17e AS DOUBLE)" % v for v in (*a, *b))
            rows.append(f"('{labels[li]}', {int(biased[li])}, {vals})")
    d = measures.point_edge_chord2_sql("q.", "e.a", "e.b")
    nx = "(e.ay*e.bz - e.az*e.by)"
    ny = "(e.az*e.bx - e.ax*e.bz)"
    nz = "(e.ax*e.by - e.ay*e.bx)"
    sd = f"((q.x*{nx} + q.y*{ny}) + q.z*{nz})"
    return f"""WITH {q_cte},
edges(label, cell, ax, ay, az, bx, by, bz) AS (VALUES {", ".join(rows)}),
per_edge AS (
  SELECT q.qid, e.label, e.cell, {d} AS d, {sd} AS sd
  FROM qxyz q CROSS JOIN edges e
),
per_cell AS (
  SELECT qid, label, cell,
         CASE WHEN min(sd) >= 0 THEN CAST(0.0 AS DOUBLE) ELSE min(d) END
           AS dist_chord2
  FROM per_edge GROUP BY 1, 2, 3
)
SELECT qid, rank, label, cell, dist_chord2 FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY dist_chord2 ASC, label ASC, cell ASC
  ) AS rank FROM per_cell
) WHERE rank <= {k}"""
