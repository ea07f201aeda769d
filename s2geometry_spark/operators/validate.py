"""Distributed geometry validation — S2Loop::FindValidationError.

``loop_validation`` closes each vertex chain into a loop and reports the
FIRST validation error in the reference's check order
(s2loop.cc FindValidationErrorNoIndex + s2shapeutil::FindSelfIntersection,
exercised throughout s2loop_test.cc / s2shapeutil_edge_pairs_test):

  code 0  valid
  code 1  NOT_ENOUGH_VERTICES        (n < 3; idx_a = idx_b = -1)
  code 2  DUPLICATE_VERTICES         (adjacent identical, closing edge
                                      included; idx = (i, (i+1) mod n))
  code 3  ANTIPODAL_VERTICES         (adjacent antipodal)
  code 4  LOOP_SELF_INTERSECTION     (first transversally-crossing
                                      non-adjacent edge pair by (i, j))

Unit-length vertex checks are vacuous here (every vertex is normalized
upstream) and skipped on both engine and oracle sides.

The self-intersection scan uses the banded pure-double sign chain
(predicates.edges_cross_batch robust=False) over NON-ADJACENT edge pairs
(j > i+1, excluding the (0, n-1) wrap pair) — the identical pair set and
arithmetic the SQL oracle replays, so the verdicts are bit-reproducible.
Per-loop O(n^2) kernel rows; loops are bounded by key-range blocking
upstream, and pairs are embarrassingly parallel across loops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import map_batches
from ..kernels import predicates

__all__ = [
    "loop_validation",
    "loop_validation_oracle_sql",
    "star_order_chains",
    "star_order_cte_sql",
]

_SCHEMA = "loop_id long, n_vertices long, error_code int, idx_a long, idx_b long"


def _first_true(mask: np.ndarray) -> int:
    idx = np.flatnonzero(mask)
    return int(idx[0]) if idx.size else -1


def loop_validation(
    spark: SparkSession, chains: DataFrame, chain_col: str = "chain_id"
) -> DataFrame:
    """One row per loop: (loop_id, n_vertices, error_code, idx_a, idx_b)."""
    from .alignment import _verts_to_np, chains_as_arrays

    arrs = chains_as_arrays(chains, chain_col)

    def validate(pdf):
        rows = []
        for cid, cell in zip(pdf[chain_col], pdf["verts"]):
            V = _verts_to_np(cell)
            n = len(V)
            if n < 3:
                rows.append((cid, n, 1, -1, -1))
                continue
            W = np.roll(V, -1, axis=0)  # W[i] = V[(i+1) % n]
            dup = _first_true(np.all(V == W, axis=1))
            if dup >= 0:
                rows.append((cid, n, 2, dup, (dup + 1) % n))
                continue
            anti = _first_true(np.all(V == -W, axis=1))
            if anti >= 0:
                rows.append((cid, n, 3, anti, (anti + 1) % n))
                continue
            ii, jj = np.triu_indices(n, k=2)
            keep = ~((ii == 0) & (jj == n - 1))
            ii, jj = ii[keep], jj[keep]
            cross = predicates.edges_cross_batch(
                V[ii], W[ii], V[jj], W[jj], robust=False
            )
            k = _first_true(cross)  # i-major order = min (i, j)
            if k >= 0:
                rows.append((cid, n, 4, int(ii[k]), int(jj[k])))
            else:
                rows.append((cid, n, 0, -1, -1))
        return pd.DataFrame(
            rows,
            columns=["loop_id", "n_vertices", "error_code", "idx_a", "idx_b"],
        )

    return map_batches(arrs, validate, _SCHEMA)


def _star_sector_key(u: np.ndarray, v: np.ndarray):
    """8-sector angular sort key over tangent-plane coordinates.

    Axis-aligned bearings (u==0 or v==0) get dedicated EVEN sectors so
    v/u's ±inf/NaN never decides the order (ADVICE r3: a bearing-90
    vertex used to get r=+inf and sort LAST in its quadrant).  Interior
    sectors are odd; within them r = v/u is monotone ascending in angle.
    The degenerate u==v==0 point lands in sector 7 with r=0 (a loop
    vertex projecting exactly onto the frame center is outside the
    star-shaped contract anyway).  Mirrored term-for-term by the CASE
    expression in ``star_order_cte_sql``."""
    q = np.where(
        (u > 0) & (v == 0), 0,
        np.where((u > 0) & (v > 0), 1,
        np.where((u == 0) & (v > 0), 2,
        np.where((u < 0) & (v > 0), 3,
        np.where((u < 0) & (v == 0), 4,
        np.where((u < 0) & (v < 0), 5,
        np.where((u == 0) & (v < 0), 6, 7)))))),
    )
    r = np.zeros(len(u), np.float64)
    interior = (q % 2 == 1) & (u != 0)
    r[interior] = v[interior] / u[interior]
    return q, r


def star_order_chains(
    spark: SparkSession, chains: DataFrame, chain_col: str = "chain_id"
) -> DataFrame:
    """Angular reordering that turns a scattered vertex blob into a
    SIMPLE (star-shaped) loop: sort vertices by angle around the
    bounding-box center direction, in the gnomonic tangent plane —
    where great-circle edges map to straight lines, so consecutive-angle
    edges live in disjoint convex wedges and cannot cross (all angular
    gaps < pi when the center is interior to the hull).

    The sort key avoids every non-portable transcendental (no atan2):
    quadrant index from the signs of the tangent coordinates plus the
    monotone tan ratio v/u, with the input seq as the final tiebreaker.
    Every arithmetic step is pinned so ``star_order_cte_sql`` replays the
    ordering bit-for-bit in DuckDB.  Output: (chain_col, seq, x, y, z)
    with seq = rank in angular order."""
    from .alignment import _verts_to_np, chains_as_arrays

    arrs = chains_as_arrays(chains, chain_col)

    def star_order(pdf):
        out_cid, out_seq, out_x, out_y, out_z = [], [], [], [], []
        for cid, cell in zip(pdf[chain_col], pdf["verts"]):
            V = _verts_to_np(cell)
            n = len(V)
            mn, mx = V.min(axis=0), V.max(axis=0)
            m0, m1, m2 = (
                (mn[0] + mx[0]) * 0.5,
                (mn[1] + mx[1]) * 0.5,
                (mn[2] + mx[2]) * 0.5,
            )
            cn = np.sqrt((m0 * m0 + m1 * m1) + m2 * m2)
            c0, c1, c2 = m0 / cn, m1 / cn, m2 / cn
            h = np.sqrt(c0 * c0 + c1 * c1)
            e1x, e1y = -c1 / h, c0 / h  # e1z = 0 by construction
            e2x, e2y, e2z = -c2 * e1y, c2 * e1x, c0 * e1y - c1 * e1x
            u = V[:, 0] * e1x + V[:, 1] * e1y
            v = (V[:, 0] * e2x + V[:, 1] * e2y) + V[:, 2] * e2z
            q, r = _star_sector_key(u, v)
            order = np.lexsort((np.arange(n), r, q))
            out_cid.extend([cid] * n)
            out_seq.extend(range(n))
            out_x.extend(V[order, 0])
            out_y.extend(V[order, 1])
            out_z.extend(V[order, 2])
        return pd.DataFrame(
            {
                chain_col: out_cid,
                "seq": out_seq,
                "x": out_x,
                "y": out_y,
                "z": out_z,
            }
        )

    return map_batches(
        arrs,
        star_order,
        f"{chain_col} long, seq long, x double, y double, z double",
    )


def star_order_cte_sql(verts_sql: str) -> str:
    """DuckDB replay of ``star_order_chains``: yields the reordered
    (chain_id, seq, x, y, z) from a (chain_id, seq, x, y, z) source,
    every double bit-equal to the kernel's."""
    return f"""
WITH ssrc AS MATERIALIZED ({verts_sql}),
bbox AS MATERIALIZED (
  SELECT chain_id,
         (min(x) + max(x)) * 0.5 AS m0,
         (min(y) + max(y)) * 0.5 AS m1,
         (min(z) + max(z)) * 0.5 AS m2
  FROM ssrc GROUP BY chain_id
),
frame AS MATERIALIZED (
  SELECT chain_id,
         m0 / sqrt((m0*m0 + m1*m1) + m2*m2) AS c0,
         m1 / sqrt((m0*m0 + m1*m1) + m2*m2) AS c1,
         m2 / sqrt((m0*m0 + m1*m1) + m2*m2) AS c2
  FROM bbox
),
frame2 AS MATERIALIZED (
  SELECT chain_id, c0, c1, c2,
         -c1 / sqrt(c0*c0 + c1*c1) AS e1x,
         c0 / sqrt(c0*c0 + c1*c1) AS e1y
  FROM frame
),
keyed AS MATERIALIZED (
  SELECT s.chain_id, s.seq, s.x, s.y, s.z,
         (s.x * f.e1x + s.y * f.e1y) AS u,
         ((s.x * (-f.c2 * f.e1y) + s.y * (f.c2 * f.e1x))
          + s.z * (f.c0 * f.e1y - f.c1 * f.e1x)) AS v
  FROM ssrc s JOIN frame2 f ON f.chain_id = s.chain_id
)
SELECT chain_id,
       row_number() OVER (
         PARTITION BY chain_id
         ORDER BY CASE WHEN u > 0 AND v = 0 THEN 0
                       WHEN u > 0 AND v > 0 THEN 1
                       WHEN u = 0 AND v > 0 THEN 2
                       WHEN u < 0 AND v > 0 THEN 3
                       WHEN u < 0 AND v = 0 THEN 4
                       WHEN u < 0 AND v < 0 THEN 5
                       WHEN u = 0 AND v < 0 THEN 6
                       ELSE 7 END,
                  CASE WHEN u = 0 OR v = 0 THEN 0.0 ELSE v / u END, seq
       ) - 1 AS seq,
       x, y, z
FROM keyed"""


def loop_validation_oracle_sql(verts_sql: str) -> str:
    """DuckDB replay of ``loop_validation``.  ``verts_sql`` yields
    (chain_id, seq, x, y, z); vertex order is ORDER BY seq per chain.
    Replays the identical banded sign-chain over the identical
    non-adjacent pair set, and the identical error priority."""
    return f"""
WITH vsrc AS MATERIALIZED ({verts_sql}),
verts AS MATERIALIZED (
  SELECT chain_id AS loop_id,
         row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS vi,
         x, y, z
  FROM vsrc
),
cnt AS MATERIALIZED (SELECT loop_id, count(*) AS n FROM verts GROUP BY loop_id),
edges AS MATERIALIZED (
  SELECT v0.loop_id, v0.vi AS i,
         v0.x AS p0x, v0.y AS p0y, v0.z AS p0z,
         v1.x AS p1x, v1.y AS p1y, v1.z AS p1z
  FROM verts v0
  JOIN cnt c ON c.loop_id = v0.loop_id AND c.n >= 3
  JOIN verts v1 ON v1.loop_id = v0.loop_id AND v1.vi = (v0.vi + 1) % c.n
),
dup AS (
  SELECT loop_id, min(i) AS i FROM edges
  WHERE p0x = p1x AND p0y = p1y AND p0z = p1z GROUP BY loop_id
),
antip AS (
  SELECT loop_id, min(i) AS i FROM edges
  WHERE p0x = -p1x AND p0y = -p1y AND p0z = -p1z GROUP BY loop_id
),
mat AS (
  SELECT ea.loop_id, ea.i, eb.i AS j,
         ea.p0x AS a0x, ea.p0y AS a0y, ea.p0z AS a0z,
         ea.p1x AS a1x, ea.p1y AS a1y, ea.p1z AS a1z,
         eb.p0x AS b0x, eb.p0y AS b0y, eb.p0z AS b0z,
         eb.p1x AS b1x, eb.p1y AS b1y, eb.p1z AS b1z,
         (ea.p0y*ea.p1z - ea.p0z*ea.p1y) AS nx,
         (ea.p0z*ea.p1x - ea.p0x*ea.p1z) AS ny,
         (ea.p0x*ea.p1y - ea.p0y*ea.p1x) AS nz,
         (eb.p0y*eb.p1z - eb.p0z*eb.p1y) AS mx,
         (eb.p0z*eb.p1x - eb.p0x*eb.p1z) AS my,
         (eb.p0x*eb.p1y - eb.p0y*eb.p1x) AS mz
  FROM edges ea
  JOIN cnt c ON c.loop_id = ea.loop_id
  JOIN edges eb ON eb.loop_id = ea.loop_id
   AND eb.i > ea.i + 1 AND NOT (ea.i = 0 AND eb.i = c.n - 1)
),
sg AS (
  SELECT loop_id, i, j,
         CASE WHEN abs((nx*b0x + ny*b0y) + nz*b0z) <= 1e-15 THEN 0
              ELSE sign((nx*b0x + ny*b0y) + nz*b0z) END AS db0s,
         CASE WHEN abs((nx*b1x + ny*b1y) + nz*b1z) <= 1e-15 THEN 0
              ELSE sign((nx*b1x + ny*b1y) + nz*b1z) END AS db1s,
         CASE WHEN abs((mx*a0x + my*a0y) + mz*a0z) <= 1e-15 THEN 0
              ELSE sign((mx*a0x + my*a0y) + mz*a0z) END AS da0s,
         CASE WHEN abs((mx*a1x + my*a1y) + mz*a1z) <= 1e-15 THEN 0
              ELSE sign((mx*a1x + my*a1y) + mz*a1z) END AS da1s
  FROM mat
),
crx AS (
  SELECT loop_id, i, j,
         row_number() OVER (PARTITION BY loop_id ORDER BY i, j) AS rnk
  FROM sg
  WHERE db0s * db1s < 0 AND da0s * da1s < 0 AND db1s = da0s
)
SELECT c.loop_id, c.n AS n_vertices,
       CASE WHEN c.n < 3 THEN 1
            WHEN dup.i IS NOT NULL THEN 2
            WHEN antip.i IS NOT NULL THEN 3
            WHEN crx.i IS NOT NULL THEN 4
            ELSE 0 END AS error_code,
       CASE WHEN c.n < 3 THEN -1
            WHEN dup.i IS NOT NULL THEN dup.i
            WHEN antip.i IS NOT NULL THEN antip.i
            WHEN crx.i IS NOT NULL THEN crx.i
            ELSE -1 END AS idx_a,
       CASE WHEN c.n < 3 THEN -1
            WHEN dup.i IS NOT NULL THEN (dup.i + 1) % c.n
            WHEN antip.i IS NOT NULL THEN (antip.i + 1) % c.n
            WHEN crx.i IS NOT NULL THEN crx.j
            ELSE -1 END AS idx_b
FROM cnt c
LEFT JOIN dup ON dup.loop_id = c.loop_id
LEFT JOIN antip ON antip.loop_id = c.loop_id
LEFT JOIN crx ON crx.loop_id = c.loop_id AND crx.rnk = 1
ORDER BY c.loop_id"""


def loop_pair_approx_match(
    spark: SparkSession,
    loops_a: DataFrame,
    loops_b: DataFrame,
    ch2_tol: float,
    chain_col: str = "chain_id",
) -> DataFrame:
    """S2Loop::BoundaryApproxEquals as a distributed per-pair query
    (s2loop.cc BoundaryApproxEquals; loops paired by chain id): the
    smallest rotation offset under which every vertex of A matches the
    same-index vertex of B within tol, or -1.  Output
    (chain_id, n_vertices, matched_offset).

    chord^2 comparisons use the pinned ((dx*dx + dy*dy) + dz*dz) order so
    the SQL oracle replays every verdict bit-for-bit."""
    from .alignment import _verts_to_np, chains_as_arrays

    arrs_a = chains_as_arrays(loops_a, chain_col)
    arrs_b = chains_as_arrays(loops_b, chain_col).select(
        chain_col, F.col("verts").alias("verts_b")
    )
    joined = arrs_a.join(arrs_b, chain_col)

    def match_offset(pdf):
        rows = []
        for cid, va, vb in zip(pdf[chain_col], pdf["verts"], pdf["verts_b"]):
            A = _verts_to_np(va)
            B = _verts_to_np(vb)
            n = len(A)
            matched = -1
            if n == len(B):
                for off in range(n):
                    R = np.roll(A, -off, axis=0)
                    dx, dy, dz = (R - B).T
                    d = (dx * dx + dy * dy) + dz * dz
                    if (d <= ch2_tol).all():
                        matched = off
                        break
            rows.append((cid, n, matched))
        return pd.DataFrame(
            rows, columns=[chain_col, "n_vertices", "matched_offset"]
        )

    return map_batches(
        joined,
        match_offset,
        f"{chain_col} long, n_vertices long, matched_offset long",
    )


def loop_pair_approx_match_oracle_sql(
    a_sql: str, b_sql: str, ch2_tol: float
) -> str:
    """DuckDB replay: offsets from each chain's own seq values; an offset
    matches iff no vertex pair exceeds tol; emit the min matching offset
    else -1.  ``a_sql``/``b_sql`` yield (chain_id, seq, x, y, z)."""
    tol = f"CAST({ch2_tol!r} AS DOUBLE)"
    return f"""
WITH asrc AS MATERIALIZED ({a_sql}),
bsrc AS MATERIALIZED ({b_sql}),
av AS MATERIALIZED (
  SELECT chain_id, row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS vi,
         x, y, z FROM asrc
),
bv AS MATERIALIZED (
  SELECT chain_id, row_number() OVER (PARTITION BY chain_id ORDER BY seq) - 1 AS vi,
         x, y, z FROM bsrc
),
cnt AS MATERIALIZED (SELECT chain_id, count(*) AS n FROM av GROUP BY chain_id),
offs AS (SELECT chain_id, vi AS o FROM av),
bad AS (
  SELECT f.chain_id, f.o,
         max(CASE WHEN ((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y))
                        + (a.z - b.z)*(a.z - b.z) > {tol}
                  THEN 1 ELSE 0 END) AS any_bad
  FROM offs f
  JOIN cnt c ON c.chain_id = f.chain_id
  JOIN bv b ON b.chain_id = f.chain_id
  JOIN av a ON a.chain_id = f.chain_id AND a.vi = (b.vi + f.o) % c.n
  GROUP BY f.chain_id, f.o
),
m AS (
  SELECT chain_id, min(o) AS matched_offset FROM bad WHERE any_bad = 0
  GROUP BY chain_id
)
SELECT c.chain_id, c.n AS n_vertices,
       COALESCE(m.matched_offset, -1) AS matched_offset
FROM cnt c LEFT JOIN m ON m.chain_id = c.chain_id
ORDER BY c.chain_id"""
