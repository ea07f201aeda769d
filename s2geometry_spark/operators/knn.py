"""k-nearest-neighbor join via staged cell-neighbor ring expansion.

Re-expression of S2ClosestPointQuery's best-first cell search
(s2closest_point_query_base.h:482-769) as distributed dataflow: instead of
a per-query priority queue, every stage is ONE equi-join of queries against
points co-bucketed by a cell-at-level prefix, followed by a windowed top-k.
A query is *certified* at a stage when its k-th candidate distance is
smaller than the minimum possible distance to any point outside the 3x3
neighbor block — the same admissible lower bound the reference's queue
pruning uses (S2Cell::GetDistance / kMinWidth, s2closest_point_query_base.h:556-560).

Uncertified queries escalate to a coarser level (64x the area); the final
fallback is a brute-force cross join for whatever remains (typically none).
Every stage is shuffle-light: the points side is grouped once per level,
and the neighbor explode happens on the (small) query side.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .. import functions as s2f
from ..functions import map_batches
from ..kernels import cellid, metrics

# Hard cap on queries allowed into the brute-force fallback: beyond this
# the `remaining x points` cross join is a scale cliff, not a remainder.
MAX_BRUTE_FORCE_QUERIES = 10_000


def _neighbor_block_udf(level: int):
    """cells of the 3x3 block (self + AppendAllNeighbors) at ``level`` for
    each query's cell — vectorized, returns array<long> (biased)."""

    @pandas_udf(ArrayType(LongType()))
    def block(cell_biased: pd.Series) -> pd.Series:
        ids = cellid.from_biased(cell_biased.to_numpy(np.int64))
        own = cellid.parent(ids, level)
        idx, nbrs = cellid.append_all_neighbors(own, level)
        out: list[list[int]] = [[int(b)] for b in cellid.to_biased(own)]
        nb = cellid.to_biased(nbrs)
        for i, b in zip(idx, nb):
            out[int(i)].append(int(b))
        return pd.Series([sorted(set(v)) for v in out])

    return block


def _min_outside_chord2(level: int) -> float:
    """Admissible bound: any point OUTSIDE the 3x3 block at ``level`` is at
    least one neighbor-cell width away => angle >= kMinWidth(level); compare
    in squared-chord space (monotone)."""
    ang = metrics.MIN_WIDTH.get_value(level)
    d = 2.0 * math.sin(0.5 * min(math.pi, ang))
    return d * d


def query_bound_chord2(
    P: np.ndarray, cells: np.ndarray, level: int
) -> np.ndarray:
    """Per-query admissible certification bound, TIGHTER than the
    constant kMinWidth block bound: any point outside the 3x3 block is at
    least d(q, boundary of q's own cell) + kMinWidth(level) away — the
    geodesic to it crosses the own-cell boundary first, then must
    traverse a full ring cell (each ring crossing >= the level's min
    width; S2Cell::GetDistance gives the first term exactly via the
    4-edge distance, s2cell.cc:382-460).

    P: (n,3) query points; cells: uint64 leaf ids.  Returns chord^2.
    """
    from ..kernels import measures

    own = cellid.parent(cells, level)
    corners = cellid.corners_xyz(own)
    n = P.shape[0]
    d = None
    for e in range(4):
        a = corners[:, e]
        b = corners[:, (e + 1) % 4]
        de = measures.point_edge_chord2(P, a, b)
        d = de if d is None else np.minimum(d, de)
    ang = 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(d)))
    total = ang + metrics.MIN_WIDTH.get_value(level)
    chord = 2.0 * np.sin(0.5 * np.minimum(np.pi, total))
    return chord * chord


def _bound_udf(level: int):
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def bound(
        cell_biased: pd.Series, qx: pd.Series, qy: pd.Series, qz: pd.Series
    ) -> pd.Series:
        ids = cellid.from_biased(cell_biased.to_numpy(np.int64))
        P = np.stack(
            [
                qx.to_numpy(np.float64),
                qy.to_numpy(np.float64),
                qz.to_numpy(np.float64),
            ],
            axis=1,
        )
        return pd.Series(query_bound_chord2(P, ids, level))

    return bound


def _stage(
    points_with_cell: DataFrame,
    queries: DataFrame,
    level: int,
    k: int,
    qid: str,
    pid: str,
) -> DataFrame:
    """One ring-expansion stage at ``level``; returns per-query top-k with a
    ``certified`` flag.

    Shape: both sides shuffle ONCE on the block key; a cogrouped
    applyInPandas computes per-(query, block) top-k with a vectorized
    chord^2 matrix (pinned ((dx²+dy²)+dz²) order — bit-identical to the
    SQL oracle), so the global top-k window sees <= 9k candidate rows per
    query-block instead of the full joined candidate set (~8x fewer rows
    through the window shuffle at sf0.1).
    """
    pts = points_with_cell.withColumn("p_blk", s2f.parent_expr("p_cell", level))
    blk = _neighbor_block_udf(level)
    q = queries.withColumn("q_blocks", blk(F.col("q_cell")))
    q = q.withColumn("p_blk", F.explode("q_blocks")).drop("q_blocks")

    # cogroup on a COARSER prefix (16 blocks per group): per-group pandas
    # overhead is the dominant cost with one group per block (~6k calls at
    # sf0.1); blocks inside a group are matched via sorted numpy slices.
    group_level = max(level - 2, 0)
    pts = pts.withColumn("g_blk", s2f.parent_expr("p_blk", group_level))
    q = q.withColumn("g_blk", s2f.parent_expr("p_blk", group_level))

    out_schema = (
        f"{qid} long, qx double, qy double, qz double, q_cell long, "
        f"{pid} long, dist_chord2 double"
    )

    def group_topk(key, qdf: pd.DataFrame, pdf: pd.DataFrame):
        if len(qdf) == 0 or len(pdf) == 0:
            return pd.DataFrame()
        p_blk = pdf["p_blk"].to_numpy(np.int64)
        order_p = np.argsort(p_blk, kind="stable")
        p_blk_s = p_blk[order_p]
        P = pdf[["px", "py", "pz"]].to_numpy(np.float64)[order_p]
        p_ids = pdf[pid].to_numpy(np.int64)[order_p]

        q_blk = qdf["p_blk"].to_numpy(np.int64)
        Qm = qdf[["qx", "qy", "qz"]].to_numpy(np.float64)
        q_ids = qdf[qid].to_numpy(np.int64)
        q_cells = qdf["q_cell"].to_numpy(np.int64)

        out_q, out_qx, out_qy, out_qz, out_qc, out_p, out_d = (
            [], [], [], [], [], [], [],
        )
        for b in np.unique(q_blk):
            lo = np.searchsorted(p_blk_s, b, "left")
            hi = np.searchsorted(p_blk_s, b, "right")
            if lo == hi:
                continue
            qm = q_blk == b
            Qb = Qm[qm]
            Pb = P[lo:hi]
            ids_b = p_ids[lo:hi]
            dx = Qb[:, 0][:, None] - Pb[None, :, 0]
            dy = Qb[:, 1][:, None] - Pb[None, :, 1]
            dz = Qb[:, 2][:, None] - Pb[None, :, 2]
            D = (dx * dx + dy * dy) + dz * dz
            take = min(k, Pb.shape[0])
            # full (dist, pid) lexicographic order — a distance-only
            # argpartition can drop the smaller-pid member of a tie at the
            # k-th boundary, breaking the oracle's (dist, pid) tie-break.
            # ids_b is shared across rows, so pre-permute columns by pid once
            # and a stable distance argsort yields (dist, pid) order.
            oi = np.argsort(ids_b, kind="stable")
            D2 = D[:, oi]
            ids2 = ids_b[oi]
            fin = np.argsort(D2, axis=1, kind="stable")[:, :take]
            out_q.append(np.repeat(q_ids[qm], take))
            out_qx.append(np.repeat(Qb[:, 0], take))
            out_qy.append(np.repeat(Qb[:, 1], take))
            out_qz.append(np.repeat(Qb[:, 2], take))
            out_qc.append(np.repeat(q_cells[qm], take))
            out_p.append(ids2[fin].reshape(-1))
            out_d.append(np.take_along_axis(D2, fin, axis=1).reshape(-1))
        if not out_q:
            return pd.DataFrame()
        return pd.DataFrame(
            {
                qid: np.concatenate(out_q),
                "qx": np.concatenate(out_qx),
                "qy": np.concatenate(out_qy),
                "qz": np.concatenate(out_qz),
                "q_cell": np.concatenate(out_qc),
                pid: np.concatenate(out_p),
                "dist_chord2": np.concatenate(out_d),
            }
        )

    cand = (
        q.groupBy("g_blk")
        .cogroup(pts.groupBy("g_blk"))
        .applyInPandas(group_topk, out_schema)
    )
    w = Window.partitionBy(qid).orderBy(F.col("dist_chord2").asc(), F.col(pid).asc())
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, "qx", "qy", "qz", "q_cell", pid, "dist_chord2", "rank")
    )
    # per-query bound (own-cell boundary distance + ring width) certifies
    # strictly more queries at stage 1 than the constant kMinWidth bound
    bnd = _bound_udf(level)
    cert = (
        topk.groupBy(qid)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.max("dist_chord2").alias("_dmax"),
            F.first("q_cell").alias("_qc"),
            F.first("qx").alias("_qx"),
            F.first("qy").alias("_qy"),
            F.first("qz").alias("_qz"),
        )
        .withColumn("_bound", bnd(F.col("_qc"), F.col("_qx"), F.col("_qy"), F.col("_qz")))
        .withColumn(
            "certified", (F.col("_n") >= k) & (F.col("_dmax") < F.col("_bound"))
        )
        .select(qid, "certified")
    )
    return topk.join(cert, qid, "inner")


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    k: int,
    start_level: int = 8,
    num_stages: int = 2,
    qid: str = "qid",
    pid: str = "pid",
) -> DataFrame:
    """Top-k nearest points for every query.

    points: (pid, px, py, pz, p_cell[biased leaf]);
    queries: (qid, qx, qy, qz, q_cell[biased leaf]).
    Returns (qid, rank, pid, dist_chord2).

    Stages run at start_level, start_level-3, ... then brute force for the
    (rare) remainder — each stage a cell-prefix equi-join, never a full
    cross join of the fact table.
    """
    points = points.cache()
    remaining = queries
    prev_cached: list[DataFrame] = []
    results = []
    level = start_level
    for _ in range(num_stages):
        if level < 1:
            break
        staged = _stage(points, remaining, level, k, qid, pid).cache()
        results.append(
            staged.where(F.col("certified")).select(qid, "rank", pid, "dist_chord2")
        )
        certified_q = staged.where(F.col("certified")).select(qid).distinct()
        # uncertified AND zero-candidate queries both survive the anti-join
        remaining = remaining.join(certified_q, qid, "left_anti").cache()
        level -= 3
        # short-circuit: a later stage would still shuffle the whole points
        # side through the cogroup even with zero queries left; this count
        # also materializes the new `remaining`, after which the PREVIOUS
        # stage's remaining cache is dead weight — unpersist it so query-side
        # caches don't pile up in block-manager memory for the session's
        # life.  (`staged` caches stay: they back the lazily-returned result
        # union; they're bounded by num_stages and dropped with the plan.)
        empty = remaining.limit(1).count() == 0
        for df in prev_cached:
            df.unpersist()
        prev_cached = [remaining]
        if empty:
            return _union_all(results)

    # brute-force fallback for the (typically empty) remainder — LOUDLY
    # capped: `remaining x points` is the one plan here that does not
    # survive a 100x scale-up, so refuse to build it for more than a
    # trickle of queries instead of silently cross-joining the fact table
    # (same contract as ann.cosine_topk_bruteforce's MAX_QUERIES).
    n_remaining = remaining.limit(MAX_BRUTE_FORCE_QUERIES + 1).count()
    if n_remaining > MAX_BRUTE_FORCE_QUERIES:
        raise ValueError(
            f"knn_join: >{MAX_BRUTE_FORCE_QUERIES} queries "
            f"(>= {n_remaining}) left uncertified after {num_stages} "
            "stages; a cross join against the full points table at this "
            "volume is a scale cliff. Increase num_stages or lower "
            "start_level so the staged cascade certifies them."
        )
    if n_remaining == 0:
        # usual case — drop the fallback subtree from the final plan
        return _union_all(results)
    bf = remaining.crossJoin(points)
    dist = s2f.chord2_expr(
        F.col("qx"), F.col("qy"), F.col("qz"), F.col("px"), F.col("py"), F.col("pz")
    )
    w = Window.partitionBy(qid).orderBy(F.col("dist_chord2").asc(), F.col(pid).asc())
    bf = (
        bf.withColumn("dist_chord2", dist)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, "rank", pid, "dist_chord2")
    )
    results.append(bf)
    return _union_all(results)


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for r in dfs[1:]:
        out = out.unionByName(r)
    return out


def hausdorff_distance(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    start_level: int = 5,
    num_stages: int = 2,
) -> DataFrame:
    """Directed Hausdorff distance h(Q -> P) = max_{q in Q} min_{p in P}
    d(q, p) — the S2HausdorffDistanceQuery semantics over point sets,
    composed from the kNN join (k=1 nearest in P per q, then one max agg;
    the same best-first pruning the reference's query uses is our staged
    ring expansion).

    points: (pid, px, py, pz, p_cell); queries: (qid, qx, qy, qz, q_cell).
    Returns one row: (h_chord2, h_radians).
    """
    nn = knn_join(
        spark, points, queries, k=1, start_level=start_level, num_stages=num_stages
    )
    agg = nn.groupBy().agg(F.max("dist_chord2").alias("h_chord2"))
    # chord^2 -> angle: 2*asin(sqrt(d2)/2) (s1chord_angle.h ToAngle)
    return agg.select(
        "h_chord2",
        (2.0 * F.asin(F.sqrt(F.col("h_chord2")) / 2.0)).alias("h_radians"),
    )


def distance_to_boundary_join(
    points: DataFrame, loops: dict[str, "object"]
) -> DataFrame:
    """Signed distance to the nearest fixture-loop boundary
    (S2ClosestEdgeQuery over a polygon's boundary shape +
    S2ContainsPointQuery sign, the composition behind
    S2Polygon::GetDistance / s2closest_edge_query.h IncludeInteriors):
    for every point, the minimum chord^2 distance over ALL loop edges,
    the winning (loop, edge) pair, the containment flag, and the signed
    angular distance (negative inside).

    The edge table (sum of loop sizes — broadcast-small by the fixture
    contract) ships in the UDF closure; points stream ONCE through an
    Arrow-batched kernel that keeps a running (min, argmin) over edges —
    ties resolve to the smallest (loop_id, edge_idx), matching the
    oracle's ORDER BY.  The signed column is chord^2 with an exact sign
    flip (monotonic in the angle): an asin-based radians column is NOT
    portable here — Java's and DuckDB's asin disagree in the last ulp
    for ~3% of these small arguments (measured), unlike the larger
    chain_centroids arguments where they agreed.

    points: (pid, x, y, z); loops: {rid: Loop}.
    Returns (pid, rid, edge_idx, dist_chord2, inside, signed_chord2,
    px, py, pz) — the projection columns implement S2Polygon::Project
    (s2polygon.cc Project): the point itself when inside, else the
    closest boundary point (pinned kernel, bit-exact SQL twin).
    """
    from ..kernels import measures, predicates

    rids = sorted(loops)
    A_list, B_list, code_list, eidx_list = [], [], [], []
    for ci, rid in enumerate(rids):
        V = np.asarray(loops[rid].vertices, np.float64)
        m = V.shape[0]
        A_list.append(V)
        B_list.append(np.roll(V, -1, axis=0))
        code_list.append(np.full(m, ci, np.int64))
        eidx_list.append(np.arange(m, dtype=np.int64))
    A = np.concatenate(A_list)
    B = np.concatenate(B_list)
    codes = np.concatenate(code_list)
    eidxs = np.concatenate(eidx_list)
    loop_data = [
        (np.asarray(loops[rid].vertices, np.float64), bool(loops[rid].origin_inside))
        for rid in rids
    ]
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast((A, B, codes, eidxs, loop_data))

    def kern(pdf):
        A, B, codes, eidxs, loop_data = bc.value
        m = A.shape[0]
        X = pdf[["x", "y", "z"]].to_numpy(np.float64)
        n = X.shape[0]
        best_d = np.full(n, np.inf)
        best_j = np.zeros(n, np.int64)
        for j in range(m):
            Aj = np.broadcast_to(A[j], (n, 3))
            Bj = np.broadcast_to(B[j], (n, 3))
            d = measures.point_edge_chord2(X, Aj, Bj)
            upd = d < best_d  # strict: first (smallest) j wins ties
            best_d = np.where(upd, d, best_d)
            best_j = np.where(upd, j, best_j)
        inside = np.zeros(n, bool)
        for V, oi in loop_data:
            inside |= predicates.loop_contains_points(V, oi, X)
        # S2Polygon::Project semantics: the point itself when inside,
        # else the closest boundary point on the winning edge
        P = measures.project_to_edge_pinned(X, A[best_j], B[best_j])
        px = np.where(inside, X[:, 0], P[:, 0])
        py = np.where(inside, X[:, 1], P[:, 1])
        pz = np.where(inside, X[:, 2], P[:, 2])
        return pd.DataFrame(
            {
                "pid": pdf["pid"].to_numpy(np.int64),
                "_code": codes[best_j],
                "edge_idx": eidxs[best_j],
                "dist_chord2": best_d,
                "inside": inside,
                "px": px,
                "py": py,
                "pz": pz,
            }
        )

    out = map_batches(
        points.select("pid", "x", "y", "z"),
        kern,
        "pid long, _code long, edge_idx long, dist_chord2 double, "
        "inside boolean, px double, py double, pz double",
    )
    rid_map = F.array(*[F.lit(r) for r in rids])
    return out.select(
        "pid",
        F.element_at(rid_map, F.col("_code").cast("int") + 1).alias("rid"),
        "edge_idx",
        "dist_chord2",
        "inside",
        F.when(F.col("inside"), -F.col("dist_chord2"))
        .otherwise(F.col("dist_chord2"))
        .alias("signed_chord2"),
        "px",
        "py",
        "pz",
    )


def boundary_distance_oracle_sql(
    xyz_cte: str, loops: dict[str, "object"]
) -> str:
    """DuckDB replay of distance_to_boundary_join over the same point
    CTE: edge endpoints as exact double literals, the pinned chord2
    kernel, argmin by (dist, rid, edge_idx), containment via the
    independent convex-loop half-plane predicates, exact sign flip,
    pinned projection CTE chain for the Project columns."""
    from .. import oracle as _oracle
    from ..kernels.measures import (
        point_edge_chord2_sql,
        project_to_edge_sql_ctes,
    )

    def lit(x: float) -> str:
        return "%.17e" % x

    rows = []
    for rid in sorted(loops):
        V = np.asarray(loops[rid].vertices, np.float64)
        W = np.roll(V, -1, axis=0)
        for i in range(V.shape[0]):
            rows.append(
                f"('{rid}', {i}, "
                + ", ".join(lit(c) for c in V[i])
                + ", "
                + ", ".join(lit(c) for c in W[i])
                + ")"
            )
    edges = ",\n    ".join(rows)
    inside_pred = " OR ".join(
        "(" + _oracle.convex_loop_predicate_sql(loops[rid].vertices) + ")"
        for rid in sorted(loops)
    )
    d = point_edge_chord2_sql("p.", "e.a", "e.b")
    return f"""WITH {xyz_cte},
eg(rid, edge_idx, ax, ay, az, bx, by, bz) AS (
  VALUES
    {edges}
),
ins AS MATERIALIZED (
  SELECT pid, x, y, z, ({inside_pred}) AS inside FROM xyz
),
scored AS MATERIALIZED (
  SELECT p.pid, e.rid, e.edge_idx, {d} AS dist_chord2, p.inside,
         p.x AS qx, p.y AS qy, p.z AS qz,
         e.ax AS e0x, e.ay AS e0y, e.az AS e0z,
         e.bx AS e1x, e.by AS e1y, e.bz AS e1z,
         row_number() OVER (
           PARTITION BY p.pid ORDER BY {d} ASC, e.rid ASC, e.edge_idx ASC
         ) AS r
  FROM ins p CROSS JOIN eg e
),
best AS MATERIALIZED (
  SELECT pid, rid, edge_idx, dist_chord2, inside,
         qx, qy, qz, e0x, e0y, e0z, e1x, e1y, e1z
  FROM scored WHERE r = 1
),
{project_to_edge_sql_ctes(
        "best",
        keep="pid, rid, edge_idx, dist_chord2, inside, qx, qy, qz",
    )}
SELECT pid, rid, edge_idx, dist_chord2, inside,
       CASE WHEN inside THEN -dist_chord2 ELSE dist_chord2 END AS signed_chord2,
       CASE WHEN inside THEN qx ELSE px END AS px,
       CASE WHEN inside THEN qy ELSE py END AS py,
       CASE WHEN inside THEN qz ELSE pz END AS pz
FROM prj_out"""


def level_for_radius_chord2(radius_chord2: float) -> int:
    """Finest level whose 3x3 neighbor block certifiably contains every
    point within the given squared-chord radius of a cell's points: the
    deepest level with _min_outside_chord2(level) >= radius_chord2 (the
    same kMinWidth admissibility bound the kNN stages certify with)."""
    lvl = 0
    for cand in range(1, 31):
        if _min_outside_chord2(cand) >= radius_chord2:
            lvl = cand
        else:
            break
    return lvl


def within_distance_pairs(
    points: DataFrame,
    radius_chord2: float,
    point_id: str = "pid",
    cell: str = "cell",
    level: int | None = None,
) -> DataFrame:
    """All unordered point pairs (pid_a < pid_b, dist_chord2) within a
    squared-chord distance — the epsilon-neighborhood spatial self-join
    (the DBSCAN/range-query primitive; reference scope: the pair form of
    S2ClosestPointQuery's within-distance option,
    s2closest_point_query.h ConservativeMaxDistance).

    Grid-neighbor join: each point keys ONCE by its cell at ``level``
    (home side) and by its full 3x3 neighbor block (probe side); the
    kMinWidth bound guarantees every within-radius pair shares a
    (home, probe) key, and the exact chord^2 predicate refines in
    codegen.  One equi-join shuffle keyed by cells — candidates are
    block-local (density-bounded), never O(n^2); skew follows true point
    density (handle hot tiles with the measured-salt machinery,
    operators/density).
    """
    if level is None:
        level = level_for_radius_chord2(radius_chord2)
    if _min_outside_chord2(level) < radius_chord2:
        raise ValueError(
            f"within_distance_pairs: level {level} min-width bound "
            f"{_min_outside_chord2(level):.3e} does not cover radius_chord2 "
            f"{radius_chord2:.3e}"
        )
    home = points.select(
        F.col(point_id).alias("pid_a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.col("z").alias("az"),
        s2f.parent_expr(cell, level).alias("k"),
    )
    blk = _neighbor_block_udf(level)
    probe = (
        points.withColumn("_blocks", blk(F.col(cell)))
        .select(
            F.col(point_id).alias("pid_b"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.col("z").alias("bz"),
            F.explode("_blocks").alias("k"),
        )
    )
    d2 = s2f.chord2_expr(
        F.col("ax"), F.col("ay"), F.col("az"),
        F.col("bx"), F.col("by"), F.col("bz"),
    )
    return (
        home.join(probe, "k")
        .where(F.col("pid_a") < F.col("pid_b"))
        .withColumn("dist_chord2", d2)
        .where(F.col("dist_chord2") <= radius_chord2)
        .select("pid_a", "pid_b", "dist_chord2")
        .dropDuplicates(["pid_a", "pid_b"])
    )


def dbscan(
    points: DataFrame,
    eps_chord2: float,
    min_samples: int = 2,
    point_id: str = "pid",
    cell: str = "cell",
) -> DataFrame:
    """Distributed DBSCAN on the sphere: (pid, cluster, role) for every
    clustered point (noise points are omitted; role is 'core' or
    'border').

    The classic decomposition into this repo's primitives:
      1. epsilon-neighborhood pairs — within_distance_pairs (the
         kMinWidth-certified grid-neighbor join; the only distance work).
      2. core points = degree >= ``min_samples`` OTHER neighbors (one
         hash agg over the symmetrized pair list).
      3. clusters = connected components of the core-core subgraph
         (operators/graph large/small-star contraction — O(log n)
         rounds); an isolated core is its own cluster.
      4. border points attach to the MINIMUM adjacent core cluster
         (deterministic tie-break; plain DBSCAN's assignment is
         scan-order dependent — unacceptable for a reproducible
         pipeline, so the min rule is part of this operator's contract).

    Cluster label = the minimum core pid of the component (BIGINT).
    Every step is an oracle-replayable join/agg — no iteration beyond
    the components loop, no driver-side graph state.
    """
    from .graph import connected_components

    pairs = within_distance_pairs(
        points, eps_chord2, point_id=point_id, cell=cell
    ).persist()
    sym = pairs.select(
        F.col("pid_a").alias("p"), F.col("pid_b").alias("q")
    ).unionByName(
        pairs.select(F.col("pid_b").alias("p"), F.col("pid_a").alias("q"))
    )
    deg = sym.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    core = deg.where(F.col("n") >= min_samples).select("p")
    ca = core.select(F.col("p").alias("pid_a"))
    cb = core.select(F.col("p").alias("pid_b"))
    core_pairs = (
        pairs.join(ca, "pid_a")
        .join(cb, "pid_b")
        .select(F.col("pid_a").alias("doc_a"), F.col("pid_b").alias("doc_b"))
    )
    comp = connected_components(core_pairs)
    core_lab = core.join(
        comp, core["p"] == comp["doc_id"], "left"
    ).select("p", F.coalesce("component_id", F.col("p")).alias("cluster"))
    border = (
        sym.join(core_lab, "p")
        .join(core.select(F.col("p").alias("q")), "q", "left_anti")
        .groupBy("q")
        .agg(F.min("cluster").alias("cluster"))
    )
    return core_lab.select(
        F.col("p").alias(point_id), "cluster", F.lit("core").alias("role")
    ).unionByName(
        border.select(
            F.col("q").alias(point_id), "cluster", F.lit("border").alias("role")
        )
    )
