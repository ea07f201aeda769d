"""Closest-edge kNN join (S2ClosestEdgeQuery re-expression): the staged
ring-expansion result must equal the brute-force cross join exactly, and
the pinned chord^2 kernel must agree with the reference-style projection
distance (measures.distance_to_edge)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geometry_spark.kernels import cellid, measures
from s2geometry_spark.operators.knn_edges import (
    closest_edges_join,
    furthest_edges_join,
)


def _pt(lat, lng):
    la, ln = math.radians(lat), math.radians(lng)
    return np.array(
        [math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)]
    )


def test_point_edge_chord2_matches_projection_distance():
    rng = np.random.RandomState(7)
    X = rng.randn(200, 3)
    X /= np.linalg.norm(X, axis=1)[:, None]
    a = _pt(10, 20)
    step = _pt(12, 26)
    b = a + 0.3 * step
    b /= np.linalg.norm(b)
    A = np.broadcast_to(a, (200, 3))
    B = np.broadcast_to(b, (200, 3))
    got = measures.point_edge_chord2(X, A, B)
    ang = measures.distance_to_edge(X, a, b)
    want = (2.0 * np.sin(0.5 * ang)) ** 2
    assert np.allclose(got, want, atol=1e-9)


def test_point_edge_max_chord2_antipodal_identity():
    rng = np.random.RandomState(3)
    X = rng.randn(50, 3)
    X /= np.linalg.norm(X, axis=1)[:, None]
    a, b = _pt(0, 0), _pt(0, 20)
    A = np.broadcast_to(a, (50, 3))
    B = np.broadcast_to(b, (50, 3))
    mx = measures.point_edge_max_chord2(X, A, B)
    # brute force: sample the arc densely
    ts = np.linspace(0, 1, 400)
    arc = np.stack([measures.interpolate(a, b, t)[0] for t in ts])
    d = ((X[:, None, :] - arc[None, :, :]) ** 2).sum(axis=2).max(axis=1)
    assert np.allclose(mx, d, atol=1e-4)


@pytest.fixture(scope="module")
def edge_tables(spark):
    """Deterministic points + short edges scattered globally."""
    rng = np.random.RandomState(42)
    n_e, n_q = 400, 120
    P = rng.randn(n_e, 3)
    P /= np.linalg.norm(P, axis=1)[:, None]
    D = rng.randn(n_e, 3)
    E1 = P + 0.05 * D
    E1 /= np.linalg.norm(E1, axis=1)[:, None]
    edges = spark.createDataFrame(
        [
            (int(i), *map(float, P[i]), *map(float, E1[i]))
            for i in range(n_e)
        ],
        "eid long, e0x double, e0y double, e0z double, "
        "e1x double, e1y double, e1z double",
    )
    Q = rng.randn(n_q, 3)
    Q /= np.linalg.norm(Q, axis=1)[:, None]
    qc = cellid.to_biased(cellid.from_xyz(Q[:, 0], Q[:, 1], Q[:, 2]))
    queries = spark.createDataFrame(
        [
            (int(i), float(Q[i, 0]), float(Q[i, 1]), float(Q[i, 2]), int(qc[i]))
            for i in range(n_q)
        ],
        "qid long, qx double, qy double, qz double, q_cell long",
    )
    return edges, queries


def _brute(spark, edges, queries, k):
    from pyspark.sql import Window

    cand = queries.crossJoin(edges)
    import pandas as pd

    def refine(it):
        for pdf in it:
            X = pdf[["qx", "qy", "qz"]].to_numpy(np.float64)
            A = pdf[["e0x", "e0y", "e0z"]].to_numpy(np.float64)
            B = pdf[["e1x", "e1y", "e1z"]].to_numpy(np.float64)
            out = pdf[["qid", "eid"]].copy()
            out["dist_chord2"] = measures.point_edge_chord2(X, A, B)
            yield out

    scored = cand.mapInPandas(refine, "qid long, eid long, dist_chord2 double")
    w = Window.partitionBy("qid").orderBy(
        F.col("dist_chord2").asc(), F.col("eid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "eid", "dist_chord2")
    )


def test_staged_equals_bruteforce(spark, edge_tables):
    edges, queries = edge_tables
    k = 3
    got = {
        (r.qid, r.rank): (r.eid, r.dist_chord2)
        for r in closest_edges_join(
            spark, edges, queries, k, start_level=6, num_stages=2
        ).collect()
    }
    want = {
        (r.qid, r.rank): (r.eid, r.dist_chord2)
        for r in _brute(spark, edges, queries, k).collect()
    }
    assert got == want


def test_furthest_edge_runs(spark, edge_tables):
    edges, queries = edge_tables
    rows = furthest_edges_join(spark, edges, queries, k=1).collect()
    assert len(rows) == queries.count()
    # every max distance is large (antipodal side exists among 400 edges)
    assert all(r.dist_chord2 > 2.0 for r in rows)


def test_project_to_edge_pinned_geometry():
    """Pinned projection agrees with the reference-path project_to_edge
    (broadcast form) and its distance with the chord2 kernel."""
    rng = np.random.RandomState(11)
    X = rng.randn(300, 3)
    X /= np.linalg.norm(X, axis=1)[:, None]
    a = _pt(-5, 80)
    b0 = a + 0.4 * _pt(3, 95)
    b = b0 / np.linalg.norm(b0)
    A = np.broadcast_to(a, (300, 3)).copy()
    B = np.broadcast_to(b, (300, 3)).copy()
    P = measures.project_to_edge_pinned(X, A, B)
    want = measures.project_to_edge(X, a, b)
    assert np.allclose(P, want, atol=1e-12)
    # unit length and consistency with the reported chord2
    assert np.allclose(np.linalg.norm(P, axis=1), 1.0, atol=1e-12)
    d_proj = ((X - P) ** 2).sum(axis=1)
    d_kernel = measures.point_edge_chord2(X, A, B)
    assert np.allclose(d_proj, d_kernel, atol=1e-9)


def test_project_to_closest_edges(spark, edge_tables):
    """Operator picks the same edge as the k=1 staged join and projects
    onto it."""
    from s2geometry_spark.operators.knn_edges import project_to_closest_edges

    edges, queries = edge_tables
    got = {
        r.qid: r
        for r in project_to_closest_edges(spark, edges, queries).collect()
    }
    want = {
        r.qid: r
        for r in closest_edges_join(spark, edges, queries, k=1).collect()
    }
    E = {r.eid: r for r in edges.collect()}
    Q = {r.qid: r for r in queries.collect()}
    assert set(got) == set(want)
    for qid, r in got.items():
        assert r.eid == want[qid].eid
        assert r.dist_chord2 == want[qid].dist_chord2
        e, q = E[r.eid], Q[qid]
        P = measures.project_to_edge_pinned(
            np.array([[q.qx, q.qy, q.qz]]),
            np.array([[e.e0x, e.e0y, e.e0z]]),
            np.array([[e.e1x, e.e1y, e.e1z]]),
        )[0]
        assert (r.px, r.py, r.pz) == (P[0], P[1], P[2])


def test_empty_partitions_match_bruteforce(spark, edge_tables):
    """Range-partitioned then filtered inputs leave most partitions empty
    on both sides; every per-batch kernel and cogroup of the staged join
    must run through them and still equal the brute-force answer."""
    edges, queries = edge_tables
    edges = edges.repartitionByRange(16, "eid").where(F.col("eid") < 60)
    queries = queries.repartitionByRange(8, "qid").where(F.col("qid") < 20)
    k = 2
    got = {
        (r.qid, r.rank): (r.eid, r.dist_chord2)
        for r in closest_edges_join(
            spark, edges, queries, k, start_level=6, num_stages=2
        ).collect()
    }
    want = {
        (r.qid, r.rank): (r.eid, r.dist_chord2)
        for r in _brute(spark, edges, queries, k).collect()
    }
    assert len(want) == 20 * k
    assert got == want
