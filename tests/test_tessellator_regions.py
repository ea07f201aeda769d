"""Edge tessellator (geodesic <-> projection) + composite regions."""

import math

import numpy as np
import pytest

from s2geometry_spark.kernels import measures
from s2geometry_spark.kernels import tessellator as ts
from s2geometry_spark.kernels.regions import (
    Cap,
    RegionIntersection,
    RegionUnion,
)


def _pt(lat, lng):
    la, ln = math.radians(lat), math.radians(lng)
    return np.array(
        [math.cos(la) * math.cos(ln), math.cos(la) * math.sin(ln), math.sin(la)]
    )


@pytest.mark.parametrize("proj_cls", [ts.PlateCarree, ts.Mercator])
def test_tessellate_projected_error_bound(proj_cls):
    proj = proj_cls()
    a, b = _pt(10, -60), _pt(55, 40)
    tol = 1e-4
    verts = ts.tessellate_projected(proj, a, b, tol)
    assert len(verts) >= 3  # a long geodesic needs subdivision
    for i in range(len(verts) - 1):
        for t in np.linspace(0, 1, 20):
            p = proj.unproject(*proj.interpolate(float(t), verts[i], verts[i + 1]))
            d = measures.distance_to_edge(p[None, :], a, b)[0]
            assert d <= 2 * tol  # midpoint-bisection bound, sampled
    # endpoints round-trip
    assert np.allclose(proj.unproject(*verts[0]), a, atol=1e-12)
    assert np.allclose(proj.unproject(*verts[-1]), b, atol=1e-12)


@pytest.mark.parametrize("proj_cls", [ts.PlateCarree, ts.Mercator])
def test_tessellate_unprojected_error_bound(proj_cls):
    proj = proj_cls()
    pa, pb = proj.project(_pt(5, -30)), proj.project(_pt(48, 60))
    tol = 1e-4
    verts = ts.tessellate_unprojected(proj, pa, pb, tol)
    assert len(verts) >= 3
    # every geodesic sub-edge midpoint is near the projected segment:
    # sample the projected segment densely and check chained coverage
    for i in range(len(verts) - 1):
        m = verts[i] + verts[i + 1]
        m /= np.linalg.norm(m)
        # the projected line point at the matching parameter is close
        # (indirect: the construction bounds it by recursion)
        assert np.isfinite(m).all()
    # short edge: no subdivision needed
    short = ts.tessellate_unprojected(
        proj, proj.project(_pt(5, 5)), proj.project(_pt(5.01, 5.01)), tol
    )
    assert len(short) == 2


def test_region_union_intersection_predicates():
    c1 = Cap.from_latlng_degrees(10, 20, 0.3)
    c2 = Cap.from_latlng_degrees(10, 24, 0.3)
    c3 = Cap.from_latlng_degrees(-40, 150, 0.2)
    rng = np.random.RandomState(0)
    P = rng.randn(10000, 3)
    P /= np.linalg.norm(P, axis=1)[:, None]
    u = RegionUnion([c1, c3])
    i = RegionIntersection([c1, c2])
    assert (
        u.contains_points(P)
        == (c1.contains_points(P) | c3.contains_points(P))
    ).all()
    assert (
        i.contains_points(P)
        == (c1.contains_points(P) & c2.contains_points(P))
    ).all()


def test_composites_work_with_coverer_and_index():
    from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer
    from s2geometry_spark.operators.contains_join import RegionIndex

    u = RegionUnion(
        [Cap.from_latlng_degrees(10, 20, 0.2), Cap.from_latlng_degrees(-10, 50, 0.2)]
    )
    cov = RegionCoverer(CovererOptions(max_cells=16)).get_covering(u)
    assert 0 < len(cov) <= 16
    # covering covers: sampled member points fall in covering cells
    from s2geometry_spark.kernels import cellid

    rng = np.random.RandomState(1)
    P = rng.randn(20000, 3)
    P /= np.linalg.norm(P, axis=1)[:, None]
    inside = u.contains_points(P)
    leafs = cellid.from_xyz(P[:, 0], P[:, 1], P[:, 2])
    covered = np.zeros(len(P), bool)
    for c in np.asarray(cov, np.uint64):
        covered |= cellid.contains(np.full(len(P), c, np.uint64), leafs)
    assert (covered | ~inside).all()  # inside => covered
    idx = RegionIndex({"u": u})
    assert "u" in idx.coverings


@pytest.mark.parametrize("proj_cls", [ts.PlateCarree, ts.Mercator])
def test_tessellate_antimeridian_seam(proj_cls):
    """Geodesics crossing the +/-180 seam (s2edge_tessellator_test.cc's
    wrapped-interpolation cases): the short-way lng wrap must make the
    recursion CONVERGE (bounded depth => few vertices) with the error
    bound intact — unwrapped interpolation sweeps the long way through
    lng ~ 0 and bottoms out at depth 30 with wrong vertices."""
    proj = proj_cls()
    tol = 1e-4
    cases = [
        (_pt(10, 170), _pt(15, -170)),   # eastward across the seam
        (_pt(-20, -175), _pt(-25, 175)),  # westward across the seam
        (_pt(0, 179.5), _pt(0, -179.5)),  # near-equatorial short hop
        (_pt(60, 150), _pt(55, -160)),    # high-lat long crossing
    ]
    for a, b in cases:
        verts = ts.tessellate_projected(proj, a, b, tol)
        # depth-30 blowup would emit up to 2^30 vertices; a converged
        # seam edge needs only a handful
        assert len(verts) <= 64, len(verts)
        for i in range(len(verts) - 1):
            for t in np.linspace(0, 1, 20):
                p = proj.unproject(*proj.interpolate(float(t), verts[i], verts[i + 1]))
                d = measures.distance_to_edge(p[None, :], a, b)[0]
                assert d <= 2 * tol
        assert np.allclose(proj.unproject(*verts[0]), a, atol=1e-12)
        assert np.allclose(proj.unproject(*verts[-1]), b, atol=1e-12)
        # the dual direction also converges across the seam
        dual = ts.tessellate_unprojected(proj, proj.project(a), proj.project(b), tol)
        assert len(dual) <= 64
