"""kernels.termindex vs the scalar S2RegionTermIndexer loops
(s2region_term_indexer.cc:164-245, optimize_for_space=False), kept here
as the reference: one covering at a time, one cell at a time, with the
reference's stop-at-the-previous-cell's-ancestor break."""

import numpy as np
import pytest

from s2geometry_spark.kernels import cellid, termindex
from s2geometry_spark.kernels.coverer import CovererOptions, RegionCoverer
from s2geometry_spark.kernels.regions import Cap, Loop, Polygon
from s2geometry_spark.operators.contains_join import TERM_OPTS, RegionIndex
from s2geometry_spark.operators.edge_join import (
    LEVEL_MOD,
    MAX_LEVEL,
    _edge_coverings_flat,
)

REGIONS = {
    "zurich": Loop.make_regular(47.36, 8.55, 0.25, 16),
    "sydney": Loop.make_regular(-33.87, 151.20, 0.35, 24),
    "north": Loop.make_regular(90.0, 0.0, 0.5, 16),
    "ring": Polygon(
        [Loop.make_regular(0.0, 0.0, 0.3, 20), Loop.make_regular(0.0, 0.0, 0.1, 8)]
    ),
    "cap": Cap.from_latlng_degrees(-10.0, 50.0, 2.0),
}


def scalar_terms(covering, min_level, true_max_level, level_mod, query=False):
    """GetIndexTermsForCanonicalCovering (``query=False``) or
    GetQueryTermsForCanonicalCovering (``query=True``) for one sorted
    covering: [(biased_cell, is_covering)]."""
    out = []
    prev_id = None
    for v in covering.tolist():
        arr = np.array([v], dtype=np.uint64)
        level = int(cellid.level(arr)[0])
        if not query and level < true_max_level:
            out.append((int(cellid.to_biased(arr)[0]), True))
        out.append((int(cellid.to_biased(arr)[0]), False))
        lv = level
        while True:
            lv -= level_mod
            if lv < min_level:
                break
            anc = cellid.parent(arr, lv)
            if prev_id is not None:
                pa = np.array([prev_id], dtype=np.uint64)
                if int(cellid.level(pa)[0]) > lv and int(
                    cellid.parent(pa, lv)[0]
                ) == int(anc[0]):
                    break
            out.append((int(cellid.to_biased(anc)[0]), query))
        prev_id = v
    return out


def _flat(coverings):
    owner = np.repeat(np.arange(len(coverings)), [len(c) for c in coverings])
    return owner, np.concatenate(coverings)


def _check(coverings, min_level, true_max_level, level_mod):
    """Kernel == scalar loop, per owner, for both term kinds; no
    duplicate triples."""
    owner, cells = _flat(coverings)
    for query in (False, True):
        if query:
            o, c, f = termindex.query_terms(owner, cells, min_level, level_mod)
        else:
            o, c, f = termindex.index_terms(
                owner, cells, min_level, true_max_level, level_mod
            )
        got = list(zip(o.tolist(), c.tolist(), f.tolist()))
        assert len(got) == len(set(got))
        want = {
            (i, cell, cov)
            for i, cov_cells in enumerate(coverings)
            for cell, cov in scalar_terms(
                np.sort(cov_cells), min_level, true_max_level, level_mod, query
            )
        }
        assert set(got) == want
        assert want


@pytest.mark.parametrize("level_mod", [1, 2])
def test_coverer_coverings(level_mod):
    opts = CovererOptions(max_cells=8, min_level=4, max_level=16, level_mod=level_mod)
    coverer = RegionCoverer(opts)
    coverings = [coverer.get_covering(r) for r in REGIONS.values()]
    _check(coverings, opts.min_level, opts.true_max_level(), level_mod)


def test_precomputed_covering_below_min_level():
    """A cell coarser than min_level gets its covering + ancestor term
    and no ancestors; a cell at true_max_level gets no covering term;
    the other cells of the same covering are unaffected."""
    leaf = cellid.from_latlng_degrees(
        np.array([10.0, -30.0, -30.01, 45.0, 0.5]), np.array([20.0, 60.0, 60.0, 5.0, 0.5])
    )
    covering = np.unique(
        np.concatenate(
            [
                cellid.parent(leaf[:1], 2),
                cellid.parent(leaf[1:4], 11),
                cellid.parent(leaf[4:], TERM_OPTS.true_max_level()),
            ]
        )
    )
    _check([covering], TERM_OPTS.min_level, TERM_OPTS.true_max_level(), 1)


def test_edge_join_parameters():
    """The edge-crossing join's terms: min_level 0, level_mod 2,
    true_max_level 20, over its own per-edge coverings (mixed levels,
    face cells for huge edges)."""
    rng = np.random.default_rng(5)
    P0 = rng.normal(size=(40, 3))
    P1 = P0 + rng.choice([1e-7, 0.001, 0.05, 3.0], size=(40, 1)) * rng.normal(size=(40, 3))
    P0 /= np.linalg.norm(P0, axis=1)[:, None]
    P1 /= np.linalg.norm(P1, axis=1)[:, None]
    owner, cells = _edge_coverings_flat(P0, P1)
    coverings = [cells[owner == i] for i in range(40)]
    levels = cellid.level(cells)
    assert 0 in levels and MAX_LEVEL in levels and len(np.unique(levels)) > 3
    _check(coverings, 0, MAX_LEVEL, LEVEL_MOD)


def test_region_index_terms_match_scalar():
    idx = RegionIndex(REGIONS)
    want = {
        (cell, cov, rid)
        for rid, covering in idx.coverings.items()
        for cell, cov in scalar_terms(
            covering, TERM_OPTS.min_level, TERM_OPTS.true_max_level(), TERM_OPTS.level_mod
        )
    }
    assert set(idx.terms) == want
    assert len(idx.terms) == len(want)


def test_empty_input():
    for o, c, f in (
        termindex.index_terms([], np.zeros(0, np.uint64), 4, 16, 1),
        termindex.query_terms([], np.zeros(0, np.uint64), 4, 1),
    ):
        assert len(o) == len(c) == len(f) == 0
