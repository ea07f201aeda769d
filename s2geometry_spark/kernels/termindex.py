"""S2RegionTermIndexer terms for canonical coverings
(s2region_term_indexer.cc:164-245, optimize_for_space=False), vectorized
over a flat batch of covering cells.

Every term join in the package emits its terms here: the driver-side
RegionIndex, the executor-side big-polygon index and both sides of the
edge-crossing join.  Input is a flat (owner, cell) list — ``owner`` is an
integer naming the region a covering cell belongs to — and output is the
(owner, biased term cell, is_covering) list, each triple once.

The reference loop stops walking a cell's ancestors at the first one the
previous covering cell already emitted.  Here every ancestor on the
level_mod grid is emitted, one parent() call per (level group, ancestor
level), and duplicates are dropped once at the end.  The two agree
whenever an owner's cell levels lie on one level_mod grid, which holds for
every RegionCoverer covering and for any covering at level_mod 1.
"""

from __future__ import annotations

import numpy as np

from . import cellid


def index_terms(
    owner: np.ndarray,
    cells: np.ndarray,
    min_level: int,
    true_max_level: int,
    level_mod: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """GetIndexTermsForCanonicalCovering: a covering term for each cell
    below ``true_max_level``, an ancestor term for each cell and for each
    of its ancestors at levels ``level - k*level_mod >= min_level``."""
    owner = np.asarray(owner, np.int64)
    cells = np.asarray(cells, np.uint64)
    lv = cellid.level(cells)
    cov = lv < true_max_level
    a_owner, a_cells = _ancestors(owner, cells, lv, min_level, level_mod)
    return _dedup(
        np.concatenate([owner[cov], owner, a_owner]),
        np.concatenate([cells[cov], cells, a_cells]),
        np.concatenate(
            [np.ones(int(cov.sum()), bool), np.zeros(len(owner) + len(a_owner), bool)]
        ),
    )


def query_terms(
    owner: np.ndarray, cells: np.ndarray, min_level: int, level_mod: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """GetQueryTermsForCanonicalCovering: an ancestor term for each cell
    and a covering term for each of its ancestors at levels
    ``level - k*level_mod >= min_level``."""
    owner = np.asarray(owner, np.int64)
    cells = np.asarray(cells, np.uint64)
    a_owner, a_cells = _ancestors(owner, cells, cellid.level(cells), min_level, level_mod)
    return _dedup(
        np.concatenate([owner, a_owner]),
        np.concatenate([cells, a_cells]),
        np.concatenate([np.zeros(len(owner), bool), np.ones(len(a_owner), bool)]),
    )


def _ancestors(owner, cells, lv, min_level, level_mod):
    """(owner, ancestor) for each cell's ancestors on its level_mod grid."""
    owners, ancs = [np.zeros(0, np.int64)], [np.zeros(0, np.uint64)]
    for L in np.unique(lv).tolist():
        sel = lv == L
        sub_owner, sub = owner[sel], cells[sel]
        for p in range(L - level_mod, min_level - 1, -level_mod):
            owners.append(sub_owner)
            ancs.append(cellid.parent(sub, p))
    return np.concatenate(owners), np.concatenate(ancs)


def _dedup(owner, cells, is_covering):
    """Biased cells, each (owner, cell, is_covering) once, sorted by it."""
    biased = cellid.to_biased(cells)
    order = np.lexsort((is_covering, biased, owner))
    o, c, f = owner[order], biased[order], is_covering[order]
    keep = np.ones(len(o), bool)
    keep[1:] = (o[1:] != o[:-1]) | (c[1:] != c[:-1]) | (f[1:] != f[:-1])
    return o[keep], c[keep], f[keep]
