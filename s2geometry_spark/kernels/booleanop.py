"""Polygon boolean operations: an S2BooleanOperation subset
(s2boolean_operation.h:16-75, s2polygon.cc InitToIntersection/Union/
Difference), including EXACT shared-boundary degeneracies.

Algorithm: the classic overlay walk, spherical edition —

1. find every transversal crossing between an A edge and a B edge
   (predicates.edges_cross_batch) and its intersection point
   (S2::GetIntersection simple path: the cross product of the two edge
   normals, sign-picked into both arcs);
2. split each edge at its crossings PLUS every vertex of the other
   polygon lying exactly on it (T-junctions / collinear overlaps,
   decided by the exact Fraction predicates), ordered along the arc;
3. match sub-edges that are bitwise-identical across A and B (same or
   opposite direction — the degenerate/sibling edge merging of
   s2builder_graph.cc DegenerateEdges::MERGE + SiblingPairs); classify
   the REST by midpoint containment in the other polygon (odd-even
   semantics, matching the Polygon class);
4. select sub-edges per operation (shared edges contribute ONE copy):
     intersection : A inside B  + B inside A            + shared-same
     union        : A outside B + B outside A           + shared-same
     difference   : A outside B + B inside A (REVERSED) + shared-opposite
5. chain selected directed sub-edges into closed loops; at a vertex with
   several selected outgoing edges (shared vertices), take the FIRST
   outgoing edge clockwise from the reversed incoming direction in the
   tangent plane — the continuation that keeps the result interior
   connected on the left and splits vertex-touching regions into simple
   loops (the same face-walk rule S2Builder's EdgeChainSimplifier
   realizes through its input-edge-order heuristics).

Result loops are normalized to their "small" orientation (area <= 2pi)
so the Polygon class's XOR containment gives standard odd-even parity,
and loop nesting depth (S2ShapeNestingQuery, s2shape_nesting_query.h)
signs the area sum.

Degeneracy contract: shared vertices/edges are handled when they are
EXACT in double coordinates — bitwise-equal shared vertices, and
touching/overlapping edges whose collinearity is exact under rational
arithmetic on the input doubles (e.g. fixtures on a common great
circle).  This is IdentitySnapFunction(0) in reference terms
(s2builderutil_snap_functions.h).  Self-intersecting INPUTS are handled
by normalizing first (``normalize_loops`` below, the odd-rule
S2WindingOperation build in kernels.winding) — the same graph-assembly
step S2Builder performs before S2BooleanOperation consumes a shape;
epsilon-radius snap rounds remain out of scope (they need the full
S2Builder snapping iteration, s2builder.cc:1497+).
"""

from __future__ import annotations

import numpy as np

from . import measures, predicates
from .regions import Loop, Polygon


def edge_intersection(a0, a1, b0, b1) -> np.ndarray:
    """Intersection point of two crossing geodesic segments
    (S2::GetIntersection's stable path, s2edge_crossings.cc:520+)."""
    na = np.cross(a0 - a1, a0 + a1)  # robust cross product main path
    nb = np.cross(b0 - b1, b0 + b1)
    x = np.cross(na, nb)
    n = np.linalg.norm(x)
    if n == 0.0:
        raise ValueError("edges are on the same great circle (degenerate)")
    x = x / n
    # sign-pick into both arcs: x must lie on the hemisphere of both
    # arc midpoints
    if np.dot(x, (a0 + a1) + (b0 + b1)) < 0:
        x = -x
    return x


def _loops_edges(loops: list[np.ndarray], tag: int):
    """Flat directed edge list [(tag, loop_i, edge_i, v0, v1)]."""
    out = []
    for li, v in enumerate(loops):
        n = v.shape[0]
        for ei in range(n):
            out.append((tag, li, ei, v[ei], v[(ei + 1) % n]))
    return out


def _split_points(edges_a, edges_b):
    """crossings[(side, loop, edge)] -> list of intersection points.

    Transversal crossings only: pairs sharing a bitwise vertex are
    skipped (CrossingSign == 0 there; the shared vertex is already an
    endpoint), and pairs where any ENDPOINT lies exactly on the other
    edge's great circle are skipped — collinear overlaps and endpoint
    touches, where the symbolic perturbation would report an
    arbitrary-but-consistent crossing whose "intersection point" is not
    a clean split.  Those pairs are resolved by the T-junction splits +
    shared-edge matching instead; for arcs < pi an exact
    endpoint-on-circle configuration excludes a genuine interior
    crossing (the circles' intersection point IS that endpoint or its
    antipode), so skipping loses nothing."""
    if not edges_a or not edges_b:
        return {}
    A0 = np.stack([e[3] for e in edges_a])
    A1 = np.stack([e[4] for e in edges_a])
    B0 = np.stack([e[3] for e in edges_b])
    B1 = np.stack([e[4] for e in edges_b])
    na, nb = len(edges_a), len(edges_b)
    ii, jj = np.meshgrid(np.arange(na), np.arange(nb), indexing="ij")
    ii, jj = ii.ravel(), jj.ravel()
    hit = predicates.edges_cross_batch(A0[ii], A1[ii], B0[jj], B1[jj], robust=True)
    splits: dict[tuple, list[np.ndarray]] = {}
    for i, j in zip(ii[hit], jj[hit]):
        ea, eb = edges_a[i], edges_b[j]
        if _shares_vertex(ea, eb) or _touch_degenerate(
            ea[3], ea[4], eb[3], eb[4]
        ):
            continue
        x = edge_intersection(ea[3], ea[4], eb[3], eb[4])
        splits.setdefault(ea[:3], []).append(x)
        splits.setdefault(eb[:3], []).append(x)
    return splits


def _shares_vertex(ea, eb) -> bool:
    ka = {ea[3].tobytes(), ea[4].tobytes()}
    return eb[3].tobytes() in ka or eb[4].tobytes() in ka


# float prefilter width for "vertex possibly on this edge's great
# circle"; candidates are confirmed with EXACT rational arithmetic, so
# the width only trades exact-predicate invocations for false negatives
# at ~1e5 ulp — far above any exactly-coplanar configuration's noise (0)
_COPLANAR_BAND = 1e-12


def _on_plane_exact(a0, a1, v) -> bool:
    """v lies exactly on the great circle through a0, a1 (rational
    arithmetic on the raw doubles; no perturbation)."""
    if abs(_plane_dist(a0, a1, v)) > _COPLANAR_BAND:
        return False
    return predicates._exact_sign(a0, a1, v, perturb=False) == 0


def _plane_dist(a0, a1, v) -> float:
    n = np.cross(a0, a1)
    nn = np.linalg.norm(n)
    if nn == 0.0:
        return 0.0
    return float(np.dot(n, v)) / nn


def _touch_degenerate(a0, a1, b0, b1) -> bool:
    """Any endpoint of one edge exactly on the other's great circle
    (covers exact collinearity and exact endpoint touches)."""
    return (
        _on_plane_exact(a0, a1, b0)
        or _on_plane_exact(a0, a1, b1)
        or _on_plane_exact(b0, b1, a0)
        or _on_plane_exact(b0, b1, a1)
    )


def _exact_between(a0, a1, v) -> bool:
    """v strictly inside the minor arc a0->a1, given exact coplanarity:
    v = alpha*a0 + beta*a1 with alpha > 0 AND beta > 0, decided by
    rational cross/dot signs (arcs are < pi by construction)."""
    from fractions import Fraction

    fa0 = tuple(Fraction(float(x)) for x in a0)
    fa1 = tuple(Fraction(float(x)) for x in a1)
    fv = tuple(Fraction(float(x)) for x in v)
    n = predicates._cross(fa0, fa1)
    # v x a1 = alpha * (a0 x a1);  a0 x v = beta * (a0 x a1)
    alpha = predicates._dot(predicates._cross(fv, fa1), n)
    beta = predicates._dot(predicates._cross(fa0, fv), n)
    return alpha > 0 and beta > 0


def _add_vertex_splits(edges, other_vertices, splits) -> None:
    """T-junction / collinear-overlap splits: every vertex of the OTHER
    polygon lying exactly on an edge's interior splits that edge AT THE
    VERTEX ITSELF (bitwise), so the resulting sub-edges share endpoints
    with the other side's sub-edges exactly and the shared-edge matcher
    sees them.  Mirrors s2builder.cc's AddEdgeCrossings + snap-to-vertex
    site collection for the zero-radius snap function."""
    if not edges or not other_vertices:
        return
    V = np.stack(other_vertices)
    for e in edges:
        v0, v1 = e[3], e[4]
        # float prefilter: distance to the edge's plane
        n = np.cross(v0, v1)
        nn = np.linalg.norm(n)
        if nn == 0.0:
            continue
        d = np.abs(V @ (n / nn))
        for k in np.flatnonzero(d <= _COPLANAR_BAND):
            v = V[k]
            if v.tobytes() == v0.tobytes() or v.tobytes() == v1.tobytes():
                continue
            if (
                predicates._exact_sign(v0, v1, v, perturb=False) == 0
                and _exact_between(v0, v1, v)
            ):
                splits.setdefault(e[:3], []).append(v)


def _sub_edges(edges, splits):
    """Split each directed edge at its crossing points, ordered along the
    arc (by angle from the start vertex — monotone for arcs < pi)."""
    out = []
    for e in edges:
        key = e[:3]
        v0, v1 = e[3], e[4]
        pts = splits.get(key)
        if not pts:
            out.append((key, v0, v1))
            continue
        pts = sorted(pts, key=lambda p: -float(np.dot(p, v0)))
        chain = [v0] + pts + [v1]
        for s in range(len(chain) - 1):
            # drop zero-length sub-edges (a split point can arrive twice:
            # e.g. the same shared vertex contributed by two B loops)
            if chain[s].tobytes() != chain[s + 1].tobytes():
                out.append((key, chain[s], chain[s + 1]))
    return out


def _match_shared(sub_a, sub_b):
    """Indices of bitwise-shared sub-edges across the two sides.

    Returns (same_a, opp_a, shared_b): sub_a indices whose directed edge
    also appears in sub_b with the SAME direction / the OPPOSITE
    direction, and all sub_b indices involved in either kind (the B
    copies never enter selection — shared edges contribute at most one
    copy, always the A copy).  This is the duplicate/sibling-edge merge
    of s2builder_graph.cc (DegenerateEdges::MERGE, SiblingPairs)."""
    b_dir: dict[tuple, int] = {}
    for j, (_, v0, v1) in enumerate(sub_b):
        b_dir[(v0.tobytes(), v1.tobytes())] = j
    same_a, opp_a, shared_b = set(), set(), set()
    for i, (_, v0, v1) in enumerate(sub_a):
        j = b_dir.get((v0.tobytes(), v1.tobytes()))
        if j is not None:
            same_a.add(i)
            shared_b.add(j)
            continue
        j = b_dir.get((v1.tobytes(), v0.tobytes()))
        if j is not None:
            opp_a.add(i)
            shared_b.add(j)
    return same_a, opp_a, shared_b


def _select(sub, other: Polygon, keep_inside: bool, reverse: bool):
    """Filter sub-edges by midpoint containment; optionally reverse."""
    if not sub:
        return []
    mids = np.stack([s[1] + s[2] for s in sub])
    mids = mids / np.linalg.norm(mids, axis=1)[:, None]
    inside = other.contains_points(mids)
    kept = []
    for s, ins in zip(sub, inside):
        if bool(ins) == keep_inside:
            kept.append((s[2], s[1]) if reverse else (s[1], s[2]))
    return kept


def _tangent_dir(v: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Unit tangent at v of the arc v->w (w projected off v)."""
    d = w - float(np.dot(v, w)) * v
    n = np.linalg.norm(d)
    if n == 0.0:
        raise ValueError("degenerate arc (w == +/-v) in chain walk")
    return d / n


def _pick_continuation(prev_v, v, cands):
    """Continuation at a multi-degree vertex: FIRST outgoing edge
    CLOCKWISE (in the tangent plane, viewed from outside the sphere)
    from the reversed incoming direction.

    Selected edges carry the result interior on their LEFT, so the
    interior sector at v adjoining the incoming edge is swept first by a
    clockwise rotation from (v -> prev_v); the first outgoing edge hit
    bounds that sector — taking it keeps each face walk inside ONE face
    and splits vertex-touching regions into simple loops instead of
    figure-eights."""
    r = _tangent_dir(v, prev_v)
    e2 = np.cross(v, r)  # (r, e2, v) right-handed: CCW positive from r
    two_pi = 2.0 * np.pi
    best, best_cw = None, None
    for e in cands:
        d = _tangent_dir(v, e[1])
        ang = float(np.arctan2(float(np.dot(d, e2)), float(np.dot(d, r))))
        cw = (-ang) % two_pi
        if cw == 0.0:
            cw = two_pi  # exact back-track is the last resort
        if best_cw is None or cw < best_cw:
            best, best_cw = e, cw
    return best


def _chain(edges) -> list[np.ndarray]:
    """Assemble directed edges into closed loops (exact float-key match:
    every shared endpoint is the same computed double triple).  Vertices
    with several selected outgoing edges are resolved by the
    clockwise-first rule (_pick_continuation)."""
    start: dict[bytes, list] = {}
    for v0, v1 in edges:
        start.setdefault(v0.tobytes(), []).append((v0, v1))
    loops = []
    used = set()
    for v0, v1 in edges:
        k = (v0.tobytes(), v1.tobytes())
        if k in used:
            continue
        verts = [v0]
        cur = (v0, v1)
        while True:
            used.add((cur[0].tobytes(), cur[1].tobytes()))
            nxt_key = cur[1].tobytes()
            if nxt_key == verts[0].tobytes():
                break
            verts.append(cur[1])
            cands = [
                e
                for e in start.get(nxt_key, [])
                if (e[0].tobytes(), e[1].tobytes()) not in used
            ]
            if not cands:
                raise ValueError(
                    "open chain: unsupported degenerate input "
                    "(self-intersecting, or non-exact shared geometry?)"
                )
            if len(cands) == 1:
                cur = cands[0]
            else:
                cur = _pick_continuation(cur[0], cur[1], cands)
        if len(verts) >= 3:
            loops.append(np.stack(verts))
    return loops


def _normalize_small(loops: list[np.ndarray]) -> list[np.ndarray]:
    """Orient every loop to enclose the SMALL side (area <= 2pi) so XOR
    parity over the loop set is standard odd-even."""
    out = []
    for v in loops:
        if measures.loop_area(v) > 2.0 * np.pi:
            v = v[::-1].copy()
        out.append(v)
    return out


def _orient_interior_left(loops: list[np.ndarray]) -> list[np.ndarray]:
    """Orient each loop so the POLYGON interior is on its left (shells
    CCW, odd-depth holes CW) — the invariant the chain walk requires.
    Input loops may arrive in any orientation (odd-even containment does
    not care); normalize to small first, then reverse odd depths."""
    small = _normalize_small(loops)
    depths = nesting_depths(small)
    return [v[::-1].copy() if d % 2 == 1 else v for v, d in zip(small, depths)]


def overlay(
    a_loops: list[np.ndarray], b_loops: list[np.ndarray], op: str
) -> list[np.ndarray]:
    """Boolean overlay of two odd-even polygons; returns result loops
    (small-oriented).  op in {'intersection', 'union', 'difference'}."""
    # two views of each input: SMALL-oriented loops for odd-even
    # containment (the Polygon class's convention), interior-on-LEFT
    # loops (holes reversed) for the directed edge walk
    a_small = _normalize_small(a_loops)
    b_small = _normalize_small(b_loops)
    pa = Polygon([Loop(v) for v in a_small])
    pb = Polygon([Loop(v) for v in b_small])
    ea = _loops_edges(_orient_interior_left(a_loops), 0)
    eb = _loops_edges(_orient_interior_left(b_loops), 1)
    splits = _split_points(ea, eb)
    _add_vertex_splits(ea, [e[3] for e in eb], splits)
    _add_vertex_splits(eb, [e[3] for e in ea], splits)
    sub_a = _sub_edges(ea, splits)
    sub_b = _sub_edges(eb, splits)
    # bitwise-shared sub-edges are matched structurally (their midpoints
    # lie ON the other boundary, where containment has no answer); the
    # rest classify by strict midpoint containment
    same_a, opp_a, shared_b = _match_shared(sub_a, sub_b)
    plain_a = [s for i, s in enumerate(sub_a) if i not in same_a and i not in opp_a]
    plain_b = [s for j, s in enumerate(sub_b) if j not in shared_b]
    if op == "intersection":
        kept = (
            _select(plain_a, pb, True, False)
            + _select(plain_b, pa, True, False)
            + [(sub_a[i][1], sub_a[i][2]) for i in sorted(same_a)]
        )
    elif op == "union":
        kept = (
            _select(plain_a, pb, False, False)
            + _select(plain_b, pa, False, False)
            + [(sub_a[i][1], sub_a[i][2]) for i in sorted(same_a)]
        )
    elif op == "difference":
        kept = (
            _select(plain_a, pb, False, False)
            + _select(plain_b, pa, True, True)
            + [(sub_a[i][1], sub_a[i][2]) for i in sorted(opp_a)]
        )
    else:
        raise ValueError(f"unknown op {op!r}")
    return _normalize_small(_chain(kept))


def nesting_depths(loops: list[np.ndarray]) -> list[int]:
    """S2ShapeNestingQuery: depth of each loop = number of OTHER loops
    containing it (loops must be non-crossing; containment is tested at
    a representative vertex NOT shared with the candidate container —
    result loops may touch at shared vertices, where containment is a
    boundary case).  Even depth = shell, odd = hole."""
    lps = [Loop(v) for v in loops]
    vkeys = [{p.tobytes() for p in v} for v in loops]
    depths = []
    for i, v in enumerate(loops):
        d = 0
        for j, lp in enumerate(lps):
            if j == i:
                continue
            rep = next((p for p in v if p.tobytes() not in vkeys[j]), None)
            if rep is None:
                continue  # identical vertex sets: neither strictly contains
            if bool(lp.contains_point(rep)):
                d += 1
        depths.append(d)
    return depths


def polygon_area(loops: list[np.ndarray]) -> float:
    """Area of an odd-even polygon: alternating sum by nesting depth."""
    if not loops:
        return 0.0
    depths = nesting_depths(loops)
    area = 0.0
    for v, d in zip(loops, depths):
        area += measures.loop_area(v) * (1.0 if d % 2 == 0 else -1.0)
    return area


def overlap_fractions(
    a_loops: list, b_loops: list
) -> tuple[float, float]:
    """S2Polygon::GetOverlapFractions (s2polygon.cc:600-611): the pair
    (area(A∩B)/area(A), area(A∩B)/area(B)), returning exactly 1.0 when
    the intersection area reaches the denominator (including the empty /
    empty case, matching s2polygon_test.cc OverlapFractions)."""
    inter = overlay(a_loops, b_loops, "intersection") if a_loops and b_loops else []
    inter_area = polygon_area(inter)
    a_area = polygon_area(a_loops)
    b_area = polygon_area(b_loops)
    return (
        1.0 if inter_area >= a_area else inter_area / a_area,
        1.0 if inter_area >= b_area else inter_area / b_area,
    )


def normalize_loops(
    loops: list[np.ndarray], ref: np.ndarray, ref_winding: int = 0
) -> list[np.ndarray]:
    """S2Builder graph normalization of possibly self-intersecting /
    duplicated / touching input loops into a simple odd-even polygon
    (membership == odd winding parity of the raw multiset).  The
    odd-rule S2WindingOperation build; see
    kernels.winding.build_winding_polygon for the algorithm and the
    robustness contract."""
    from .winding import build_winding_polygon

    return build_winding_polygon(loops, ref, ref_winding, rule="odd")


def polygon_intersection(a, b):
    return overlay(a, b, "intersection")


def boolean_operation(
    op: str,
    a: dict,
    b_loops: list[np.ndarray],
) -> dict:
    """S2BooleanOperation over a MIXED-dimension geometry collection A
    against a polygon B (s2boolean_operation.h:60-130: regions are
    closed under boolean operations only if lower-dimensional geometry
    is carried through; polylines/points of A inside the result region
    are absorbed, outside are kept).

    a: {'loops': [...], 'polylines': [(n,3) chains], 'points': (n,3)} —
    any subset of keys.  Returns the same structure:

    * ``loops``     — overlay(a.loops, B, op) (empty-side identities
                      handled directly).
    * ``polylines`` — op == intersection keeps the sub-polylines INSIDE
                      B; union/difference keep the sub-polylines OUTSIDE
                      (inside parts are absorbed by the union region /
                      erased by the subtraction).
    * ``points``    — same in/out selection, via Polygon containment.

    Boundary-model-aware semi-open/open/closed polyline clipping lives
    in kernels/clipmodels (clip_chain_models); this dispatcher uses the
    transversal closed-model clip (operators/polylines.clip_to_polygon),
    matching the reference's default SEMI_OPEN behavior away from
    boundary degeneracies.
    """
    from ..operators.polylines import clip_to_polygon

    if op not in ("intersection", "union", "difference"):
        raise ValueError(f"unknown op {op!r}")
    a_loops = a.get("loops") or []
    out: dict = {}
    if not a_loops:
        out["loops"] = _normalize_small(b_loops) if op == "union" else []
    elif not b_loops:
        out["loops"] = [] if op == "intersection" else _normalize_small(a_loops)
    else:
        out["loops"] = overlay(a_loops, b_loops, op)
    keep_inside = op == "intersection"
    pb = Polygon([Loop(v) for v in _normalize_small(b_loops)]) if b_loops else None
    chains = a.get("polylines") or []
    clipped: list[np.ndarray] = []
    for V in chains:
        if pb is None:
            if not keep_inside:
                clipped.append(np.asarray(V, np.float64))
            continue
        clipped.extend(clip_to_polygon(np.asarray(V, np.float64), pb, keep_inside))
    out["polylines"] = clipped
    pts = a.get("points")
    if pts is None or len(pts) == 0:
        out["points"] = np.zeros((0, 3), np.float64)
    elif pb is None:
        out["points"] = (
            np.asarray(pts, np.float64)[:0] if keep_inside
            else np.asarray(pts, np.float64)
        )
    else:
        P = np.asarray(pts, np.float64)
        inside = pb.contains_points(P)
        out["points"] = P[inside if keep_inside else ~inside]
    return out
