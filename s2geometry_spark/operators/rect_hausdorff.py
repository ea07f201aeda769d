"""S2LatLngRect::GetDirectedHausdorffDistance / GetHausdorffDistance.

Parity target: s2latlng_rect.cc:588-729 — the directed Hausdorff
distance between lat-lng rectangles, reduced by the reference to ONE
longitudinal-edge pair problem: lng_diff = the S1-interval directed
Hausdorff of the longitude intervals (s1interval.cc:145-162), then the
max-min distance from edge a (latitude range a_lat on longitude 0) to
edge b (latitude range b_lat on longitude lng_diff) via the Voronoi
case analysis:

* lng_diff == 0  — the plain R1 directed Hausdorff of the lat ranges;
* lng_diff <= pi/2 (case A) — realized at a's endpoints, or at the
  equator crossing if both edges cross the equator;
* lng_diff >  pi/2 (case B) — a's endpoints, the intersection of a
  with the Voronoi bisector E3 (GetBisectorIntersection,
  .cc:691-709), and the interior-max points against b_lo below /
  b_hi above that intersection (GetInteriorMaxDistance, .cc:711-729).

Everything is computed in PINNED double arithmetic shared bit-for-bit
by the NumPy kernel and the DuckDB oracle:

* all trig goes through kernels/portable_trig (libm sin/cos disagree
  across engines in the last ulp — measured ~20% of inputs);
* distances are SQUARED CHORDS throughout (monotone in the angle, so
  every reference max/compare is preserved; the s1angle outputs of the
  reference map to 2-2cos and |p-q|^2 forms);
* latitude comparisons against derived points run in sin-latitude
  space (sin is strictly monotone on [-pi/2, pi/2], and sin(p_lat) =
  p_z/|p| is pure arithmetic — no atan2);
* RobustCrossProd(ortho_lng, v) with ortho_lng = (0,-1,0) is the EXACT
  cross product (-v_z, 0, v_x) (no rounding at all), replacing the
  reference's (b-a)x(b+a) main path — identical direction, and only
  the direction is consumed (normalize / sin-latitude);
* point-to-arc minimums reuse kernels/measures.point_edge_chord2 and
  its SQL twin.

Contract: input rects non-empty and lng intervals non-full (the
reference's empty-rect early-outs return 0 / pi and are kept in the
kernel for faithfulness but excluded from the oracle by the fixture).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import map_batches
from ..kernels.measures import point_edge_chord2, point_edge_chord2_sql
from ..kernels.portable_trig import (
    cos_portable,
    cos_portable_sql,
    sin_portable,
    sin_portable_sql,
)

__all__ = ["rect_hausdorff_pairs", "rect_hausdorff_sql_ctes"]

PI = math.pi
PI_2 = math.pi / 2
_PI_L = "3.14159265358979312e+00"
_PI2_L = "1.57079632679489656e+00"

_IN_COLS = [
    "alat_lo", "alat_hi", "alng_lo", "alng_hi",
    "blat_lo", "blat_hi", "blng_lo", "blng_hi",
]


# ---------------------------------------------------------------------------
# S1Interval machinery (NumPy + SQL twins)
# ---------------------------------------------------------------------------


def _s1_pos_dist(a, b):
    """S1Interval::PositiveDistance (s1interval.h): distance from a to b
    counterclockwise, the pinned (b + pi) - (a - pi) wrap form."""
    d = b - a
    return np.where(d >= 0.0, d, (b + PI) - (a - PI))


def _s1_pos_dist_sql(a: str, b: str) -> str:
    d = f"(({b}) - ({a}))"
    return (
        f"(CASE WHEN {d} >= 0.0 THEN {d}"
        f" ELSE ((({b}) + {_PI_L}) - (({a}) - {_PI_L})) END)"
    )


def _s1_fix_point(p):
    return np.where(p == -PI, PI, p)


def _s1_fix_point_sql(p: str) -> str:
    return f"(CASE WHEN ({p}) = (0.0 - {_PI_L}) THEN {_PI_L} ELSE ({p}) END)"


def _s1_ctor(lo, hi):
    """The two-argument S1Interval constructor fixups (s1interval.h:
    lo == -pi with hi != pi becomes pi, and symmetrically)."""
    lo2 = np.where((lo == -PI) & (hi != PI), PI, lo)
    hi2 = np.where((hi == -PI) & (lo != PI), PI, hi)
    return lo2, hi2


def _s1_ctor_sql(lo: str, hi: str) -> tuple[str, str]:
    lo2 = (
        f"(CASE WHEN ({lo}) = (0.0 - {_PI_L}) AND ({hi}) <> {_PI_L}"
        f" THEN {_PI_L} ELSE ({lo}) END)"
    )
    hi2 = (
        f"(CASE WHEN ({hi}) = (0.0 - {_PI_L}) AND ({lo}) <> {_PI_L}"
        f" THEN {_PI_L} ELSE ({hi}) END)"
    )
    return lo2, hi2


def _s1_fast_contains(lo, hi, p):
    """S1Interval::FastContains: inverted intervals wrap; the empty
    interval (pi, -pi) contains nothing."""
    inv = lo > hi
    empty = (lo == PI) & (hi == -PI)
    return np.where(
        inv, ((p >= lo) | (p <= hi)) & ~empty, (p >= lo) & (p <= hi)
    )


def _s1_fast_contains_sql(lo: str, hi: str, p: str) -> str:
    return (
        f"(CASE WHEN ({lo}) > ({hi}) THEN"
        f" ((({p}) >= ({lo}) OR ({p}) <= ({hi}))"
        f"  AND NOT (({lo}) = {_PI_L} AND ({hi}) = (0.0 - {_PI_L})))"
        f" ELSE (({p}) >= ({lo}) AND ({p}) <= ({hi})) END)"
    )


def _s1_contains_interval(xlo, xhi, ylo, yhi):
    """x.Contains(y) per s1interval.cc:89-100 (x is the OUTER)."""
    x_inv = xlo > xhi
    y_inv = ylo > yhi
    x_empty = (xlo == PI) & (xhi == -PI)
    x_full = (xlo == -PI) & (xhi == PI)
    y_empty = (ylo == PI) & (yhi == -PI)
    return np.where(
        x_inv,
        np.where(
            y_inv,
            (ylo >= xlo) & (yhi <= xhi),
            ((ylo >= xlo) | (yhi <= xhi)) & ~x_empty,
        ),
        np.where(y_inv, x_full | y_empty, (ylo >= xlo) & (yhi <= xhi)),
    )


def _s1_contains_interval_sql(xlo, xhi, ylo, yhi) -> str:
    return (
        f"(CASE WHEN ({xlo}) > ({xhi}) THEN"
        f" (CASE WHEN ({ylo}) > ({yhi})"
        f"   THEN (({ylo}) >= ({xlo}) AND ({yhi}) <= ({xhi}))"
        f"   ELSE ((({ylo}) >= ({xlo}) OR ({yhi}) <= ({xhi}))"
        f"         AND NOT (({xlo}) = {_PI_L} AND ({xhi}) = (0.0 - {_PI_L}))) END)"
        f" ELSE (CASE WHEN ({ylo}) > ({yhi})"
        f"   THEN ((({xlo}) = (0.0 - {_PI_L}) AND ({xhi}) = {_PI_L})"
        f"         OR (({ylo}) = {_PI_L} AND ({yhi}) = (0.0 - {_PI_L})))"
        f"   ELSE (({ylo}) >= ({xlo}) AND ({yhi}) <= ({xhi})) END) END)"
    )


def _s1_complement_center(lo, hi):
    """S1Interval::GetComplementCenter (s1interval.cc:54-60): the
    complement's GetCenter for non-singletons, the antipode otherwise."""
    # complement = (hi, lo); its GetCenter: center = 0.5*(hi + lo);
    # complement inverted <=> hi > lo <=> original NOT inverted
    center = 0.5 * (hi + lo)
    comp_inv = hi > lo
    non_singleton = np.where(
        comp_inv, np.where(center <= 0.0, center + PI, center - PI), center
    )
    singleton = np.where(hi <= 0.0, hi + PI, hi - PI)
    return np.where(lo != hi, non_singleton, singleton)


def _s1_complement_center_sql(lo: str, hi: str) -> str:
    center = f"(0.5 * (({hi}) + ({lo})))"
    non_singleton = (
        f"(CASE WHEN ({hi}) > ({lo}) THEN"
        f" (CASE WHEN {center} <= 0.0 THEN {center} + {_PI_L}"
        f"  ELSE {center} - {_PI_L} END)"
        f" ELSE {center} END)"
    )
    singleton = (
        f"(CASE WHEN ({hi}) <= 0.0 THEN ({hi}) + {_PI_L}"
        f" ELSE ({hi}) - {_PI_L} END)"
    )
    return (
        f"(CASE WHEN ({lo}) <> ({hi}) THEN {non_singleton}"
        f" ELSE {singleton} END)"
    )


def s1_directed_hausdorff(xlo, xhi, ylo, yhi):
    """S1Interval::GetDirectedHausdorffDistance(x -> y)
    (s1interval.cc:145-162), radians.  REQUIRES y non-empty."""
    contained = _s1_contains_interval(ylo, yhi, xlo, xhi)
    ycc = _s1_complement_center(ylo, yhi)
    in_x = _s1_fast_contains(xlo, xhi, _s1_fix_point(ycc))
    mid = _s1_pos_dist(yhi, ycc)
    h_lo, h_hi = _s1_ctor(yhi, ycc)
    hi_hi = np.where(
        _s1_fast_contains(h_lo, h_hi, _s1_fix_point(xhi)),
        _s1_pos_dist(yhi, xhi),
        0.0,
    )
    l_lo, l_hi = _s1_ctor(ycc, ylo)
    lo_lo = np.where(
        _s1_fast_contains(l_lo, l_hi, _s1_fix_point(xlo)),
        _s1_pos_dist(xlo, ylo),
        0.0,
    )
    return np.where(
        contained, 0.0, np.where(in_x, mid, np.maximum(hi_hi, lo_lo))
    )


def s1_directed_hausdorff_sql(xlo, xhi, ylo, yhi) -> str:
    contained = _s1_contains_interval_sql(ylo, yhi, xlo, xhi)
    ycc = _s1_complement_center_sql(ylo, yhi)
    in_x = _s1_fast_contains_sql(xlo, xhi, _s1_fix_point_sql(ycc))
    mid = _s1_pos_dist_sql(yhi, ycc)
    h_lo, h_hi = _s1_ctor_sql(yhi, ycc)
    hi_hi = (
        f"(CASE WHEN {_s1_fast_contains_sql(h_lo, h_hi, _s1_fix_point_sql(xhi))}"
        f" THEN {_s1_pos_dist_sql(yhi, xhi)} ELSE 0.0 END)"
    )
    l_lo, l_hi = _s1_ctor_sql(ycc, ylo)
    lo_lo = (
        f"(CASE WHEN {_s1_fast_contains_sql(l_lo, l_hi, _s1_fix_point_sql(xlo))}"
        f" THEN {_s1_pos_dist_sql(xlo, ylo)} ELSE 0.0 END)"
    )
    return (
        f"(CASE WHEN {contained} THEN 0.0"
        f" WHEN {in_x} THEN {mid}"
        f" ELSE greatest({hi_hi}, {lo_lo}) END)"
    )


# ---------------------------------------------------------------------------
# the directed edge-pair computation (NumPy)
# ---------------------------------------------------------------------------


def directed_hausdorff_chord2(
    alat_lo, alat_hi, alng_lo, alng_hi, blat_lo, blat_hi, blng_lo, blng_hi
):
    """Directed Hausdorff distance rect a -> rect b as a squared chord,
    vectorized (s2latlng_rect.cc:593-685)."""
    ld = s1_directed_hausdorff(alng_lo, alng_hi, blng_lo, blng_hi)
    sal, cal = sin_portable(alat_lo), cos_portable(alat_lo)
    sah, cah = sin_portable(alat_hi), cos_portable(alat_hi)
    sbl, cbl = sin_portable(blat_lo), cos_portable(blat_lo)
    sbh, cbh = sin_portable(blat_hi), cos_portable(blat_hi)
    sld, cld = sin_portable(ld), cos_portable(ld)
    zeros = np.zeros_like(ld)
    a_lo = np.stack([cal, zeros, sal], axis=1)
    a_hi = np.stack([cah, zeros, sah], axis=1)
    b_lo = np.stack([cbl * cld, cbl * sld, sbl], axis=1)
    b_hi = np.stack([cbh * cld, cbh * sld, sbh], axis=1)
    base = np.maximum(
        point_edge_chord2(a_lo, b_lo, b_hi), point_edge_chord2(a_hi, b_lo, b_hi)
    )
    # lng_diff == 0: the R1 directed Hausdorff of the lat intervals
    r1d = np.maximum(0.0, np.maximum(alat_hi - blat_hi, blat_lo - alat_lo))
    res0 = 2.0 - 2.0 * cos_portable(r1d)
    # case A (0 < lng_diff <= pi/2): the equator crossing
    eq = (
        (alat_lo <= 0.0) & (alat_hi >= 0.0)
        & (blat_lo <= 0.0) & (blat_hi >= 0.0)
    )
    res_a = np.where(eq, np.maximum(base, 2.0 - 2.0 * cld), base)
    # case B (lng_diff > pi/2): bisector intersection + interior maxima
    latc = 0.5 * (blat_lo + blat_hi)
    ob_lat = np.where(latc >= 0.0, latc - PI_2, -latc - PI_2)
    ob_lng = np.where(latc >= 0.0, ld, ld - PI)
    v_cl = cos_portable(ob_lat)
    vx = cos_portable(ob_lng) * v_cl
    vz = sin_portable(ob_lat)
    px, pz = -vz, vx  # (0,-1,0) x v, exactly
    pn = np.sqrt(px * px + pz * pz)
    spz = pz / pn  # sin-latitude of the bisector intersection
    c_b2 = (
        (px / pn - b_lo[:, 0]) * (px / pn - b_lo[:, 0])
        + b_lo[:, 1] * b_lo[:, 1]
    ) + (pz / pn - b_lo[:, 2]) * (pz / pn - b_lo[:, 2])
    res_b = np.where(
        (sal <= spz) & (spz <= sah), np.maximum(base, c_b2), base
    )

    def interior_max(slo, shi, b):
        bx, by, bz = b[:, 0], b[:, 1], b[:, 2]
        n2 = np.sqrt(bx * bx + bz * bz)
        ipx, ipz = -bx / n2, -bz / n2
        cand = (
            (ipx - bx) * (ipx - bx) + by * by
        ) + (ipz - bz) * (ipz - bz)
        ok = (bx < 0.0) & (slo < ipz) & (ipz < shi)
        return np.where(ok, cand, -1.0)

    down = np.where(
        spz > sal,
        interior_max(sal, np.minimum(spz, sah), b_lo),
        -1.0,
    )
    up = np.where(
        spz < sah,
        interior_max(np.maximum(spz, sal), sah, b_hi),
        -1.0,
    )
    res_b = np.maximum(res_b, np.maximum(down, up))
    return np.where(ld == 0.0, res0, np.where(ld <= PI_2, res_a, res_b))


def rect_hausdorff_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    args = [pdf[c].to_numpy(np.float64) for c in _IN_COLS]
    ab = directed_hausdorff_chord2(*args)
    ba = directed_hausdorff_chord2(*(args[4:] + args[:4]))
    return pd.DataFrame(
        {
            "pair_id": pdf["pair_id"],
            "dir_ab_chord2": ab,
            "dir_ba_chord2": ba,
            "hausdorff_chord2": np.maximum(ab, ba),
        }
    )


def rect_hausdorff_pairs(pairs: DataFrame) -> DataFrame:
    """pairs(pair_id, alat_lo..blng_hi) -> (pair_id, dir_ab_chord2,
    dir_ba_chord2, hausdorff_chord2).  One stateless Arrow pass — the
    10^12-row shape is a pure map stage, no shuffle."""
    return map_batches(
        pairs,
        rect_hausdorff_kernel,
        "pair_id long, dir_ab_chord2 double, dir_ba_chord2 double, "
        "hausdorff_chord2 double",
    )


# ---------------------------------------------------------------------------
# the SQL twin (DuckDB oracle) — a CTE chain mirroring every step
# ---------------------------------------------------------------------------


def _directed_sql_stages(p: str, a: str, b: str) -> list[str]:
    """CTE stage bodies computing {p}res for direction a -> b; `a`/`b`
    are column prefixes over the pair CTE (e.g. 'a' -> alat_lo...)."""
    ld = s1_directed_hausdorff_sql(
        f"{a}lng_lo", f"{a}lng_hi", f"{b}lng_lo", f"{b}lng_hi"
    )
    s1 = (
        f"{p}t1 AS (SELECT *, {ld} AS {p}ld FROM {{src}})",
        f"""{p}t2 AS (SELECT *,
  {sin_portable_sql(f'{a}lat_lo')} AS {p}sal, {cos_portable_sql(f'{a}lat_lo')} AS {p}cal,
  {sin_portable_sql(f'{a}lat_hi')} AS {p}sah, {cos_portable_sql(f'{a}lat_hi')} AS {p}cah,
  {sin_portable_sql(f'{b}lat_lo')} AS {p}sbl, {cos_portable_sql(f'{b}lat_lo')} AS {p}cbl,
  {sin_portable_sql(f'{b}lat_hi')} AS {p}sbh, {cos_portable_sql(f'{b}lat_hi')} AS {p}cbh,
  {sin_portable_sql(f'{p}ld')} AS {p}sld, {cos_portable_sql(f'{p}ld')} AS {p}cld
  FROM {p}t1)""",
        f"""{p}t3 AS (SELECT *,
  {p}cal AS {p}alox, 0.0 AS {p}aloy, {p}sal AS {p}aloz,
  {p}cah AS {p}ahix, 0.0 AS {p}ahiy, {p}sah AS {p}ahiz,
  {p}cbl * {p}cld AS {p}blox, {p}cbl * {p}sld AS {p}bloy, {p}sbl AS {p}bloz,
  {p}cbh * {p}cld AS {p}bhix, {p}cbh * {p}sld AS {p}bhiy, {p}sbh AS {p}bhiz
  FROM {p}t2)""",
        f"""{p}t4 AS (SELECT *,
  greatest({point_edge_chord2_sql(f'{p}alo', f'{p}blo', f'{p}bhi')},
           {point_edge_chord2_sql(f'{p}ahi', f'{p}blo', f'{p}bhi')}) AS {p}base,
  0.5 * ({b}lat_lo + {b}lat_hi) AS {p}latc
  FROM {p}t3)""",
        f"""{p}t5 AS (SELECT *,
  (CASE WHEN {p}latc >= 0.0 THEN {p}latc - {_PI2_L}
        ELSE (0.0 - {p}latc) - {_PI2_L} END) AS {p}oblat,
  (CASE WHEN {p}latc >= 0.0 THEN {p}ld ELSE {p}ld - {_PI_L} END) AS {p}oblng
  FROM {p}t4)""",
        f"""{p}t6 AS (SELECT *,
  (0.0 - {sin_portable_sql(f'{p}oblat')}) AS {p}px,
  {cos_portable_sql(f'{p}oblng')} * {cos_portable_sql(f'{p}oblat')} AS {p}pz
  FROM {p}t5)""",
        f"""{p}t7 AS (SELECT *,
  {p}pz / sqrt({p}px * {p}px + {p}pz * {p}pz) AS {p}spz,
  {p}px / sqrt({p}px * {p}px + {p}pz * {p}pz) AS {p}spx
  FROM {p}t6)""",
        f"""{p}t8 AS (SELECT *,
  (CASE WHEN {p}sal <= {p}spz AND {p}spz <= {p}sah THEN
    greatest({p}base,
      (({p}spx - {p}blox) * ({p}spx - {p}blox) + {p}bloy * {p}bloy)
      + ({p}spz - {p}bloz) * ({p}spz - {p}bloz))
   ELSE {p}base END) AS {p}resb0,
  (CASE WHEN {p}spz > {p}sal THEN
    (CASE WHEN {p}blox < 0.0
       AND {p}sal < (0.0 - {p}bloz) / sqrt({p}blox * {p}blox + {p}bloz * {p}bloz)
       AND (0.0 - {p}bloz) / sqrt({p}blox * {p}blox + {p}bloz * {p}bloz)
           < least({p}spz, {p}sah)
     THEN (((0.0 - {p}blox) / sqrt({p}blox * {p}blox + {p}bloz * {p}bloz) - {p}blox)
           * ((0.0 - {p}blox) / sqrt({p}blox * {p}blox + {p}bloz * {p}bloz) - {p}blox)
           + {p}bloy * {p}bloy)
          + ((0.0 - {p}bloz) / sqrt({p}blox * {p}blox + {p}bloz * {p}bloz) - {p}bloz)
            * ((0.0 - {p}bloz) / sqrt({p}blox * {p}blox + {p}bloz * {p}bloz) - {p}bloz)
     ELSE -1.0 END)
   ELSE -1.0 END) AS {p}down,
  (CASE WHEN {p}spz < {p}sah THEN
    (CASE WHEN {p}bhix < 0.0
       AND greatest({p}spz, {p}sal) < (0.0 - {p}bhiz) / sqrt({p}bhix * {p}bhix + {p}bhiz * {p}bhiz)
       AND (0.0 - {p}bhiz) / sqrt({p}bhix * {p}bhix + {p}bhiz * {p}bhiz) < {p}sah
     THEN (((0.0 - {p}bhix) / sqrt({p}bhix * {p}bhix + {p}bhiz * {p}bhiz) - {p}bhix)
           * ((0.0 - {p}bhix) / sqrt({p}bhix * {p}bhix + {p}bhiz * {p}bhiz) - {p}bhix)
           + {p}bhiy * {p}bhiy)
          + ((0.0 - {p}bhiz) / sqrt({p}bhix * {p}bhix + {p}bhiz * {p}bhiz) - {p}bhiz)
            * ((0.0 - {p}bhiz) / sqrt({p}bhix * {p}bhix + {p}bhiz * {p}bhiz) - {p}bhiz)
     ELSE -1.0 END)
   ELSE -1.0 END) AS {p}up
  FROM {p}t7)""",
        f"""{p}t9 AS (SELECT *,
  (CASE WHEN {p}ld = 0.0 THEN
     2.0 - 2.0 * {cos_portable_sql(f'greatest(0.0, greatest({a}lat_hi - {b}lat_hi, {b}lat_lo - {a}lat_lo))')}
   WHEN {p}ld <= {_PI2_L} THEN
     (CASE WHEN {a}lat_lo <= 0.0 AND {a}lat_hi >= 0.0
            AND {b}lat_lo <= 0.0 AND {b}lat_hi >= 0.0
      THEN greatest({p}base, 2.0 - 2.0 * {p}cld) ELSE {p}base END)
   ELSE greatest({p}resb0, greatest({p}down, {p}up)) END) AS {p}res
  FROM {p}t8)""",
    )
    return list(s1)


def rect_hausdorff_sql_ctes(pair_src: str) -> str:
    """WITH-chain from a CTE named ``{pair_src}`` holding (pair_id,
    alat_lo..blng_hi) to a final SELECT of the three chord2 columns."""
    ab = _directed_sql_stages("hab_", "a", "b")
    ba = _directed_sql_stages("hba_", "b", "a")
    ab[0] = ab[0].format(src=pair_src)
    ba[0] = ba[0].format(src="hab_t9")
    stages = ",\n".join(ab + ba)
    return f"""{stages}
SELECT pair_id, hab_res AS dir_ab_chord2, hba_res AS dir_ba_chord2,
       greatest(hab_res, hba_res) AS hausdorff_chord2
FROM hba_t9"""
