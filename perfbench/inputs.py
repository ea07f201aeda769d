"""Seeded input generators.  Every function is a pure function of its
arguments, so the same ``--seed`` yields the same inputs on every run.

Structural counts (points per component, regions, queries per component)
are fixed by the size arguments alone; the seed only moves positions.
That keeps the work per run comparable across seeds, so the spread the
benchmark sees is run-to-run noise, not a different amount of work.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from s2geometry_spark.kernels import coords
from s2geometry_spark.kernels.geotag import EARTH_KM, HOTSPOTS
from s2geometry_spark.kernels.regions import Loop, Polygon

# The FIXTURES.md §1 hot spots (Zurich, Sydney, San Francisco) plus the
# polar fixture loop's centre, which exercises the face/pole wrap of encode.
HOT_CENTERS_DEG = [(lat, lng) for lat, lng, _ in HOTSPOTS] + [(90.0, 0.0)]
HOT_SIGMA_RAD = 50.0 / EARTH_KM  # FIXTURES.md §1 hot-spot radius


def _unit(lat_deg, lng_deg) -> np.ndarray:
    x, y, z = coords.latlng_to_xyz(np.radians(lat_deg), np.radians(lng_deg))
    return np.stack([x, y, z], axis=-1)


def _uniform_sphere(rng: np.random.Generator, n: int) -> np.ndarray:
    p = rng.normal(size=(n, 3))
    return p / np.linalg.norm(p, axis=1)[:, None]


def _tangent_basis(center: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    a = np.array([1.0, 0.0, 0.0]) if abs(center[0]) < 0.9 else np.array([0.0, 1.0, 0.0])
    e1 = np.cross(center, a)
    e1 /= np.linalg.norm(e1)
    return e1, np.cross(center, e1)


def _gaussian_around(
    rng: np.random.Generator, center: np.ndarray, sigma_rad: float, n: int
) -> np.ndarray:
    """Tangent-plane Gaussian around a unit vector, projected back onto
    the sphere (well defined at the poles, unlike a lat/lng Gaussian)."""
    e1, e2 = _tangent_basis(center)
    off = rng.normal(scale=sigma_rad, size=(n, 2))
    p = center[None, :] + off[:, :1] * e1[None, :] + off[:, 1:] * e2[None, :]
    return p / np.linalg.norm(p, axis=1)[:, None]


def _latlng_xyz(p: np.ndarray) -> dict[str, np.ndarray]:
    """lat/lng in degrees plus the xyz that S2LatLng::ToPoint gives for
    them, so encode (from lat/lng) and refinement (from xyz) see the same
    point."""
    lat = np.degrees(np.arctan2(p[:, 2], np.hypot(p[:, 0], p[:, 1])))
    lng = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
    x, y, z = coords.latlng_to_xyz(np.radians(lat), np.radians(lng))
    return {"lat": lat, "lng": lng, "x": x, "y": y, "z": z}


def hotspot_points(seed: int, n: int, hot_frac: float = 0.3) -> dict[str, np.ndarray]:
    """tile_join points: (1 - hot_frac) area-uniform, hot_frac split evenly
    over Gaussian hot spots.  Returns columns pid, lat, lng, x, y, z."""
    rng = np.random.default_rng([seed, 1])
    per_hot = int(round(n * hot_frac)) // len(HOT_CENTERS_DEG)
    parts = [_uniform_sphere(rng, n - per_hot * len(HOT_CENTERS_DEG))]
    for lat, lng in HOT_CENTERS_DEG:
        parts.append(_gaussian_around(rng, _unit(lat, lng), HOT_SIGMA_RAD, per_hot))
    cols = _latlng_xyz(np.concatenate(parts))
    return {"pid": np.arange(n, dtype=np.int64), **cols}


@dataclass(frozen=True)
class RegionSpec:
    """A regular shell loop (optionally with a concentric hole) — enough
    to rebuild the region and to bound it by a cap for the oracle."""

    rid: str
    lat: float
    lng: float
    radius_rad: float
    n_vertices: int
    hole_radius_rad: float | None = None

    def region(self):
        shell = Loop.make_regular(self.lat, self.lng, self.radius_rad, self.n_vertices)
        if self.hole_radius_rad is None:
            return shell
        hole = Loop.make_regular(
            self.lat, self.lng, self.hole_radius_rad, max(6, self.n_vertices // 2)
        )
        return Polygon([shell, hole])

    def bounding_cos(self) -> float:
        """cos of a cap radius that contains the whole region: the shell's
        vertices lie on the radius-r cap, which is convex for r < pi/2,
        so every edge stays inside it; 2r leaves margin for rounding."""
        return math.cos(min(math.pi, 2.0 * self.radius_rad))

    def center_xyz(self) -> np.ndarray:
        return _unit(self.lat, self.lng)


def polygon_specs(seed: int, n_loops: int, n_holed: int) -> list[RegionSpec]:
    """Regular loops and shells-with-holes near the hot spots.  Radii,
    vertex counts and distances from the hot-spot centre follow a fixed
    schedule; the seed only picks each region's bearing from its centre.
    Hot spots are radially symmetric, so the number of points a region
    covers, and with it the refinement work, barely depends on the seed."""
    rng = np.random.default_rng([seed, 2])
    specs = []
    n = n_loops + n_holed
    for i in range(n):
        clat, clng = HOT_CENTERS_DEG[i % len(HOT_CENTERS_DEG)]
        center = _unit(clat, clng)
        frac = i / max(1, n - 1)
        radius = 0.002 + 0.010 * frac
        offset = HOT_SIGMA_RAD * (0.5 + 1.5 * ((i * 7) % n) / n)
        bearing = float(rng.uniform(0.0, 2.0 * math.pi))
        e1, e2 = _tangent_basis(center)
        c = center * math.cos(offset) + math.sin(offset) * (
            math.cos(bearing) * e1 + math.sin(bearing) * e2
        )
        lat = float(np.degrees(np.arctan2(c[2], np.hypot(c[0], c[1]))))
        lng = float(np.degrees(np.arctan2(c[1], c[0])))
        nv = 8 + (i * 5) % 40
        if i < n_loops:
            specs.append(RegionSpec(f"loop{i:02d}", lat, lng, radius, nv))
        else:
            specs.append(RegionSpec(f"poly{i:02d}", lat, lng, radius, nv, 0.45 * radius))
    return specs


def knn_points(
    seed: int, n_metro: int, n_sprinkle: int, query_frac: float = 0.01
) -> tuple[dict[str, np.ndarray], dict[str, np.ndarray]]:
    """Dense metro clusters plus a sparse global sprinkle.  Exactly
    ``query_frac`` of each metro cluster becomes a query, drawn from its
    core (within one sigma of the centre), where the level-8 neighbour
    block always holds k points: every seed certifies every query in
    knn_join's first stage.  Sprinkle points are never queries; they only
    add point-side cogroup groups that no query uses.  Returns (points,
    queries) column dicts."""
    rng = np.random.default_rng([seed, 3])
    per_metro = n_metro // len(HOT_CENTERS_DEG)
    metros, is_q = [], []
    for lat, lng in HOT_CENTERS_DEG:
        center = _unit(lat, lng)
        c = _gaussian_around(rng, center, HOT_SIGMA_RAD, per_metro)
        core = np.nonzero(c @ center >= math.cos(HOT_SIGMA_RAD))[0]
        mask = np.zeros(len(c), dtype=bool)
        mask[rng.choice(core, int(round(len(c) * query_frac)), replace=False)] = True
        metros.append(c)
        is_q.append(mask)
    p = np.concatenate(metros + [_uniform_sphere(rng, n_sprinkle)])
    q = np.concatenate(is_q + [np.zeros(n_sprinkle, dtype=bool)])
    ids = np.arange(len(p), dtype=np.int64)
    points = {"pid": ids[~q], "px": p[~q, 0], "py": p[~q, 1], "pz": p[~q, 2]}
    queries = {"qid": ids[q], "qx": p[q, 0], "qy": p[q, 1], "qz": p[q, 2]}
    return points, queries


def image_id_offset(seed: int) -> int:
    """First ``make_row`` index for a seed: disjoint ranges per seed, and
    below 10^12 so the 12-digit image_id format holds."""
    return (seed % 100_000) * 1_000_000
