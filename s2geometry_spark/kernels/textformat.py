"""Tiny s2text_format-style parser for test fixtures
(reference: s2text_format.h:66-241, "lat:lng, lat:lng, ..." in degrees)."""

from __future__ import annotations

import numpy as np

from . import coords
from .regions import Loop


def parse_latlngs(text: str) -> list[tuple[float, float]]:
    out = []
    for part in text.split(","):
        part = part.strip()
        if not part:
            continue
        lat, lng = part.split(":")
        out.append((float(lat), float(lng)))
    return out


def make_point(text: str) -> np.ndarray:
    (lat, lng), = parse_latlngs(text)
    x, y, z = coords.latlng_to_xyz(np.radians([lat]), np.radians([lng]))
    return np.array([x[0], y[0], z[0]])


def make_points(text: str) -> np.ndarray:
    lls = parse_latlngs(text)
    lat = np.radians([p[0] for p in lls])
    lng = np.radians([p[1] for p in lls])
    x, y, z = coords.latlng_to_xyz(lat, lng)
    return np.stack([x, y, z], axis=1)


def make_loop(text: str) -> Loop:
    return Loop(make_points(text))
