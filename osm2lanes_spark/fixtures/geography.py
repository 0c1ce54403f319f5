"""Deterministic synthetic geography for tests and benchmarks.

No external data: each country from the locale dim gets an irregular
star-convex polygon in its own slot of a world grid, and every document
gets a deterministic point inside its country's polygon (hash-jittered
around the centroid). This stands in for the admin polygons the reference
queries via Overpass ``is_in`` — the engine only cares that containment
resolves the right ISO code.
"""

from __future__ import annotations

import hashlib

import numpy as np

from ..core.locale import COUNTRIES

GRID_COLS = 8
SLOT_LON = 14.0
SLOT_LAT = 12.0
RADIUS = 5.0  # max polygon radius in degrees
N_VERTS = 12


def _hash01(s: str) -> float:
    return int(hashlib.sha1(s.encode()).hexdigest()[:8], 16) / 0xFFFFFFFF


def country_centroid(alpha2: str) -> tuple[float, float]:
    idx = sorted(COUNTRIES).index(alpha2)
    row, col = divmod(idx, GRID_COLS)
    lon = -170.0 + col * SLOT_LON
    lat = -80.0 + row * SLOT_LAT
    return lon, lat


def country_polygon(alpha2: str) -> np.ndarray:
    """Irregular 12-gon, radii in [0.55, 1.0] * RADIUS — star-convex, so any
    point within 0.5 * RADIUS of the centroid is inside."""
    cx, cy = country_centroid(alpha2)
    angles = np.linspace(0.0, 2.0 * np.pi, N_VERTS, endpoint=False)
    radii = np.array([
        RADIUS * (0.55 + 0.45 * _hash01(f"{alpha2}:{i}")) for i in range(N_VERTS)
    ])
    ring = np.stack([cx + radii * np.cos(angles), cy + radii * np.sin(angles)], axis=1)
    return ring


def all_country_polygons(alpha2s=None) -> dict[str, np.ndarray]:
    return {a2: country_polygon(a2) for a2 in (alpha2s or sorted(COUNTRIES))}


def doc_point(doc_id: str, alpha2: str) -> tuple[float, float]:
    """Deterministic point strictly inside the country polygon."""
    cx, cy = country_centroid(alpha2)
    r = 0.45 * RADIUS * _hash01(doc_id)
    theta = 2.0 * np.pi * _hash01(doc_id + ":t")
    return cx + r * np.cos(theta), cy + r * np.sin(theta)
