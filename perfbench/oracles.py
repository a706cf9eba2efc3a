"""Independent numpy answers the benchmark checks the engine against.

Each function re-derives an operator's result from the generator's own
arrays with a textbook formula, sharing no code with the engine:
even-odd ray casting (pnpoly form) for point-in-polygon, haversine
brute force for kNN and the closed-form slippy-map formula for tiles.
"""

from __future__ import annotations

import math

import numpy as np

EARTH_RADIUS_M = 6_371_008.8
MAX_MERCATOR_LAT = 85.05112878


def contains(ring: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Even-odd containment of points in one closed ring (pnpoly)."""
    inside = np.zeros(len(lon), dtype=bool)
    xi, yi = ring[:-1, 0], ring[:-1, 1]
    xj, yj = ring[1:, 0], ring[1:, 1]
    for a, b, c, d in zip(xi, yi, xj, yj):
        crosses = (b > lat) != (d > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = (c - a) * (lat - b) / (d - b) + a
        inside ^= crosses & (lon < x_at)
    return inside


def contained(rings: list[np.ndarray], lon: np.ndarray, lat: np.ndarray):
    """(polygon index, indices of the points inside it) per polygon, with
    a bounding-box prune before the ray cast."""
    for j, ring in enumerate(rings):
        x0, y0 = ring.min(axis=0)
        x1, y1 = ring.max(axis=0)
        cand = np.flatnonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))
        yield j, cand[contains(ring, lon[cand], lat[cand])] if cand.size else cand


def pip_pairs(rings: list[np.ndarray], ids: np.ndarray, lon: np.ndarray,
              lat: np.ndarray) -> list[list[int]]:
    """For each point, the sorted ids of the polygons containing it."""
    out: list[list[int]] = [[] for _ in range(len(lon))]
    for j, inside in contained(rings, lon, lat):
        for i in inside:
            out[i].append(int(ids[j]))
    return [sorted(p) for p in out]


def pip_count(rings, lon, lat) -> int:
    """Total (point, polygon) containment pairs."""
    return sum(len(inside) for _, inside in contained(rings, lon, lat))


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def knn_ids(lon, lat, poi_ids, poi_lon, poi_lat, k: int) -> list[list[int]]:
    """Brute-force k nearest POI ids per point, ties broken by id."""
    out = []
    for x, y in zip(lon, lat):
        d = haversine_m(x, y, poi_lon, poi_lat)
        order = np.lexsort((poi_ids, d))[:k]
        out.append([int(poi_ids[j]) for j in order])
    return out


def slippy_tile(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    """OSM slippy-map tile (x, y) at zoom ``z``."""
    n = 2 ** z
    lat_r = np.radians(np.clip(lat, -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT))
    x = np.floor((lon + 180.0) / 360.0 * n)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / math.pi) / 2.0 * n)
    return (np.clip(x, 0, n - 1).astype(np.int64), np.clip(y, 0, n - 1).astype(np.int64))
