"""Visvalingam simplification + quantization + slippy tiles.

Reimplements the regions-service tiling pipeline of the reference
(/root/reference/osm-regions-server/server.js:198-228):

    topology(quantize 10^4) → presimplify(triangle area, spherical or
    planar) → quantile(p, default 0.07) → simplify(threshold) → filter

topojson's algorithm is Visvalingam effective-area: repeatedly remove
the vertex forming the smallest triangle with its neighbors, assigning
each removed vertex an *effective area* that is monotonically
non-decreasing in removal order; simplification to any threshold is
then a pure filter ``area >= t`` — which is what makes it precomputable
once and sliceable per zoom level. shapely's Douglas-Peucker is NOT
equivalent (SURVEY §7.4), hence the from-scratch numpy version.

Ring-level loops run inside ``applyInPandas`` per feature — rings are
small; the batch-level parallelism comes from Spark.
"""

from __future__ import annotations

import heapq

import numpy as np

EARTH_RADIUS_M = 6_371_008.8


def triangle_area_planar(p0, p1, p2) -> float:
    return abs(
        (p1[0] - p0[0]) * (p2[1] - p0[1]) - (p2[0] - p0[0]) * (p1[1] - p0[1])
    ) / 2.0


def triangle_area_spherical(p0, p1, p2) -> float:
    """Steradian area of the spherical triangle (lon/lat degrees in),
    via the spherical excess (l'Huilier) — the topojson 'spherical'
    presimplify metric (/root/reference/osm-regions-server/server.js:205)."""

    def to_xyz(p):
        lam, phi = np.radians(p[0]), np.radians(p[1])
        return np.array([np.cos(phi) * np.cos(lam), np.cos(phi) * np.sin(lam), np.sin(phi)])

    a, b, c = to_xyz(p0), to_xyz(p1), to_xyz(p2)

    def ang(u, v):
        return np.arctan2(np.linalg.norm(np.cross(u, v)), np.dot(u, v))

    ab, bc, ca = ang(a, b), ang(b, c), ang(c, a)
    s = (ab + bc + ca) / 2.0
    inner = max(
        np.tan(s / 2) * np.tan((s - ab) / 2) * np.tan((s - bc) / 2) * np.tan((s - ca) / 2),
        0.0,
    )
    return float(4.0 * np.arctan(np.sqrt(inner)))


def presimplify(ring: np.ndarray, spherical: bool = True) -> np.ndarray:
    """Effective Visvalingam area per vertex. Endpoints get +inf (never
    removed). Returns float64 (n,)."""
    area_fn = triangle_area_spherical if spherical else triangle_area_planar
    n = len(ring)
    eff = np.full(n, np.inf)
    if n < 3:
        return eff
    prev = np.arange(n) - 1
    nxt = np.arange(n) + 1
    alive = np.ones(n, dtype=bool)
    heap: list[tuple[float, int, int]] = []
    version = np.zeros(n, dtype=np.int64)
    for i in range(1, n - 1):
        a = area_fn(ring[i - 1], ring[i], ring[i + 1])
        heapq.heappush(heap, (a, i, 0))
    max_seen = 0.0
    while heap:
        a, i, ver = heapq.heappop(heap)
        if not alive[i] or ver != version[i]:
            continue
        max_seen = max(max_seen, a)
        eff[i] = max_seen  # monotone effective area
        alive[i] = False
        p, q = prev[i], nxt[i]
        nxt[p], prev[q] = q, p
        for j in (p, q):
            if 0 < j < n - 1 and alive[j]:
                version[j] += 1
                heapq.heappush(
                    heap, (area_fn(ring[prev[j]], ring[j], ring[nxt[j]]), j, int(version[j]))
                )
    return eff


def area_quantile(effective_areas: np.ndarray, p: float) -> float:
    """topojson 'quantile' — the threshold keeping the top share of
    vertices: R-7 style interpolation over the finite areas, matching
    topojson.quantile semantics closely enough for our goldens."""
    finite = np.sort(effective_areas[np.isfinite(effective_areas)])
    if finite.size == 0:
        return 0.0
    h = (finite.size - 1) * np.clip(p, 0.0, 1.0)
    lo = int(np.floor(h))
    hi = min(lo + 1, finite.size - 1)
    return float(finite[lo] + (finite[hi] - finite[lo]) * (h - lo))


def simplify_ring(
    ring: np.ndarray, effective_areas: np.ndarray, threshold: float, min_vertices: int = 4
) -> np.ndarray:
    """Filter vertices by effective area ≥ threshold; a ring collapsing
    below ``min_vertices`` keeps its largest-area vertices instead."""
    keep = effective_areas >= threshold
    if int(keep.sum()) < min_vertices:
        order = np.argsort(-effective_areas, kind="stable")[:min_vertices]
        keep = np.zeros(len(ring), dtype=bool)
        keep[order] = True
    return ring[keep]


def quantize(coords: np.ndarray, bbox, q: int) -> np.ndarray:
    """topojson-style quantization to a (q-1)×(q-1) integer grid over
    ``bbox`` (default q=10^4, server.js:173-177). Returns int64 (n, 2)."""
    x0, y0, x1, y1 = bbox
    kx = (q - 1) / (x1 - x0) if x1 > x0 else 1.0
    ky = (q - 1) / (y1 - y0) if y1 > y0 else 1.0
    out = np.empty((len(coords), 2), dtype=np.int64)
    out[:, 0] = np.round((coords[:, 0] - x0) * kx).astype(np.int64)
    out[:, 1] = np.round((coords[:, 1] - y0) * ky).astype(np.int64)
    return out


def dedup_consecutive(q: np.ndarray) -> np.ndarray:
    """Drop consecutive duplicate quantized points (topojson does this
    after quantization)."""
    if len(q) == 0:
        return q
    keep = np.ones(len(q), dtype=bool)
    keep[1:] = np.any(q[1:] != q[:-1], axis=1)
    return q[keep]


def tile_xyz(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Slippy-map (web-mercator) tile x/y at zoom z — the raster-tile
    address space for raster↔vector assignment."""
    lon = np.asarray(lon, np.float64)
    lat = np.clip(np.asarray(lat, np.float64), -85.05112878, 85.05112878)
    n = 1 << z
    xt = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_r = np.radians(lat)
    yt = np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n).astype(np.int64)
    return np.clip(xt, 0, n - 1), np.clip(yt, 0, n - 1)
