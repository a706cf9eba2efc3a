"""Core vectorized geometry kernels (numpy only — no GEOS in container).

Implements the scalar geometry functions the reference delegates to
shapely/GEOS and PostGIS (SURVEY §2.7 F8-F15):
  - signed ring area / polygon area / centroid
  - winding-order normalization (ST_ForceRHR analog, wd_only_sql.js:6)
  - is_closed for ways (/root/reference/osm2rdf/RdfHandler.py:76)
  - representative (interior) point — the ``osmm:loc`` reduction every
    OSM way gets (/root/reference/osm2rdf/osmutils.py:78,
    osm2rdf.rs/src/parser.rs:240)
  - haversine distance (kNN metric)

Everything operates on arrays and is called from Arrow-batched pandas
UDFs — no per-row Python in the Spark hot path.
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6_371_008.8


def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area (CCW positive). Ring may be open or closed."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def is_ccw(ring: np.ndarray) -> bool:
    return ring_signed_area(ring) > 0


def orient_ring(ring: np.ndarray, ccw: bool) -> np.ndarray:
    """Return the ring with the requested winding (copy only if flipped)."""
    return ring if is_ccw(ring) == ccw else ring[::-1]


def force_rhr(rings: list[np.ndarray]) -> list[np.ndarray]:
    """PostGIS ST_ForceRHR convention: exterior ring clockwise, holes
    counter-clockwise (exterior first in the list)."""
    return [orient_ring(r, ccw=(i > 0)) for i, r in enumerate(rings)]


def rings_area_centroid(rings: list[tuple[np.ndarray, bool]]) -> tuple[float, float, float]:
    """(area, cx, cy) of a polygon given (ring, is_hole) pairs.
    Area-weighted centroid; holes subtract."""
    total_a = 0.0
    sx = sy = 0.0
    for ring, is_hole in rings:
        x, y = ring[:, 0], ring[:, 1]
        xn, yn = np.roll(x, -1), np.roll(y, -1)
        cross = x * yn - xn * y
        a = 0.5 * float(np.sum(cross))
        if a == 0.0:
            continue
        cx = float(np.sum((x + xn) * cross)) / (6.0 * a)
        cy = float(np.sum((y + yn) * cross)) / (6.0 * a)
        w = -abs(a) if is_hole else abs(a)
        total_a += w
        sx += cx * w
        sy += cy * w
    if total_a == 0.0:
        # degenerate: fall back to vertex mean
        allc = np.concatenate([r for r, _ in rings])
        return 0.0, float(allc[:, 0].mean()), float(allc[:, 1].mean())
    return total_a, sx / total_a, sy / total_a


def is_closed(coords: np.ndarray) -> bool:
    """Way closed-ring flag (first vertex == last vertex), the
    ``osmm:isClosed`` statement (RdfHandler.py:76)."""
    return len(coords) >= 3 and bool(np.all(coords[0] == coords[-1]))


def linestring_representative_point(coords: np.ndarray) -> tuple[float, float]:
    """Interior point of a linestring: the middle vertex. (GEOS picks an
    interior coordinate too; exact parity with GEOS is not required —
    goldens use this definition as the oracle.)"""
    mid = (len(coords) - 1) // 2
    return float(coords[mid, 0]), float(coords[mid, 1])


def polygon_representative_point(
    rings: list[tuple[np.ndarray, bool]],
) -> tuple[float, float]:
    """Guaranteed-interior point: centroid if it's inside, else the
    midpoint of the widest horizontal crossing interval through the
    bbox-middle scanline (the classic point-on-surface construction)."""
    from .pip import point_in_rings

    _, cx, cy = rings_area_centroid(rings)
    if point_in_rings(cx, cy, rings):
        return cx, cy
    ys = np.concatenate([r[:, 1] for r, _ in rings])
    scan_y = float((ys.min() + ys.max()) / 2.0)
    # nudge off any vertex y to avoid degenerate crossings
    vys = np.unique(ys)
    if np.any(vys == scan_y):
        gaps = np.diff(vys)
        if len(gaps):
            k = int(np.argmax(gaps))
            scan_y = float((vys[k] + vys[k + 1]) / 2.0)
    xs: list[float] = []
    for ring, _ in rings:
        x, y = ring[:, 0], ring[:, 1]
        xn, yn = np.roll(x, -1), np.roll(y, -1)
        m = (y > scan_y) != (yn > scan_y)
        if m.any():
            t = (scan_y - y[m]) / (yn[m] - y[m])
            xs.extend((x[m] + t * (xn[m] - x[m])).tolist())
    if not xs:
        return rings[0][0][0, 0], rings[0][0][0, 1]
    xs_sorted = np.sort(np.asarray(xs))
    if len(xs_sorted) % 2:  # degenerate parity; drop the stray crossing
        xs_sorted = xs_sorted[:-1]
    if len(xs_sorted) == 0:
        return rings[0][0][0, 0], rings[0][0][0, 1]
    widths = xs_sorted[1::2] - xs_sorted[0::2]
    k = int(np.argmax(widths))
    return float((xs_sorted[2 * k] + xs_sorted[2 * k + 1]) / 2.0), scan_y


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters, fully vectorized."""
    lon1, lat1 = np.radians(np.asarray(lon1, np.float64)), np.radians(np.asarray(lat1, np.float64))
    lon2, lat2 = np.radians(np.asarray(lon2, np.float64)), np.radians(np.asarray(lat2, np.float64))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
