"""Hierarchical quad-grid cell index (vectorized numpy).

The engine's workhorse spatial index: an equirectangular quadtree over
(lon, lat), packed into a single int64 so cell ids are plain join keys
for Catalyst hash joins. This plays the role H3/S2 play in the target
spec (neither library ships in this container, so the grid is our own
deterministic hierarchy; a real-S2 point encoder lives in
``sophox_spark.cells.s2`` as the secondary index).

Reference analog: Sophox answers "which polygon contains this point /
what is near this point" through PostGIS GiST indexes
(/root/reference/osm-to-pgsql/create_indexes.sql) and Blazegraph's geo
service. Spark has no secondary indexes, so the index *is* the
partitioning: every point and every polygon-cover row carries a cell id,
spatial predicates become cell equi-joins, and cell-prefix
range-partitioning makes them co-partitioned hash joins.

Packing (res ∈ [0, 28]):

    cell = (res << 58) | (x << 29) | y
    x = floor((lon + 180) / 360 * 2^res)   # 2^res columns over 360°
    y = floor((lat +  90) / 180 * 2^res)   # 2^res rows    over 180°

Properties used by the operators:
- parent/child is pure bit math (no tables) → cheap rollups res 7→12;
- k-ring neighbors are x/y offsets with lon wraparound and lat clamp;
- the high bits of ``x`` give the "cell prefix" used for range
  partitioning (north_rule).

All functions take/return numpy arrays and are safe inside pandas UDFs.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28
_RES_SHIFT = 58
_X_SHIFT = 29
_XY_MASK = (1 << _X_SHIFT) - 1

# H3-analog resolutions: the spec speaks of "H3 res 7-12" (~1.2 km to
# ~9 m hexes). The grid resolutions below have comparable cell sizes
# (cell height = 180°/2^res).
H3_ANALOG_RES = {7: 13, 8: 14, 9: 15, 10: 16, 11: 17, 12: 18}


def _as_f64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float64)


def encode(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) arrays → int64 cell ids at ``res``. Invalid coords
    (NaN or out of range) map to -1 — the engine's analog of the
    reference's silent ``osmm:loc:error`` rows
    (/root/reference/osm2rdf/osmutils.py:68-73): never crash, emit an
    error marker instead."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    lon, lat = _as_f64(lon), _as_f64(lat)
    n = np.int64(1) << res
    bad = (
        ~np.isfinite(lon)
        | ~np.isfinite(lat)
        | (lon < -180.0)
        | (lon > 180.0)
        | (lat < -90.0)
        | (lat > 90.0)
    )
    x = np.floor((np.nan_to_num(lon) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.nan_to_num(lat) + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    cell = (np.int64(res) << _RES_SHIFT) | (x << _X_SHIFT) | y
    cell[bad] = -1
    return cell


def decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell ids → (res, x, y)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    x = (cell >> _X_SHIFT) & _XY_MASK
    y = cell & _XY_MASK
    return res, x, y


def from_xy(x, y, res: int) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (np.int64(res) << _RES_SHIFT) | (x << _X_SHIFT) | y


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell ids → (lon_min, lat_min, lon_max, lat_max)."""
    res, x, y = decode(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon0 = x / n * 360.0 - 180.0
    lat0 = y / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


def cell_center(cell) -> tuple[np.ndarray, np.ndarray]:
    lon0, lat0, lon1, lat1 = cell_bounds(cell)
    return (lon0 + lon1) * 0.5, (lat0 + lat1) * 0.5


def parent(cell, parent_res: int) -> np.ndarray:
    """Roll a cell up to a coarser resolution — pure bit math."""
    res, x, y = decode(cell)
    if np.any(res < parent_res):
        raise ValueError("parent_res coarser than cell res required")
    shift = res - parent_res
    return from_xy(x >> shift, y >> shift, parent_res)


def children(cell: int) -> np.ndarray:
    """4 direct children of one cell id (scalar in, array out)."""
    res, x, y = decode(np.asarray([cell]))
    r = int(res[0]) + 1
    if r > MAX_RES:
        raise ValueError("cell already at MAX_RES")
    cx, cy = int(x[0]) << 1, int(y[0]) << 1
    xs = np.array([cx, cx + 1, cx, cx + 1], dtype=np.int64)
    ys = np.array([cy, cy, cy + 1, cy + 1], dtype=np.int64)
    return from_xy(xs, ys, r)


def k_ring(cell, k: int) -> tuple[np.ndarray, np.ndarray]:
    """All cells within Chebyshev distance ``k`` of each input cell
    (the H3 ``k_ring`` analog, SURVEY §2.3 J8/W4) — the numpy reference
    for grid neighborhoods. kNN does not call it: ``knn._ring_expand_dim``
    builds its ring-1 neighborhood as a native Spark expression.

    Longitude wraps around the antimeridian; latitude rows outside the
    poles are dropped. Returns ``(src_index, ring_cells)`` in explode
    form: ``ring_cells[i]`` is a neighbor of ``cell[src_index[i]]``.
    """
    cell = np.asarray(cell, dtype=np.int64)
    res, x, y = decode(cell)
    if cell.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    r = int(res[0])
    if np.any(res != r):
        raise ValueError("k_ring requires uniform resolution input")
    n = np.int64(1) << r
    side = 2 * k + 1
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx = np.tile(np.repeat(offs, side), cell.size)
    dy = np.tile(np.tile(offs, side), cell.size)
    src = np.repeat(np.arange(cell.size, dtype=np.int64), side * side)
    nx = (x[src] + dx) % n  # lon wrap
    ny = y[src] + dy
    ok = (ny >= 0) & (ny < n)  # lat clamp
    src, cells = src[ok], from_xy(nx[ok], ny[ok], r)
    if side >= n:  # wrap revisits cells at coarse res — dedup per source
        pair = np.stack([src, cells], axis=1)
        pair = np.unique(pair, axis=0)
        src, cells = pair[:, 0], pair[:, 1]
    return src, cells


def cover_bbox(lon0, lat0, lon1, lat1, res: int, max_cells: int = 4_194_304):
    """All cells at ``res`` intersecting each bbox, explode form
    ``(src_index, cells)``. The coarse step of polygon covering."""
    lon0, lat0 = _as_f64(lon0), _as_f64(lat0)
    lon1, lat1 = _as_f64(lon1), _as_f64(lat1)
    n = np.int64(1) << res
    x0 = np.clip(np.floor((lon0 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    x1 = np.clip(np.floor((lon1 + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y0 = np.clip(np.floor((lat0 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    y1 = np.clip(np.floor((lat1 + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    counts = (x1 - x0 + 1) * (y1 - y0 + 1)
    total = int(counts.sum())
    if total > max_cells:
        raise ValueError(
            f"bbox covering would produce {total} cells (> {max_cells}); "
            "use a coarser res or split the input"
        )
    src = np.repeat(np.arange(lon0.size, dtype=np.int64), counts)
    # per-bbox local enumeration of the (x, y) lattice
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    local = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    w = (y1 - y0 + 1)[src]
    xs = x0[src] + local // w
    ys = y0[src] + local % w
    return src, from_xy(xs, ys, res)


def prefix_bucket(cell, bits: int = 8) -> np.ndarray:
    """Cell-prefix bucket for range partitioning the polygon side of the
    join (north_rule: "polygon sides range-partitioned by cell prefix").
    Takes the top ``bits`` of the x coordinate scaled by resolution so
    spatially close cells land in the same bucket."""
    res, x, y = decode(cell)
    shift = np.maximum(res - bits // 2, 0)
    return ((x >> shift) << (bits // 2)) | (y >> shift)
