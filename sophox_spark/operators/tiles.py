"""Raster↔vector tile assignment.

The tiling half of the north_star: map every point and polygon feature
into the slippy-map (web-mercator z/x/y) raster tile address space, and
emit per-tile vector features with tile-local quantized coordinates
(MVT-style ``extent`` grid) — the distributed analog of the reference's
in-process topojson step (/root/reference/osm-regions-server/
server.js:198-228), which quantizes to a 10^4 grid on one node.

Point→tile is pure native Spark math (floor/ln/tan — whole-stage
codegen, no Python). Polygon→tile covering projects rings into tile
coordinates and reuses the same classify-by-edge-touch logic as the
cell covering, so "raster" (tile grid) and "vector" (polygon) sides
join on one int64 tile key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..geometry import simplify as simp, wkb
from ..geometry.pip import PreparedPolygons

MAX_MERCATOR_LAT = 85.05112878


def _tile_plane(lon_col: str, lat_col: str, z: int):
    """Continuous web-mercator tile-plane (x, y) native columns at zoom
    ``z`` (x right, y down) — the Spark twin of
    ``_project_to_tile_plane``."""
    n = F.lit(float(1 << z))
    lat = F.greatest(
        F.lit(-MAX_MERCATOR_LAT), F.least(F.lit(MAX_MERCATOR_LAT), F.col(lat_col))
    )
    lat_r = F.radians(lat)
    # asinh(t) = ln(t + sqrt(t²+1)) — spelled out for engine portability
    asinh_tan = F.log(F.tan(lat_r) + F.sqrt(F.tan(lat_r) * F.tan(lat_r) + 1.0))
    return (F.col(lon_col) + 180.0) / 360.0 * n, (1.0 - asinh_tan / float(np.pi)) / 2.0 * n


def _clamp(c, hi: int):
    return F.greatest(F.lit(0).cast("long"), F.least(F.lit(hi).cast("long"), c.cast("long")))


def tile_cols(lon_col: str, lat_col: str, z: int):
    """(tile_x, tile_y) native-expression columns at zoom ``z``."""
    fx, fy = _tile_plane(lon_col, lat_col, z)
    return _clamp(F.floor(fx), (1 << z) - 1), _clamp(F.floor(fy), (1 << z) - 1)


def tile_key_col(z: int, x, y):
    """Pack z/x/y into one int64 join key (same layout as grid cells).
    Pure arithmetic — fields never overlap, so + ≡ bitwise-or here, and
    the identical formula runs in the DuckDB oracle."""
    return (
        F.lit(z).cast("long") * F.lit(1 << 58)
        + x.cast("long") * F.lit(1 << 29)
        + y.cast("long")
    )


def assign_point_tiles(df: DataFrame, zooms: list[int], lon_col="lon", lat_col="lat") -> DataFrame:
    """Add tile_x_{z}, tile_y_{z}, tile_{z} (packed key) per zoom."""
    for z in zooms:
        xt, yt = tile_cols(lon_col, lat_col, z)
        df = (
            df.withColumn(f"tile_x_{z}", xt)
            .withColumn(f"tile_y_{z}", yt)
            .withColumn(f"tile_{z}", tile_key_col(z, F.col(f"tile_x_{z}"), F.col(f"tile_y_{z}")))
        )
    return df


def _project_to_tile_plane(coords: np.ndarray, z: int) -> np.ndarray:
    """lon/lat → continuous tile coordinates at zoom z (x right, y down)."""
    n = float(1 << z)
    lat = np.clip(coords[:, 1], -MAX_MERCATOR_LAT, MAX_MERCATOR_LAT)
    out = np.empty_like(coords)
    out[:, 0] = (coords[:, 0] + 180.0) / 360.0 * n
    out[:, 1] = (1.0 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2.0 * n
    return out


def cover_polygon_tiles(
    polygons_df: DataFrame, z: int, geom_col="geom", id_col="polygon_id",
    max_tiles_per_poly: int = 65536,
) -> DataFrame:
    """Polygon dim → (tile_x, tile_y, tile, polygon_id, fully_contained)
    at zoom ``z`` — same superset + interior-classification guarantees
    as the cell covering (geometry/cover.py), but in tile space."""

    def gen(batches):
        for pdf in batches:
            rows = {"tile_x": [], "tile_y": [], id_col: [], "fully_contained": []}
            for pid, blob in zip(pdf[id_col], pdf[geom_col]):
                if blob is None:
                    continue
                polys = wkb.decode_one(bytes(blob))
                proj = [[_project_to_tile_plane(r, z) for r in rings] for rings in polys]
                gx, gy, interior, keep = _cover_one_projected(
                    proj, max_tiles_per_poly, z, pid
                )
                rows["tile_x"].extend(gx[keep].tolist())
                rows["tile_y"].extend(gy[keep].tolist())
                rows[id_col].extend([pid] * int(keep.sum()))
                rows["fully_contained"].extend(interior[keep].tolist())
            yield pd.DataFrame(rows)

    out = polygons_df.select(id_col, geom_col).mapInPandas(
        gen, f"tile_x long, tile_y long, {id_col} long, fully_contained boolean"
    )
    return out.withColumn("tile", tile_key_col(z, F.col("tile_x"), F.col("tile_y")))


def _cover_one_projected(proj, max_tiles_per_poly, z, pid):
    """Tile covering for ONE polygon already projected to the tile
    plane. Returns (gx, gy, interior, keep) over the bbox tile grid —
    shared by ``cover_polygon_tiles`` and ``vector_tile_features``."""
    packed = _pack_plane(proj)
    prep = PreparedPolygons(packed)
    bb = packed.bbox[0]
    x0, y0 = int(np.floor(bb[0])), int(np.floor(bb[1]))
    x1, y1 = int(np.floor(bb[2])), int(np.floor(bb[3]))
    nx, ny = x1 - x0 + 1, y1 - y0 + 1
    if nx * ny > max_tiles_per_poly:
        raise ValueError(
            f"polygon {pid} covers {nx * ny} tiles at z{z}; lower z"
        )
    gx, gy = np.meshgrid(
        np.arange(x0, x1 + 1), np.arange(y0, y1 + 1), indexing="ij"
    )
    gx, gy = gx.ravel(), gy.ravel()
    # edge-touch: conservative seg-bbox vs tile-square overlap,
    # via segment→tile-range binning — O(Σ tiles-per-segment),
    # not O(tiles × segments). Tile t covers [t, t+1]; a seg
    # bbox [lo, hi] overlaps iff t ∈ [ceil(lo−1), floor(hi)]
    # (identical predicate to lo <= t+1 & hi >= t).
    ex_lo = np.minimum(prep.x1, prep.x2)
    ex_hi = np.maximum(prep.x1, prep.x2)
    ey_lo = np.minimum(prep.y1, prep.y2)
    ey_hi = np.maximum(prep.y1, prep.y2)
    sx0 = np.clip(np.ceil(ex_lo - 1.0).astype(np.int64) - x0, 0, nx - 1)
    sx1 = np.clip(np.floor(ex_hi).astype(np.int64) - x0, 0, nx - 1)
    sy0 = np.clip(np.ceil(ey_lo - 1.0).astype(np.int64) - y0, 0, ny - 1)
    sy1 = np.clip(np.floor(ey_hi).astype(np.int64) - y0, 0, ny - 1)
    touched2d = np.zeros((nx, ny), dtype=bool)
    wx, wy = sx1 - sx0 + 1, sy1 - sy0 + 1
    area = wx * wy
    tot = int(area.sum())
    if tot:
        rep_wy = np.repeat(wy, area)
        k = np.arange(tot) - np.repeat(np.cumsum(area) - area, area)
        tx_idx = np.repeat(sx0, area) + k // rep_wy
        ty_idx = np.repeat(sy0, area) + k % rep_wy
        touched2d[tx_idx, ty_idx] = True
    touched = touched2d.ravel()  # meshgrid 'ij' ⇒ x-major, same order
    interior = np.zeros(gx.size, dtype=bool)
    un = ~touched
    if un.any():
        interior[un] = prep.contains(
            gx[un] + 0.5, gy[un] + 0.5, np.zeros(int(un.sum()), np.int64)
        )
    keep = touched | interior
    return gx, gy, interior, keep


def _pack_plane(proj_polys) -> wkb.PackedPolygons:
    coords_parts, offsets, ring_poly, ring_hole = [], [0], [], []
    total = 0
    for rings in proj_polys:
        for ri, r in enumerate(rings):
            coords_parts.append(r)
            total += len(r)
            offsets.append(total)
            ring_poly.append(0)
            ring_hole.append(ri > 0)
    coords = np.concatenate(coords_parts) if coords_parts else np.empty((0, 2))
    return wkb.PackedPolygons(
        coords, np.asarray(offsets, np.int64), np.asarray(ring_poly, np.int64),
        np.asarray(ring_hole, bool), 1,
    )


def rasterize_points(
    df: DataFrame, z: int, extent: int = 256, lon_col="lon", lat_col="lat"
) -> DataFrame:
    """Raster side of raster↔vector: bin points into per-tile pixel
    grids (heatmap tiles) — (tile_x, tile_y, px, py, n). Pure native
    floor math + one two-phase groupBy; at scale this is the canonical
    map-tile pre-aggregation (reduces 10^12 points to bounded
    tiles×extent² cells)."""
    fx, fy = _tile_plane(lon_col, lat_col, z)
    xt, yt = _clamp(F.floor(fx), (1 << z) - 1), _clamp(F.floor(fy), (1 << z) - 1)
    px = _clamp(F.floor((fx - xt) * extent), extent - 1)
    py = _clamp(F.floor((fy - yt) * extent), extent - 1)
    return (
        df.select(
            xt.alias("tile_x"), yt.alias("tile_y"), px.alias("px"), py.alias("py")
        )
        .groupBy("tile_x", "tile_y", "px", "py")
        .agg(F.count("*").alias("n"))
    )


def vector_tile_features(
    polygons_df: DataFrame, z: int, extent: int = 4096,
    geom_col="geom", id_col="polygon_id",
) -> DataFrame:
    """Per-(tile, polygon) vector feature rows with tile-local integer
    coordinates on an ``extent``×``extent`` grid (MVT-style; geometry is
    quantized, not clipped — renderer-side clipping assumed, documented
    divergence from MVT).

    The covering AND the per-tile quantization run FUSED in one narrow
    partition pass over the polygon dim: each polygon is decoded and
    projected once, its covered tiles enumerated, and each tile's rings
    quantized — no covering↔geometry re-attach join, no exchange, a
    single Python crossing. Nothing is collected or broadcast, so the
    pass serves a polygon dim of any size. ``cover_polygon_tiles``
    gives the bare (tile, polygon) covering."""
    out_schema = f"tile long, {id_col} long, ring_idx int, coords_q array<long>"
    zkey = z << 58

    def fused(batches):
        for pdf in batches:
            out = {"tile": [], id_col: [], "ring_idx": [], "coords_q": []}
            for pid, blob in zip(pdf[id_col], pdf[geom_col]):
                if blob is None:
                    continue
                polys_d = wkb.decode_one(bytes(blob))
                proj = [
                    [_project_to_tile_plane(r, z) for r in rings]
                    for rings in polys_d
                ]
                gx, gy, _interior, keep = _cover_one_projected(
                    proj, 65536, z, pid
                )
                proj_rings = [r for rings in proj for r in rings]
                for tx, ty in zip(gx[keep].tolist(), gy[keep].tolist()):
                    origin = np.array([tx, ty], dtype=np.float64)
                    tile = zkey + (tx << 29) + ty
                    for ri, pr in enumerate(proj_rings):
                        q = simp.dedup_consecutive(
                            np.round((pr - origin) * extent).astype(np.int64)
                        )
                        out["tile"].append(tile)
                        out[id_col].append(pid)
                        out["ring_idx"].append(ri)
                        out["coords_q"].append([int(v) for xy in q for v in xy])
            yield pd.DataFrame(out)

    return polygons_df.select(id_col, geom_col).mapInPandas(fused, out_schema)
