"""Minimal WKB (well-known binary) codec for the geometry column format.

The reference moves geometry around as WKB hex strings handed to
shapely/GEOS (/root/reference/osm2rdf/osmutils.py:76-95) and as PostGIS
``way`` columns. Spark has no geometry type, so our tables carry WKB in
``BinaryType`` columns and the numpy kernels decode them inside Arrow
batches. Only the shapes the engine needs are supported:
Point (1), LineString (2), Polygon (3), MultiPolygon (6) — 2D,
little-endian, no SRID blocks (CRS is always lon/lat EPSG:4326; the
reference's EPSG:3857 reprojection ST_Transform(way,4326)
(/root/reference/osm-regions-server/osm-regions/wd_only_sql.js:6) is a
no-op for us because we store 4326 natively).

Decoded polygons use a packed columnar layout shared by all kernels:

    coords        float64 (N, 2)   all vertices of all rings
    ring_offsets  int64 (R+1,)     ring r = coords[ring_offsets[r]:ring_offsets[r+1]]
    ring_poly     int64 (R,)       which input geometry each ring belongs to
    ring_is_hole  bool  (R,)       interior ring flag

Ring closure: WKB rings repeat the first vertex; the packed layout
KEEPS the repeated closing vertex (edge iteration is then simply
``coords[i] → coords[i+1]``).
"""

from __future__ import annotations

import struct

import numpy as np

POINT, LINESTRING, POLYGON, MULTIPOLYGON = 1, 2, 3, 6


def point_wkb(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", 1, POINT, lon, lat)


def _ring_bytes(ring: np.ndarray) -> bytes:
    ring = np.asarray(ring, dtype="<f8")
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return struct.pack("<I", len(ring)) + ring.tobytes()


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    """rings[0] = exterior, rest = holes. Auto-closes rings."""
    return struct.pack("<BII", 1, POLYGON, len(rings)) + b"".join(
        _ring_bytes(r) for r in rings
    )


def multipolygon_wkb(polys: list[list[np.ndarray]]) -> bytes:
    return struct.pack("<BII", 1, MULTIPOLYGON, len(polys)) + b"".join(
        polygon_wkb(rings) for rings in polys
    )


def _read_ring(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    pts = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return pts, off + 16 * n


def decode_one(wkb: bytes) -> list[list[np.ndarray]]:
    """One WKB blob → list of polygons, each a list of rings (exterior
    first). Points/linestrings are returned as a single open "ring"."""
    buf = memoryview(wkb)
    byte_order, gtype = struct.unpack_from("<BI", buf, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    off = 5
    if gtype == POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return [[np.array([[x, y]])]]
    if gtype == LINESTRING:
        pts, _ = _read_ring(buf, off)
        return [[pts]]
    if gtype == POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings = []
        for _ in range(nrings):
            r, off = _read_ring(buf, off)
            rings.append(r)
        return [rings]
    if gtype == MULTIPOLYGON:
        (npolys,) = struct.unpack_from("<I", buf, off)
        off += 4
        out = []
        for _ in range(npolys):
            sub_bo, sub_type = struct.unpack_from("<BI", buf, off)
            if sub_type != POLYGON:
                raise ValueError("multipolygon member must be polygon")
            off += 5
            (nrings,) = struct.unpack_from("<I", buf, off)
            off += 4
            rings = []
            for _ in range(nrings):
                r, off = _read_ring(buf, off)
                rings.append(r)
            out.append(rings)
        return out
    raise ValueError(f"unsupported WKB geometry type {gtype}")


class PackedPolygons:
    """Columnar batch of decoded polygons (see module docstring)."""

    __slots__ = ("coords", "ring_offsets", "ring_poly", "ring_is_hole", "n_geoms", "bbox")

    def __init__(self, coords, ring_offsets, ring_poly, ring_is_hole, n_geoms):
        self.coords = coords
        self.ring_offsets = ring_offsets
        self.ring_poly = ring_poly
        self.ring_is_hole = ring_is_hole
        self.n_geoms = n_geoms
        self.bbox = self._bboxes()

    def _bboxes(self) -> np.ndarray:
        """(n_geoms, 4) [xmin, ymin, xmax, ymax] per input geometry."""
        out = np.empty((self.n_geoms, 4))
        out[:, :2] = np.inf
        out[:, 2:] = -np.inf
        if len(self.coords) == 0:
            return out
        starts = self.ring_offsets[:-1]
        ends = self.ring_offsets[1:]
        vert_poly = np.repeat(self.ring_poly, ends - starts)
        np.minimum.at(out[:, 0], vert_poly, self.coords[:, 0])
        np.minimum.at(out[:, 1], vert_poly, self.coords[:, 1])
        np.maximum.at(out[:, 2], vert_poly, self.coords[:, 0])
        np.maximum.at(out[:, 3], vert_poly, self.coords[:, 1])
        return out

    def rings_of(self, geom_idx: int):
        for r in np.flatnonzero(self.ring_poly == geom_idx):
            yield self.coords[self.ring_offsets[r] : self.ring_offsets[r + 1]], bool(
                self.ring_is_hole[r]
            )


def pack(wkbs) -> PackedPolygons:
    """Batch of WKB blobs → PackedPolygons. Index = position in input."""
    coords_parts: list[np.ndarray] = []
    offsets = [0]
    ring_poly: list[int] = []
    ring_hole: list[bool] = []
    total = 0
    for gi, blob in enumerate(wkbs):
        if blob is None:
            continue
        for rings in decode_one(bytes(blob)):
            for ri, ring in enumerate(rings):
                coords_parts.append(ring)
                total += len(ring)
                offsets.append(total)
                ring_poly.append(gi)
                ring_hole.append(ri > 0)
    coords = (
        np.concatenate(coords_parts) if coords_parts else np.empty((0, 2))
    )
    return PackedPolygons(
        coords,
        np.asarray(offsets, dtype=np.int64),
        np.asarray(ring_poly, dtype=np.int64),
        np.asarray(ring_hole, dtype=bool),
        len(wkbs),
    )
