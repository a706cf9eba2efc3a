"""S2 cell-id point encoding (vectorized numpy, levels 0-30).

A from-scratch reimplementation of the *public* S2 cell-id scheme
(cube-face projection + quadratic s/t reparameterization + Hilbert
curve position, as described in the s2geometry documentation). The
s2sphere/s2geometry libraries are not available in this container, so
this module provides the secondary "S2" index column the target spec
asks for, with self-consistency guaranteed by tests (round-trip
encode/decode, hierarchy-by-prefix, leaf lsb invariants).

Reference analog: Blazegraph's geospatial literal index (the absent
wikidata-query-rdf submodule) — here the cell id is just another int64
join/partition key.

Used encode-only in the hot path; decode exists for tests/debugging.
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 1
INVERT_MASK = 2
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61

_POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK)
_POS_TO_IJ = (
    (0, 1, 3, 2),
    (0, 2, 3, 1),
    (3, 2, 0, 1),
    (3, 1, 0, 2),
)

_LOOKUP_POS = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)
_LOOKUP_IJ = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orientation: int):
    if level == LOOKUP_BITS:
        ij = (i << LOOKUP_BITS) + j
        _LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orientation
        _LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orientation]
    for sub in range(4):
        ij = r[sub]
        _init_lookup(
            level, i + (ij >> 1), j + (ij & 1), orig, pos + sub,
            orientation ^ _POS_TO_ORIENTATION[sub],
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)


def _lonlat_to_xyz(lon, lat):
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    cos_phi = np.cos(phi)
    return cos_phi * np.cos(lam), cos_phi * np.sin(lam), np.sin(phi)


def _xyz_to_face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    with np.errstate(divide="ignore", invalid="ignore"):
        for f, (un, ud, vn, vd) in enumerate(
            [
                (y, x, z, x),      # face 0: +x
                (-x, y, z, y),     # face 1: +y
                (-x, z, -y, z),    # face 2: +z
                (z, x, y, x),      # face 3: -x
                (z, y, -x, y),     # face 4: -y
                (-y, z, -x, z),    # face 5: -z
            ]
        ):
            m = face == f
            u[m] = (un[m] if isinstance(un, np.ndarray) else un) / ud[m]
            v[m] = (vn[m] if isinstance(vn, np.ndarray) else vn) / vd[m]
    return face, u, v


def _uv_to_st(u):
    """Quadratic projection (the s2geometry default)."""
    return np.where(
        u >= 0.0,
        0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0)),
        1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0)),
    )


def _st_to_uv(s):
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def _st_to_ij(s):
    return np.clip((np.ldexp(s, MAX_LEVEL)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1)


def from_face_ij(face, i, j) -> np.ndarray:
    """(face, i, j) at level 30 → uint64 leaf cell id (as int64 bits)."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    n = face << np.uint64(POS_BITS - 1)
    bits = face & np.uint64(SWAP_MASK)
    mask = np.uint64((1 << LOOKUP_BITS) - 1)
    lookup = _LOOKUP_POS.astype(np.uint64)
    for k in range(7, -1, -1):
        kb = np.uint64(k * LOOKUP_BITS)
        bits += ((i >> kb) & mask) << np.uint64(LOOKUP_BITS + 2)
        bits += ((j >> kb) & mask) << np.uint64(2)
        bits = lookup[bits.astype(np.int64)]
        n |= (bits >> np.uint64(2)) << np.uint64(k * 2 * LOOKUP_BITS)
        bits &= np.uint64(SWAP_MASK | INVERT_MASK)
    return ((n << np.uint64(1)) | np.uint64(1)).astype(np.int64)


def encode(lon, lat, level: int = MAX_LEVEL) -> np.ndarray:
    """(lon, lat) → S2 cell id at ``level`` (int64 bit pattern; invalid
    coords → 0, never an exception — loc:error semantics)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError("level must be in [0, 30]")
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    bad = (
        ~np.isfinite(lon) | ~np.isfinite(lat)
        | (np.abs(lon) > 180.0) | (np.abs(lat) > 90.0)
    )
    x, y, z = _lonlat_to_xyz(np.nan_to_num(lon), np.nan_to_num(lat))
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    cid = from_face_ij(face, i, j)
    if level < MAX_LEVEL:
        cid = parent(cid, level)
    cid = np.where(bad, np.int64(0), cid)
    return cid


def lsb_for_level(level: int) -> np.uint64:
    return np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))


def parent(cell, level: int) -> np.ndarray:
    """Ancestor at ``level`` — pure bit math (s2 id hierarchy)."""
    c = np.asarray(cell).astype(np.uint64)
    lsb = lsb_for_level(level)
    return (((c & (~(lsb - np.uint64(1)))) | lsb)).astype(np.int64)


def level_of(cell) -> np.ndarray:
    c = np.asarray(cell).astype(np.uint64)
    # level = 30 - (position of lowest set bit)/2
    low = (c & (~c + np.uint64(1))).astype(np.uint64)
    # log2 of an exact power of two
    bitpos = np.round(np.log2(low.astype(np.float64))).astype(np.int64)
    return MAX_LEVEL - bitpos // 2


def decode_center(cell) -> tuple[np.ndarray, np.ndarray]:
    """Cell id → (lon, lat) of the cell center (tests/debug only)."""
    c = np.asarray(cell).astype(np.uint64)
    face = (c >> np.uint64(POS_BITS)).astype(np.int64)
    # walk the hilbert position back to (i, j)
    i = np.zeros(c.shape, dtype=np.uint64)
    j = np.zeros(c.shape, dtype=np.uint64)
    bits = (face & SWAP_MASK).astype(np.uint64)
    lookup = _LOOKUP_IJ.astype(np.uint64)
    pos = c >> np.uint64(1)  # drop the sentinel bit marker space
    for k in range(7, -1, -1):
        nbits = LOOKUP_BITS if k < 7 else (MAX_LEVEL - 7 * LOOKUP_BITS)
        take = ((pos >> np.uint64(k * 2 * LOOKUP_BITS)) & np.uint64((1 << (2 * nbits)) - 1))
        bits += take << np.uint64(2)
        bits = lookup[bits.astype(np.int64)]
        i += (bits >> np.uint64(LOOKUP_BITS + 2)) << np.uint64(k * LOOKUP_BITS)
        j += ((bits >> np.uint64(2)) & np.uint64((1 << LOOKUP_BITS) - 1)) << np.uint64(
            k * LOOKUP_BITS
        )
        bits &= np.uint64(SWAP_MASK | INVERT_MASK)
    lvl = level_of(c.astype(np.int64))
    # center of the cell at its level
    size = (np.uint64(1) << (np.uint64(2) * (np.uint64(MAX_LEVEL) - lvl.astype(np.uint64)) // np.uint64(2)))
    si = (i.astype(np.float64) // size.astype(np.float64) * size.astype(np.float64) + size.astype(np.float64) / 2.0)
    sj = (j.astype(np.float64) // size.astype(np.float64) * size.astype(np.float64) + size.astype(np.float64) / 2.0)
    s = si / float(1 << MAX_LEVEL)
    t = sj / float(1 << MAX_LEVEL)
    u = _st_to_uv(s)
    v = _st_to_uv(t)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    one = np.ones_like(u)
    for f, (fx, fy, fz) in enumerate(
        [
            (one, u, v),       # face 0
            (-u, one, v),      # face 1
            (-u, -v, one),     # face 2
            (-one, -v, -u),    # face 3
            (v, -one, -u),     # face 4
            (v, u, -one),      # face 5
        ]
    ):
        m = face == f
        x[m], y[m], z[m] = fx[m], fy[m], fz[m]
    norm = np.sqrt(x * x + y * y + z * z)
    lon = np.degrees(np.arctan2(y / norm, x / norm))
    lat = np.degrees(np.arcsin(np.clip(z / norm, -1, 1)))
    return lon, lat
