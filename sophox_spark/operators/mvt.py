"""Mapbox Vector Tile (MVT 2.1) wire-format codec + tile sink.

The reference serves map tiles (server.js /tiles endpoints); this is
the binary half of that surface for the Spark engine: encode the
per-(tile, polygon) quantized rings of
``tiles.vector_tile_features`` into REAL ``.mvt`` protobuf tiles any
MVT renderer consumes, and decode them back (own parser — enables the
encode→decode roundtrip oracle).

Wire format per the PUBLIC Mapbox Vector Tile spec 2.1 + protobuf
encoding rules:

* ``Tile``: repeated ``Layer`` (field 3, length-delimited)
* ``Layer``: version (15, varint) name (1, string) features (2,
  repeated message) keys (3) values (4) extent (5, varint)
* ``Feature``: id (1, varint) tags (2, packed) type (3, enum —
  POLYGON=3) geometry (4, packed uint32)
* geometry commands: ``(count << 3) | cmd_id`` with MoveTo=1,
  LineTo=2, ClosePath=7; coordinate deltas zigzag-encoded, cursor
  carried across rings within a feature

The protobuf wire layer (varints, zigzag, field keys and the bounds-
checked field reader) is ``functions/protobuf.py``, shared with the OSM
PBF source; this module holds the MVT message layout. Decoding fails
loud: truncated or over-long wire data, unknown wire types and unknown
geometry commands raise ``MvtFormatError``, and so does encoding a
feature id outside uint64 or a layer extent outside uint32.

Subset notes (documented): one layer per tile, empty tag tables,
polygon features only, rings emitted in input order (winding left to
the producer, like the quantizer upstream). ClosePath implies the ring
closure, so a closed input ring drops its duplicate last point on
encode and decode re-closes it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.protobuf import (
    VARINT,
    DecodeError,
    fields,
    key,
    len_delim,
    read_varint,
    unzigzag,
    varint,
    zigzag,
)

POLYGON = 3


class MvtFormatError(ValueError):
    """Malformed or out-of-subset MVT input."""


def _encode_geometry(rings) -> bytes:
    """Polygon rings (Nx2 int arrays, open or closed) → packed command
    varints. The cursor carries across rings (spec 4.3.5.3)."""
    cx = cy = 0
    out = bytearray()
    for ring in rings:
        r = np.asarray(ring, np.int64).reshape(-1, 2)
        if len(r) >= 2 and (r[0] == r[-1]).all():
            r = r[:-1]  # ClosePath implies the closing segment
        if len(r) < 3:
            raise MvtFormatError("polygon ring needs >= 3 distinct points")
        out += varint((1 << 3) | 1)  # MoveTo, count 1
        out += varint(zigzag(int(r[0, 0]) - cx))
        out += varint(zigzag(int(r[0, 1]) - cy))
        cx, cy = int(r[0, 0]), int(r[0, 1])
        n = len(r) - 1
        out += varint((n << 3) | 2)  # LineTo, count n
        for x, y in r[1:]:
            out += varint(zigzag(int(x) - cx))
            out += varint(zigzag(int(y) - cy))
            cx, cy = int(x), int(y)
        out += varint((1 << 3) | 7)  # ClosePath
    return bytes(out)


def encode_tile(
    features, layer_name: str = "layer", extent: int = 4096,
) -> bytes:
    """``features``: iterable of (feature_id, rings) → one-layer MVT
    tile bytes. A feature id is a uint64, the layer ``extent`` a uint32."""
    extent = int(extent)
    if not 0 <= extent < 1 << 32:
        raise MvtFormatError(f"extent {extent} is not a uint32")
    body = bytearray()
    body += key(15, VARINT) + varint(2)  # version
    body += len_delim(1, layer_name.encode("utf-8"))
    for fid, rings in features:
        fid = int(fid)
        if not 0 <= fid < 1 << 64:
            raise MvtFormatError(f"feature id {fid} is not a uint64")
        feat = bytearray()
        feat += key(1, VARINT) + varint(fid)
        feat += key(3, VARINT) + varint(POLYGON)
        feat += len_delim(4, _encode_geometry(rings))
        body += len_delim(2, bytes(feat))
    body += key(5, VARINT) + varint(extent)
    return bytes(len_delim(3, bytes(body)))


def _decode_geometry(data: bytes) -> list[np.ndarray]:
    """Packed commands → rings as Nx2 arrays of ABSOLUTE coordinates
    (closing point not repeated)."""
    rings: list[np.ndarray] = []
    cur: list[tuple[int, int]] = []
    cx = cy = 0
    i = 0
    while i < len(data):
        cmd, i = read_varint(data, i)
        cid, count = cmd & 7, cmd >> 3
        if cid in (1, 2):  # MoveTo / LineTo
            for _ in range(count):
                dx, i = read_varint(data, i)
                dy, i = read_varint(data, i)
                cx += unzigzag(dx)
                cy += unzigzag(dy)
                if cid == 1 and cur:
                    rings.append(np.array(cur, np.int64))
                    cur = []
                cur.append((cx, cy))
        elif cid == 7:  # ClosePath
            if not cur:
                raise MvtFormatError("ClosePath with no open ring")
            rings.append(np.array(cur, np.int64))
            cur = []
        else:
            raise MvtFormatError(f"unknown geometry command {cid}")
    if cur:
        rings.append(np.array(cur, np.int64))
    return rings


def decode_tile(data: bytes) -> list[dict]:
    """MVT bytes → layers: {name, version, extent, features:
    [(id, type, rings)]}. Malformed wire data raises ``MvtFormatError``."""
    layers = []
    try:
        for num, _wt, val in fields(data):
            if num != 3:
                continue
            layer = {"name": "", "version": 0, "extent": 4096, "features": []}
            for lnum, _lwt, lval in fields(val):
                if lnum == 15:
                    layer["version"] = lval
                elif lnum == 1:
                    layer["name"] = bytes(lval).decode("utf-8")
                elif lnum == 5:
                    layer["extent"] = lval
                elif lnum == 2:
                    fid = 0
                    ftype = 0
                    rings: list[np.ndarray] = []
                    for fnum, _fwt, fval in fields(lval):
                        if fnum == 1:
                            fid = fval
                        elif fnum == 3:
                            ftype = fval
                        elif fnum == 4:
                            rings = _decode_geometry(fval)
                    layer["features"].append((fid, ftype, rings))
            layers.append(layer)
    except DecodeError as e:
        raise MvtFormatError(str(e)) from e
    return layers


def tile_blobs(
    features_df: DataFrame,
    id_col: str = "polygon_id",
    layer_name: str = "layer",
    extent: int = 4096,
) -> DataFrame:
    """(tile, polygon_id, ring_idx, coords_q) feature rows → one REAL
    ``.mvt`` blob per tile: groupBy(tile) + applyInPandas — each tile
    serializes independently (the natural unit of a tile server), no
    driver involvement."""

    def build(key, pdf):
        feats = []
        for pid, grp in pdf.sort_values([id_col, "ring_idx"]).groupby(
            id_col, sort=True
        ):
            rings = [
                np.asarray(c, np.int64).reshape(-1, 2)
                for c in grp["coords_q"]
            ]
            feats.append((int(pid), rings))
        blob = encode_tile(feats, layer_name, extent)
        return pd.DataFrame(
            {"tile": [key[0]], "mvt": [blob],
             "n_features": [len(feats)], "n_bytes": [len(blob)]}
        )

    return features_df.groupBy("tile").applyInPandas(
        build, "tile long, mvt binary, n_features long, n_bytes long"
    )


def roundtrip_rings(
    blobs_df: DataFrame, id_col: str = "polygon_id"
) -> DataFrame:
    """Decode ``tile_blobs`` output back to per-ring quantized
    coordinate rows (ring re-closed, matching the
    ``vector_tile_features`` shape) — the encode→decode oracle path:
    any command/zigzag/cursor bug breaks the coordinate hash."""

    def gen(batches):
        for pdf in batches:
            rows = {"tile": [], id_col: [], "ring_idx": [],
                    "coords_q": []}
            for tile, blob in zip(pdf["tile"], pdf["mvt"]):
                for layer in decode_tile(bytes(blob)):
                    for fid, ftype, rings in layer["features"]:
                        if ftype != POLYGON:
                            raise MvtFormatError("non-polygon feature")
                        for ri, r in enumerate(rings):
                            closed = np.vstack([r, r[:1]])
                            rows["tile"].append(tile)
                            rows[id_col].append(fid)
                            rows["ring_idx"].append(ri)
                            rows["coords_q"].append(
                                [int(v) for xy in closed for v in xy]
                            )
            yield pd.DataFrame(rows)

    return blobs_df.mapInPandas(
        gen,
        f"tile long, {id_col} long, ring_idx int, coords_q array<long>",
    )
