"""Mapbox Vector Tile codec (operators/mvt.py) — encoder pinned to
hand-assembled spec bytes, decoder the independent check."""

import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from sophox_spark.operators import mvt


SQUARE = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], np.int64)

# hand-derived wire bytes for encode_tile([(7, [SQUARE])], "L", 256):
# geometry: MoveTo(1)=0x09 zz(0,0)=00 00; LineTo(3)=0x1A
#   zz(10,0)=14 00, zz(0,10)=00 14, zz(-10,0)=13 00; ClosePath=0x0F
# feature: id 08 07, type 18 03, geom 22 0B <11 bytes>
# layer: version 78 02, name 0A 01 'L', feature 12 11 <17>, extent 28 80 02
# tile: layer field 1A 1B <27>
PINNED = bytes([
    0x1A, 0x1B,
    0x78, 0x02,
    0x0A, 0x01, 0x4C,
    0x12, 0x11,
    0x08, 0x07, 0x18, 0x03, 0x22, 0x0B,
    0x09, 0x00, 0x00,
    0x1A, 0x14, 0x00, 0x00, 0x14, 0x13, 0x00,
    0x0F,
    0x28, 0x80, 0x02,
])


class TestPinnedBytes:
    def test_encode_matches_hand_assembled(self):
        assert mvt.encode_tile([(7, [SQUARE])], "L", 256) == PINNED

    def test_decode_hand_assembled(self):
        layers = mvt.decode_tile(PINNED)
        assert len(layers) == 1
        lyr = layers[0]
        assert lyr["name"] == "L" and lyr["version"] == 2
        assert lyr["extent"] == 256
        (fid, ftype, rings), = lyr["features"]
        assert fid == 7 and ftype == mvt.POLYGON
        assert np.array_equal(rings[0], SQUARE)

    def test_closed_input_ring_drops_duplicate(self):
        closed = np.vstack([SQUARE, SQUARE[:1]])
        assert mvt.encode_tile([(7, [closed])], "L", 256) == PINNED


class TestRoundtrip:
    def test_multi_ring_multi_feature_cursor(self):
        rng = np.random.default_rng(4)
        feats = []
        for fid in range(5):
            rings = []
            for _ in range(1 + fid % 3):
                base = rng.integers(-500, 4500, 2)
                ring = base + np.array(
                    [[0, 0], [rng.integers(1, 50), 0],
                     [rng.integers(1, 50), rng.integers(1, 50)],
                     [0, rng.integers(1, 50)]])
                rings.append(ring.astype(np.int64))
            feats.append((fid * 3 + 1, rings))
        data = mvt.encode_tile(feats)
        lyr = mvt.decode_tile(data)[0]
        assert lyr["extent"] == 4096
        assert len(lyr["features"]) == 5
        for (fid, _t, rings), (efid, erings) in zip(
            lyr["features"], feats
        ):
            assert fid == efid and len(rings) == len(erings)
            for r, e in zip(rings, erings):
                assert np.array_equal(r, e)

    def test_negative_coordinates(self):
        # buffered tiles carry coords outside [0, extent)
        ring = np.array([[-64, -64], [100, -64], [100, 100], [-64, 100]],
                        np.int64)
        lyr = mvt.decode_tile(mvt.encode_tile([(1, [ring])]))[0]
        assert np.array_equal(lyr["features"][0][2][0], ring)


class TestFailLoud:
    def test_degenerate_ring(self):
        with pytest.raises(mvt.MvtFormatError, match="3 distinct"):
            mvt.encode_tile([(1, [np.array([[0, 0], [1, 1]])])])

    def test_truncated(self):
        with pytest.raises(mvt.MvtFormatError):
            mvt.decode_tile(PINNED[:-4] + b"\xff")

    def test_truncated_fixed32_field(self):
        # field 15, wire type 5 (fixed32) with only 2 payload bytes
        with pytest.raises(mvt.MvtFormatError, match="truncated fixed"):
            mvt.decode_tile(bytes([0x7D, 0x01, 0x02]))

    def test_truncated_fixed64_field(self):
        # field 15, wire type 1 (fixed64) with only 3 payload bytes
        with pytest.raises(mvt.MvtFormatError, match="truncated fixed"):
            mvt.decode_tile(bytes([0x79, 0x01, 0x02, 0x03]))

    def test_feature_id_outside_uint64(self):
        # a negative id once looped forever in the varint encoder, so the
        # call runs in a child process that a timeout can stop
        code = (
            "import numpy as np\n"
            "from sophox_spark.operators import mvt\n"
            "ring = np.array([[0, 0], [10, 0], [10, 10]])\n"
            "for fid in (-1, 2**64):\n"
            "    try:\n"
            "        mvt.encode_tile([(fid, [ring])])\n"
            "    except mvt.MvtFormatError as e:\n"
            "        print(e)\n"
        )
        root = str(Path(__file__).resolve().parents[1])
        env = {**os.environ, "PYTHONPATH": root}
        out = subprocess.run([sys.executable, "-c", code], env=env,
                             capture_output=True, text=True, timeout=120)
        assert out.returncode == 0, out.stderr
        assert out.stdout.splitlines() == [
            "feature id -1 is not a uint64",
            f"feature id {2**64} is not a uint64",
        ]

    def test_extent_outside_uint32(self):
        for extent in (-1, 1 << 32):
            with pytest.raises(mvt.MvtFormatError, match=f"extent {extent} is not a uint32"):
                mvt.encode_tile([(7, [SQUARE])], "L", extent)
        # the edges of the range still encode and decode
        for extent in (0, (1 << 32) - 1):
            (lyr,) = mvt.decode_tile(mvt.encode_tile([(7, [SQUARE])], "L", extent))
            assert lyr["extent"] == extent


def test_tile_blobs_and_roundtrip_spark(spark):
    import pandas as pd

    rows = [
        (100, 1, 0, [0, 0, 10, 0, 10, 10, 0, 10, 0, 0]),
        (100, 2, 0, [5, 5, 8, 5, 8, 8, 5, 8, 5, 5]),
        (200, 1, 0, [1, 1, 4, 1, 4, 4, 1, 4, 1, 1]),
    ]
    feats = spark.createDataFrame(
        pd.DataFrame(rows, columns=["tile", "polygon_id", "ring_idx",
                                    "coords_q"]))
    blobs = mvt.tile_blobs(feats)
    got = {r.tile: (r.n_features, bytes(r.mvt)) for r in blobs.collect()}
    assert got[100][0] == 2 and got[200][0] == 1
    # every blob independently decodes with the standalone parser
    for _n, blob in got.values():
        assert mvt.decode_tile(blob)[0]["version"] == 2
    back = mvt.roundtrip_rings(blobs)
    out = {(r.tile, r.polygon_id): list(r.coords_q)
           for r in back.collect()}
    assert out[(100, 1)] == [0, 0, 10, 0, 10, 10, 0, 10, 0, 0]
    assert out[(100, 2)] == [5, 5, 8, 5, 8, 8, 5, 8, 5, 5]
    assert out[(200, 1)] == [1, 1, 4, 1, 4, 4, 1, 4, 1, 1]


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])
