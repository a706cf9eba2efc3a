"""OSM PBF codec tests (sources/pbf.py).

The reader is validated against HAND-ENCODED byte literals assembled from
the published spec (not by the repo's own writer), so a symmetric
writer+reader bug cannot cancel out; the writer is then validated by exact
roundtrip through the literal-verified reader.
"""

import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from sophox_spark.sources import pbf


def _nodes_pdf(n=50):
    rng = np.random.default_rng(7)
    ids = np.sort(rng.choice(10**9, n, replace=False)).astype(np.int64)
    return pd.DataFrame(
        {
            "id": ids,
            "version": rng.integers(1, 20, n).astype(np.int64),
            "user": [f"user_{i % 7}" for i in range(n)],
            "ts": pd.to_datetime(rng.integers(10**9, 17 * 10**8, n), unit="s"),
            "changeset": rng.integers(1, 10**8, n).astype(np.int64),
            "deleted": (np.arange(n) % 11) == 0,
            # negative lons + >90 span exercise zigzag and delta coding
            "lon_nano": rng.integers(-179_999_999, 179_999_999, n) * 100,
            "lat_nano": rng.integers(-89_999_999, 89_999_999, n) * 100,
            "tags": [
                {} if i % 5 == 0 else {"name": f"n{i}", "amenity": "cafe"}
                for i in range(n)
            ],
        }
    )


def _ways_pdf(n=20):
    rng = np.random.default_rng(8)
    return pd.DataFrame(
        {
            "id": np.arange(1, n + 1, dtype=np.int64) * 3,
            "version": np.ones(n, np.int64),
            "user": ["mapper"] * n,
            "ts": pd.to_datetime([1_600_000_000 + i for i in range(n)], unit="s"),
            "changeset": np.arange(n, dtype=np.int64) + 5,
            "deleted": np.zeros(n, bool),
            "refs": [rng.choice(10**7, 4).astype(np.int64).tolist() for _ in range(n)],
            "tags": [{"highway": "residential"}] * n,
        }
    )


def _rels_pdf(n=10):
    return pd.DataFrame(
        {
            "id": np.arange(1, n + 1, dtype=np.int64) * 7,
            "version": np.full(n, 2, np.int64),
            "user": ["rel_editor"] * n,
            "ts": pd.to_datetime([1_650_000_000] * n, unit="s"),
            "changeset": np.full(n, 99, np.int64),
            "deleted": np.zeros(n, bool),
            "members": [
                [
                    {"type": "n", "ref": 11 + i, "role": "admin_centre"},
                    {"type": "w", "ref": 21 + i, "role": "outer"},
                    {"type": "r", "ref": 31 + i, "role": ""},
                ]
                for i in range(n)
            ],
            "tags": [{"type": "boundary"}] * n,
        }
    )


# ---------------------------------------------------------------------------
# reader vs hand-encoded literals (independent of the writer)
# ---------------------------------------------------------------------------


def test_decode_hand_encoded_dense_block():
    """Two DenseNodes hand-assembled byte-for-byte from the format spec:
    ids 10,12; granularity 100; lat_nano 500000000/500000100;
    lon_nano -100/0; node 10 tagged amenity=cafe, versions 1/2,
    timestamps 1000s/1001s, changesets 5/5, user 'alice' both."""
    st = (
        b"\x0a\x00"                      # ""
        b"\x0a\x07amenity"               # 1
        b"\x0a\x04cafe"                  # 2
        b"\x0a\x05alice"                 # 3
    )
    dense_info = (
        b"\x0a\x02\x01\x02"              # version packed [1,2]
        b"\x12\x03\xd0\x0f\x02"          # ts delta zz [2000,2] => [1000,1001]
        b"\x1a\x02\x0a\x00"              # changeset delta zz [10,0] => [5,5]
        b"\x2a\x02\x06\x00"              # user_sid delta zz [6,0] => [3,3]
        b"\x32\x02\x01\x01"              # visible [1,1]
    )
    dense = (
        b"\x0a\x02\x14\x04"              # ids delta zz [20,4] => [10,12]
        + b"\x2a" + bytes([len(dense_info)]) + dense_info
        + b"\x42\x05\x80\xad\xe2\x04\x02"  # lat delta zz => [5000000,5000001]
        + b"\x4a\x02\x01\x02"            # lon delta zz [1,2] => [-1,0]
        + b"\x52\x04\x01\x02\x00\x00"    # keys_vals [amenity,cafe,0][0]
    )
    group = b"\x12" + bytes([len(dense)]) + dense
    block = (
        b"\x0a" + bytes([len(st)]) + st
        + b"\x12" + bytes([len(group)]) + group
        + b"\x88\x01\x64"                # granularity = 100
        + b"\x90\x01\xe8\x07"            # date_granularity = 1000
    )
    out = pbf.decode_block(block)
    assert out["id"].tolist() == [10, 12]
    assert out["lat_nano"].tolist() == [500000000, 500000100]
    assert out["lon_nano"].tolist() == [-100, 0]
    assert out["version"].tolist() == [1, 2]
    assert out["changeset"].tolist() == [5, 5]
    assert out["user"].tolist() == ["alice", "alice"]
    assert out["ts"].tolist() == [
        pd.Timestamp("1970-01-01 00:16:40"),
        pd.Timestamp("1970-01-01 00:16:41"),
    ]
    assert out["tags"].tolist() == [{"amenity": "cafe"}, {}]
    assert out["deleted"].tolist() == [False, False]
    assert np.allclose(out["lat"], [0.5, 0.5000001])


def test_decode_hand_encoded_file_framing(tmp_path):
    """Framing + zlib blob hand-built: header blob then one raw data blob."""
    header_block = b"\x22\x0eOsmSchema-V0.6"  # required_features
    blob1 = b"\x0a" + bytes([len(header_block)]) + header_block  # raw
    bh1 = b"\x0a\x09OSMHeader" + b"\x18" + bytes([len(blob1)])

    # a minimal data block: one way id=5, refs [3,1], no tags
    st = b"\x0a\x00\x0a\x03bob"
    info = b"\x08\x01\x10\x00\x18\x00\x20\x00\x28\x01\x30\x01"
    way = (
        b"\x08\x05"
        + b"\x22" + bytes([len(info)]) + info
        + b"\x42\x02\x06\x03"            # refs delta zz [6,3] => [3,1]...
    )
    # zz(3)=6 then delta -2 => zz(-2)=3 gives refs [3,1]
    group = b"\x1a" + bytes([len(way)]) + way
    block = b"\x0a" + bytes([len(st)]) + st + b"\x12" + bytes([len(group)]) + group
    z = zlib.compress(block)
    blob2 = b"\x10" + bytes([len(block)]) + b"\x1a" + bytes([len(z)]) + z
    bh2 = b"\x0a\x07OSMData" + b"\x18" + bytes([len(blob2)])

    path = str(tmp_path / "hand.osm.pbf")
    with open(path, "wb") as f:
        f.write(struct.pack(">I", len(bh1)) + bh1 + blob1)
        f.write(struct.pack(">I", len(bh2)) + bh2 + blob2)

    spans = pbf.index_blob_spans(path)
    assert [s[2] for s in spans] == ["OSMHeader", "OSMData"]
    out = pbf.decode_file(path)
    assert len(out) == 1
    row = out.iloc[0]
    assert row["kind"] == "way" and row["id"] == 5
    assert row["refs"] == [3, 1]
    assert row["user"] == "bob" and row["version"] == 1 and not row["deleted"]


def test_vectorized_varint_roundtrip():
    rng = np.random.default_rng(3)
    vals = np.concatenate(
        [
            rng.integers(0, 128, 100, dtype=np.uint64),
            rng.integers(0, 2**32, 100, dtype=np.uint64),
            rng.integers(0, 2**63 - 1, 100, dtype=np.uint64),
            np.array([0, 1, 127, 128, 2**64 - 1, 2**63], np.uint64),
        ]
    )
    payload = b"".join(pbf._varint(int(v)) for v in vals)
    np.testing.assert_array_equal(pbf.decode_packed_u64(payload), vals)


def test_zigzag_roundtrip():
    vals = np.array([0, -1, 1, -2**62, 2**62, 12345, -98765], np.int64)
    payload = b"".join(pbf._varint(pbf._zigzag(int(v))) for v in vals)
    out = pbf._unzigzag64(pbf.decode_packed_u64(payload))
    np.testing.assert_array_equal(out, vals)


# ---------------------------------------------------------------------------
# writer → reader roundtrip
# ---------------------------------------------------------------------------


def _assert_nodes_roundtrip(orig: pd.DataFrame, got: pd.DataFrame):
    got = got.sort_values("id").reset_index(drop=True)
    orig = orig.sort_values("id").reset_index(drop=True)
    for col in ["id", "version", "changeset", "lon_nano", "lat_nano"]:
        np.testing.assert_array_equal(
            got[col].to_numpy(np.int64), orig[col].to_numpy(np.int64), err_msg=col
        )
    assert got["user"].tolist() == orig["user"].tolist()
    assert got["deleted"].tolist() == orig["deleted"].tolist()
    assert got["tags"].tolist() == orig["tags"].tolist()
    assert (got["ts"] == orig["ts"].dt.floor("s")).all()


@pytest.mark.filterwarnings("error::FutureWarning")
def test_roundtrip_all_kinds(tmp_path):
    path = str(tmp_path / "rt.osm.pbf")
    nodes, ways, rels = _nodes_pdf(), _ways_pdf(), _rels_pdf()
    n_blobs = pbf.write_pbf(path, nodes, ways, rels, block_size=16)
    assert n_blobs == 4 + 2 + 1  # ceil(50/16) + ceil(20/16) + ceil(10/16)
    out = pbf.decode_file(path)
    assert len(out) == 80
    # node, way and relation blocks concatenate to fixed dtypes, whatever
    # pandas infers for all-NA columns
    assert {c: str(t) for c, t in out.dtypes.items()} == {
        "kind": "object", "id": "int64", "version": "int64", "user": "object",
        "ts": "datetime64[ns]", "changeset": "int64", "deleted": "bool",
        "lon_nano": "Int64", "lat_nano": "Int64", "lon": "float64",
        "lat": "float64", "tags": "object", "refs": "object", "members": "object",
    }

    _assert_nodes_roundtrip(nodes, out[out["kind"] == "node"])

    w = out[out["kind"] == "way"].sort_values("id").reset_index(drop=True)
    assert w["refs"].tolist() == ways["refs"].tolist()
    assert w["tags"].tolist() == ways["tags"].tolist()
    assert w["changeset"].tolist() == ways["changeset"].tolist()
    assert w["lon_nano"].isna().all()

    r = out[out["kind"] == "relation"].sort_values("id").reset_index(drop=True)
    assert r["members"].tolist() == rels["members"].tolist()
    assert r["user"].tolist() == rels["user"].tolist()


def test_roundtrip_uncompressed_and_granularity_one(tmp_path):
    path = str(tmp_path / "raw.osm.pbf")
    nodes = _nodes_pdf(10)
    nodes["lon_nano"] = nodes["lon_nano"] + 7  # not divisible by 100
    with pytest.raises(ValueError):
        pbf.write_pbf(path, nodes)
    pbf.write_pbf(path, nodes, granularity=1, compress=False)
    out = pbf.decode_file(path)
    _assert_nodes_roundtrip(nodes, out)


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------


def test_read_pbf_spark(spark, tmp_path):
    path = str(tmp_path / "spark.osm.pbf")
    nodes, ways, rels = _nodes_pdf(200), _ways_pdf(30), _rels_pdf(10)
    pbf.write_pbf(path, nodes, ways, rels, block_size=32)

    df = pbf.read_pbf(spark, path, blob_partitions=4)
    assert df.rdd.getNumPartitions() == 4  # parallel block scan (S2)
    got = df.toPandas()
    assert len(got) == 240

    g_nodes = got[got["kind"] == "node"].copy()
    g_nodes["tags"] = g_nodes["tags"].map(lambda d: dict(d) if d else {})
    _assert_nodes_roundtrip(nodes, g_nodes)

    g_ways = got[got["kind"] == "way"].sort_values("id").reset_index(drop=True)
    assert [list(r) for r in g_ways["refs"]] == ways["refs"].tolist()

    g_rels = got[got["kind"] == "relation"].sort_values("id").reset_index(drop=True)
    first = g_rels.iloc[0]["members"]
    assert [m["role"] for m in first] == ["admin_centre", "outer", ""]
    assert [m["type"] for m in first] == ["n", "w", "r"]

    # glob over a directory of files also works
    path2 = str(tmp_path / "spark2.osm.pbf")
    pbf.write_pbf(path2, _nodes_pdf(10))
    both = pbf.read_pbf(spark, str(tmp_path / "*.osm.pbf"), blob_partitions=2)
    assert both.count() == 250


def test_read_pbf_missing_path_fails_loudly(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        pbf.read_pbf(spark, str(tmp_path / "nope-[1].osm.pbf"))
