"""OsmChange XML diff source tests (sources/osc.py).

The parser is validated against a hand-written XML literal (independent of
the writer); the writer by roundtrip through that parser, including XML
escaping and gzip framing.
"""

import gzip

import numpy as np
import pandas as pd

from sophox_spark.sources import osc

HAND_XML = b"""<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="osmosis">
  <create>
    <node id="101" version="1" timestamp="2020-05-01T10:00:00Z" changeset="7"
          uid="3" user="alice &amp; bob" lat="51.5000001" lon="-0.1000009">
      <tag k="name" v="caf&#233; &lt;x&gt;"/>
      <tag k="amenity" v="cafe"/>
    </node>
  </create>
  <modify>
    <way id="202" version="5" timestamp="2020-05-01T10:01:00Z" changeset="8"
         uid="4" user="carol">
      <nd ref="101"/>
      <nd ref="102"/>
      <tag k="highway" v="residential"/>
    </way>
  </modify>
  <delete>
    <relation id="303" version="2" timestamp="2020-05-01T10:02:00Z"
              changeset="9" uid="5" user="dave">
      <member type="node" ref="101" role="admin_centre"/>
      <member type="way" ref="202" role=""/>
    </relation>
    <node id="104" version="9" lat="0.0000000" lon="10.0000000"/>
  </delete>
</osmChange>
"""


def test_parse_hand_written_literal():
    out = osc.parse_osc_bytes(HAND_XML, "042.osc")
    assert out["pos"].tolist() == [0, 1, 2, 3]
    assert out["action"].tolist() == ["create", "modify", "delete", "delete"]
    assert out["kind"].tolist() == ["node", "way", "relation", "node"]
    assert out["id"].tolist() == [101, 202, 303, 104]

    node = out.iloc[0]
    assert node["lat_s"] == "51.5000001" and node["lon_s"] == "-0.1000009"
    assert node["lat"] == 51.5000001
    assert node["user"] == "alice & bob"
    assert node["tags"] == {"name": "café <x>", "amenity": "cafe"}
    assert node["ts_s"] == "2020-05-01T10:00:00Z"

    way = out.iloc[1]
    assert way["refs"] == [101, 102]
    assert way["lat_s"] is None and way["members"] is None

    rel = out.iloc[2]
    assert rel["members"] == [
        {"type": "node", "ref": 101, "role": "admin_centre"},
        {"type": "way", "ref": 202, "role": ""},
    ]
    assert out.iloc[3]["version"] == 9 and out.iloc[3]["changeset"] == 0


def test_parse_gzipped():
    out = osc.parse_osc_bytes(gzip.compress(HAND_XML), "042.osc.gz")
    assert len(out) == 4 and out["file"].iloc[0] == "042.osc.gz"


def _changes_pdf():
    return pd.DataFrame(
        [
            {
                "action": "create", "kind": "node", "id": 1, "version": 1,
                "ts_s": "2021-01-01T00:00:00Z", "changeset": 5, "uid": 2,
                "user": 'ev&il "quoted" <user>', "lat_s": "12.3456789",
                "lon_s": "-170.0000001",
                "tags": {"name": 'a "b" & <c>', "note": "ümläut"},
                "refs": None, "members": None,
            },
            {
                "action": "create", "kind": "way", "id": 2, "version": 3,
                "ts_s": "2021-01-01T00:00:01Z", "changeset": 5, "uid": 2,
                "user": "w", "lat_s": None, "lon_s": None,
                "tags": {}, "refs": [9, 8, 7], "members": None,
            },
            {
                "action": "modify", "kind": "relation", "id": 3, "version": 2,
                "ts_s": "2021-01-01T00:00:02Z", "changeset": 6, "uid": 3,
                "user": "r", "lat_s": None, "lon_s": None,
                "tags": {"type": "route"}, "refs": None,
                "members": [{"type": "way", "ref": 2, "role": "forward"}],
            },
            {
                "action": "delete", "kind": "node", "id": 4, "version": 7,
                "ts_s": "2021-01-01T00:00:03Z", "changeset": 6, "uid": 3,
                "user": "d", "lat_s": "0.0000001", "lon_s": "0.0000002",
                "tags": {}, "refs": None, "members": None,
            },
        ]
    )


def test_writer_roundtrip_with_escaping(tmp_path):
    pdf = _changes_pdf()
    path = str(tmp_path / "000123.osc.gz")
    osc.write_osc(path, pdf)
    with open(path, "rb") as f:
        assert f.read(2) == b"\x1f\x8b"  # gzip by extension
    out = osc.parse_osc_bytes(open(path, "rb").read(), "000123.osc.gz")
    assert out["action"].tolist() == pdf["action"].tolist()
    assert out["id"].tolist() == pdf["id"].tolist()
    assert out.iloc[0]["user"] == pdf.iloc[0]["user"]
    assert out.iloc[0]["tags"] == pdf.iloc[0]["tags"]
    assert out.iloc[0]["lat_s"] == "12.3456789"
    assert out.iloc[1]["refs"] == [9, 8, 7]
    assert out.iloc[2]["members"] == pdf.iloc[2]["members"]

    # deterministic bytes (mtime=0): same input => identical file
    path2 = str(tmp_path / "again.osc.gz")
    osc.write_osc(path2, pdf)
    assert open(path, "rb").read() == open(path2, "rb").read()


def test_read_osc_spark(spark, tmp_path):
    rng = np.random.default_rng(5)
    n_files, per_file = 6, 40
    for seq in range(n_files):
        rows = []
        for j in range(per_file):
            i = seq * per_file + j
            rows.append(
                {
                    "action": osc.ACTIONS[int(rng.integers(0, 3))],
                    "kind": "node", "id": i, "version": 1 + i % 5,
                    "ts_s": "2022-02-02T00:00:00Z", "changeset": i % 9,
                    "uid": 1, "user": f"u{i % 3}",
                    "lat_s": f"{10 + i % 70}.{i % 10}00000{1 + i % 9}",
                    "lon_s": f"{i % 160}.000000{1 + i % 9}",
                    "tags": {"name": f"n{i}"} if i % 3 else {},
                    "refs": None, "members": None,
                }
            )
        osc.write_osc(str(tmp_path / f"{seq:09d}.osc.gz"), pd.DataFrame(rows))

    df = osc.read_osc(spark, str(tmp_path / "*.osc.gz"))
    got = df.toPandas()
    assert len(got) == n_files * per_file
    # one task per file => files fan out
    assert df.rdd.getNumPartitions() >= 1
    assert set(got["file"].unique()) == {f"{s:09d}.osc.gz" for s in range(n_files)}
    # pos is document order within each file
    g0 = got[got["file"] == "000000000.osc.gz"].sort_values("pos")
    assert g0["id"].tolist() == list(range(per_file))
    assert g0.iloc[7]["lat_s"] == f"{10 + 7 % 70}.{7 % 10}00000{1 + 7 % 9}"
    assert dict(g0.iloc[4]["tags"]) == {"name": "n4"}


def test_stream_osc_ingest_end_to_end(spark, tmp_path):
    """Replication-loop analog over real .osc.gz files: initial snapshot,
    three minute-diffs applied in sequence order by a binaryFile stream,
    then a fresh-checkpoint replay that must be a seqid-guarded no-op."""
    from sophox_spark.manifest import Manifest
    from sophox_spark.streaming import incremental, stream_jobs

    man = Manifest(spark, str(tmp_path / "manifest"))
    table = incremental.PartitionedSnapshotTable(
        spark, str(tmp_path / "tbl"), man, "nodes", keys=("kind", "id")
    )
    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "kind": ["node"] * 10,
                "id": range(10),
                "version": [1] * 10,
                "ts": pd.to_datetime([1_700_000_000] * 10, unit="s"),
                "name": [f"node {i}" for i in range(10)],
                "lat_s": ["10.0000001"] * 10,
                "lon_s": ["20.0000001"] * 10,
            }
        )
    )
    table.commit(base, seqid=0)

    osc_dir = tmp_path / "diffs"
    osc_dir.mkdir()

    def diff(seq, rows):
        osc.write_osc(str(osc_dir / f"{seq:09d}.osc.gz"), pd.DataFrame(rows))

    common = {"kind": "node", "changeset": 1, "uid": 1, "user": "sync",
              "refs": None, "members": None}
    ts = ["2024-01-01T00:00:01Z", "2024-01-01T00:00:02Z", "2024-01-01T00:00:03Z"]
    # seq1: modify node 2 (v2), create node 100
    diff(1, [
        dict(common, action="modify", id=2, version=2, ts_s=ts[0],
             lat_s="11.0000001", lon_s="21.0000001", tags={"name": "two@1"}),
        dict(common, action="create", id=100, version=1, ts_s=ts[0],
             lat_s="12.0000001", lon_s="22.0000001", tags={"name": "hundred"}),
    ])
    # seq2: delete node 3, modify node 2 again (v3)
    diff(2, [
        dict(common, action="modify", id=2, version=3, ts_s=ts[1],
             lat_s="11.5000001", lon_s="21.5000001", tags={"name": "two@2"}),
        dict(common, action="delete", id=3, version=2, ts_s=ts[1],
             lat_s=None, lon_s=None, tags={}),
    ])
    # seq3: delete the created node 100, and create a WAY with id=2 —
    # OSM id spaces overlap per kind, so this must NOT collide with
    # node 2 (the upsert keys on (kind, id))
    diff(3, [
        dict(common, action="delete", id=100, version=2, ts_s=ts[2],
             lat_s=None, lon_s=None, tags={}),
        dict(common, action="create", kind="way", id=2, version=1, ts_s=ts[2],
             lat_s=None, lon_s=None, tags={"name": "way two"},
             refs=[0, 1]),
    ])

    q = stream_jobs.stream_osc_ingest(
        spark, str(osc_dir), table, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {(r.kind, r.id): (r.version, r.name) for r in table.read().collect()}
    want = {("node", i): (1, f"node {i}") for i in range(10) if i not in (2, 3)}
    want[("node", 2)] = (3, "two@2")
    want[("way", 2)] = (1, "way two")
    assert got == want

    # fresh checkpoint => all files replay; seqid guard makes it a no-op
    v_before = table.current_version()
    q2 = stream_jobs.stream_osc_ingest(
        spark, str(osc_dir), table, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert table.current_version() == v_before
