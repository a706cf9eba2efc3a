"""Incremental ingestion semantics (ST1-ST8): idempotent replay,
in-batch dedup, manifest resume, relation-centroid fixpoint."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sophox_spark.manifest import Manifest
from sophox_spark.operators import osm_geometry
from sophox_spark.sources import synth
from sophox_spark.streaming import incremental

from tests.test_osm_pipeline import NODES_SCHEMA, RELS_SCHEMA, WAYS_SCHEMA

CHANGES_SCHEMA = (
    "seqid long, op string, id long, version int, user string, ts timestamp, "
    "lon double, lat double, tags map<string,string>"
)


@pytest.fixture()
def changes(spark):
    nodes_pdf = synth.osm_nodes_pdf(100)
    return spark.createDataFrame(synth.changes_pdf(nodes_pdf, 5), CHANGES_SCHEMA).cache()


def oracle_state(changes_pdf):
    """Sequential replay oracle: last write (by seqid, version, ts) wins;
    deletes remove."""
    state = {}
    for _, r in changes_pdf.sort_values(["seqid", "version", "ts"]).iterrows():
        if r["op"] == "delete":
            state.pop(r["id"], None)
        else:
            state[r["id"]] = (r["version"], r["tags"]["name"])
    return state


class TestApplyChanges:
    def test_matches_sequential_oracle(self, spark, changes, tmp_path):
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl"), man, "nodes")
        stats = incremental.apply_change_batches(spark, table, changes)
        assert stats["applied"] == [1000, 1001, 1002, 1003, 1004]
        got = {
            r.id: (r.version, r.tags["name"]) for r in table.read().collect()
        }
        want = oracle_state(changes.toPandas())
        assert got == want

    def test_in_batch_dup_latest_wins(self, spark, changes, tmp_path):
        # synth adds a same-seqid duplicate with higher version and
        # name 'dup-win-{b}' — that row must win within its batch
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl"), man, "nodes")
        incremental.apply_change_batches(spark, table, changes.filter("seqid = 1000"))
        pdf = changes.filter("seqid = 1000").toPandas()
        dup_id = pdf[pdf["tags"].map(lambda t: t["name"].startswith("dup-win"))]["id"].iloc[0]
        row = table.read().filter(F.col("id") == int(dup_id)).collect()
        if row:  # unless the dup row op was superseded by a delete
            assert row[0].tags["name"].startswith("dup-win")

    def test_replay_is_noop(self, spark, changes, tmp_path):
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl"), man, "nodes")
        incremental.apply_change_batches(spark, table, changes)
        before = sorted(map(tuple, table.read().drop("tags").collect()))
        v_before = table.current_version()
        # the change stream itself contains a replayed seqid 1001 —
        # re-apply everything: all batches must skip
        stats = incremental.apply_change_batches(spark, table, changes)
        assert stats["applied"] == []
        assert stats["skipped"] == [1000, 1001, 1002, 1003, 1004]
        assert table.current_version() == v_before
        after = sorted(map(tuple, table.read().drop("tags").collect()))
        assert before == after

    def test_resume_mid_stream(self, spark, changes, tmp_path):
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl"), man, "nodes")
        incremental.apply_change_batches(spark, table, changes.filter("seqid <= 1002"))
        # "restart": new objects, same manifest path → resumes after 1002
        man2 = Manifest(spark, str(tmp_path / "manifest"))
        table2 = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl"), man2, "nodes")
        assert man2.last_seqid("table:nodes") == 1002
        stats = incremental.apply_change_batches(spark, table2, changes)
        assert stats["applied"] == [1003, 1004]
        got = {r.id: (r.version, r.tags["name"]) for r in table2.read().collect()}
        assert got == oracle_state(changes.toPandas())

    def test_manifest_metrics(self, spark, changes, tmp_path):
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl"), man, "nodes")
        incremental.apply_change_batches(spark, table, changes)
        m = man.metrics("table:nodes").toPandas()
        assert len(m) == 5  # one lineage row per committed version
        assert (m["rows"] > 0).all()


class TestFixpoint:
    def test_chain_and_cycle(self, spark):
        nodes_pdf = synth.osm_nodes_pdf(300)
        ways_pdf = synth.osm_ways_pdf(nodes_pdf, 80)
        rels_pdf = synth.osm_relations_pdf(nodes_pdf, ways_pdf, 30)
        nodes = spark.createDataFrame(nodes_pdf, NODES_SCHEMA)
        ways = spark.createDataFrame(ways_pdf, WAYS_SCHEMA)
        rels = spark.createDataFrame(rels_pdf, RELS_SCHEMA)
        way_locs = osm_geometry.way_locations(nodes, ways)
        out = incremental.relation_centroids_fixpoint(nodes, way_locs, rels)
        got = {r.rel_id: (r.lon, r.lat) for r in out.collect()}
        # rel 21 ↔ 22 cycle (members reference each other) never resolves
        assert 21 not in got and 22 not in got
        # oracle: iterative resolution in plain python
        node_loc = nodes_pdf.set_index("id")[["lon", "lat"]]
        wl = {r.way_id: (r.rep_lon, r.rep_lat)
              for r in way_locs.filter("NOT loc_error").collect()}
        resolved = {}
        for _ in range(30):
            progress = False
            for _, r in rels_pdf.iterrows():
                if r["id"] in resolved:
                    continue
                pts = []
                ok = True
                for m in r["members"]:
                    if m["type"] == "n" and m["ref"] in node_loc.index:
                        lon, lat = node_loc.loc[m["ref"]]
                        if pd.isna(lon) or pd.isna(lat):
                            ok = False
                            break
                        pts.append((lon, lat))
                    elif m["type"] == "w" and m["ref"] in wl:
                        pts.append(wl[m["ref"]])
                    elif m["type"] == "r" and m["ref"] in resolved:
                        pts.append(resolved[m["ref"]])
                    else:
                        ok = False
                        break
                if ok and pts:
                    resolved[r["id"]] = (
                        sum(p[0] for p in pts) / len(pts),
                        sum(p[1] for p in pts) / len(pts),
                    )
                    progress = True
            if not progress:
                break
        assert set(got) == set(resolved)
        for rid, (lon, lat) in resolved.items():
            assert got[rid][0] == pytest.approx(lon)
            assert got[rid][1] == pytest.approx(lat)


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


class TestVoteStatements:
    """Vote-preservation semantics (RdfUpdateHandler.py:52: the upsert
    DELETE excludes osmm:task; vote-server writes the task triples)."""

    def test_votes_survive_reimport(self, spark):
        from sophox_spark.operators import osm2ttl
        from sophox_spark.streaming import votes as votes_mod

        nodes_pdf = synth.osm_nodes_pdf(60)
        nodes = spark.createDataFrame(nodes_pdf, NODES_SCHEMA)
        base = osm2ttl.node_statements(nodes).select("subject", "ord", "stmt")
        votes = spark.createDataFrame(
            pd.DataFrame(
                {"subject_type": ["n", "n"], "subject_id": [1, 2],
                 "user": ["alice", "bob"], "direction": ["up", "down"]}
            ),
            "subject_type string, subject_id long, user string, direction string",
        )
        vrows = votes_mod.vote_statements(votes)
        with_votes = base.unionByName(vrows)
        # re-import nodes 1 and 2 (same content): votes must survive,
        # other statements replaced exactly once
        reimport = osm2ttl.node_statements(nodes.filter("id <= 2")).select(
            "subject", "ord", "stmt"
        )
        merged = votes_mod.merge_statements(with_votes, reimport)
        got_votes = merged.filter("stmt LIKE 'osmm:task %'").collect()
        assert {r.stmt for r in got_votes} == {
            'osmm:task "alice:up"', 'osmm:task "bob:down"'
        }
        # statement multiset identical to original+votes (idempotence)
        a = sorted((r.subject, r.ord, r.stmt) for r in merged.collect())
        b = sorted((r.subject, r.ord, r.stmt) for r in with_votes.collect())
        assert a == b
        # applying the same batch twice changes nothing
        again = votes_mod.merge_statements(merged, reimport)
        c = sorted((r.subject, r.ord, r.stmt) for r in again.collect())
        assert c == a


class TestPartitionedSnapshotTable:
    """Delta commits: a batch rewrites only buckets holding its keys;
    every other bucket's files stay byte-identical across the commit."""

    @staticmethod
    def _file_bytes(root):
        import glob
        import os

        return {
            p: open(p, "rb").read()
            for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        }

    def test_matches_sequential_oracle(self, spark, changes, tmp_path):
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl"), man, "nodes", n_buckets=8
        )
        stats = incremental.apply_change_batches(spark, table, changes)
        assert stats["applied"] == [1000, 1001, 1002, 1003, 1004]
        got = {r.id: (r.version, r.tags["name"]) for r in table.read().collect()}
        assert got == oracle_state(changes.toPandas())

    def test_untouched_buckets_byte_identical(self, spark, changes, tmp_path):
        import os

        man = Manifest(spark, str(tmp_path / "manifest"))
        root = str(tmp_path / "tbl")
        table = incremental.PartitionedSnapshotTable(
            spark, root, man, "nodes", n_buckets=8
        )
        incremental.apply_change_batches(spark, table, changes.filter("seqid = 1000"))
        before = self._file_bytes(root)
        v1_buckets = set(table.bucket_versions())
        # second batch: a single-key update → at most one bucket rewrites
        one = changes.filter("seqid = 1001 AND op <> 'delete'").limit(1)
        incremental.apply_change_batches(spark, table, one)
        after = self._file_bytes(root)
        # every v=1 file is still present with identical bytes
        for p, b in before.items():
            assert after[p] == b, p
        # the new version directory holds ONLY the touched bucket
        new_dirs = {os.path.dirname(p) for p in set(after) - set(before)}
        new_buckets = {d.split("__bucket=")[1] for d in new_dirs}
        assert len(new_buckets) == 1
        # snapshot still reads: untouched buckets from v1, touched from v2
        m = table.bucket_versions()
        assert set(m) == v1_buckets | {int(next(iter(new_buckets)))}
        assert sorted(set(m.values())) in ([1, 2], [2])

    def test_manifest_compaction_bounds_read_cost(self, spark, tmp_path):
        """200 delta commits: snapshot rows cap what bucket_versions()
        collects at O(compact_every), and the reconstructed state is
        exact. Read cost must NOT grow with commit history."""
        import pandas as pd

        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl"), man, "t", n_buckets=4, compact_every=8
        )
        n_commits = 200
        for i in range(1, n_commits + 1):
            batch = spark.createDataFrame(
                pd.DataFrame({"id": [i % 7], "val": [i]}), "id long, val long"
            )
            table.commit_batch(batch, seqid=i)
        # exactness: last writer wins per key — checked through a FRESH
        # handle (cold manifest read via the snapshot row), like a
        # separate reader process would
        reader = incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl"), man, "t", n_buckets=4, compact_every=8
        )
        got = {r.id: r.val for r in reader.read().collect()}
        want = {}
        for i in range(1, n_commits + 1):
            want[i % 7] = i
        assert got == want
        # bounded read: only the latest snap row + deltas after it
        units = table._read_units()
        assert len(units) <= table.compact_every + 1, units
        assert any(u.startswith("snap") for u in units)
        # total manifest history really is 200+ rows — we didn't compact
        # it away, we just stopped READING all of it
        assert len(man.completed_units("table:t")) >= n_commits
        assert table.current_version() == n_commits

    def test_read_over_listing_threshold_runs_no_listing_job(self, spark, tmp_path, jobs_of):
        """A read of more bucket dirs than Spark's parallel-listing
        threshold (32) lists them on the driver only — no listing job —
        and returns every row; the threshold conf is left as it was."""
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        before = spark.conf.get(key, None)
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl"), man, "t", n_buckets=48
        )
        schema = "id long, val long"
        table.commit(spark.createDataFrame([(i, i) for i in range(400)], schema), seqid=1)
        table.commit_batch(spark.createDataFrame([(5, -5), (400, 4)], schema), seqid=2)
        assert len(table.bucket_versions()) > 32
        snap, jobs = jobs_of(table.read)
        assert not [d for d in jobs if d.startswith("Listing leaf files")], jobs
        want = sorted([(i, -5 if i == 5 else i) for i in range(400)] + [(400, 4)])
        assert sorted((r.id, r.val) for r in snap.collect()) == want
        assert spark.conf.get(key, None) == before

    def test_compaction_replay_still_noop(self, spark, changes, tmp_path):
        """Seqid-guarded replay stays a no-op across snapshot rows."""
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl"), man, "nodes", n_buckets=8,
            compact_every=2,
        )
        incremental.apply_change_batches(spark, table, changes)
        state = {r.id: (r.version, r.tags["name"]) for r in table.read().collect()}
        stats = incremental.apply_change_batches(spark, table, changes)
        assert stats["applied"] == [] and len(stats["skipped"]) == 5
        assert {
            r.id: (r.version, r.tags["name"]) for r in table.read().collect()
        } == state

    def test_replay_is_noop(self, spark, changes, tmp_path):
        man = Manifest(spark, str(tmp_path / "manifest"))
        root = str(tmp_path / "tbl")
        table = incremental.PartitionedSnapshotTable(
            spark, root, man, "nodes", n_buckets=8
        )
        incremental.apply_change_batches(spark, table, changes)
        before = self._file_bytes(root)
        state = {r.id: (r.version, r.tags["name"]) for r in table.read().collect()}
        stats = incremental.apply_change_batches(spark, table, changes)
        assert stats["applied"] == [] and len(stats["skipped"]) == 5
        assert self._file_bytes(root) == before
        assert {
            r.id: (r.version, r.tags["name"]) for r in table.read().collect()
        } == state


class TestOneSnapshotTable:
    """The table owns its merge keys, and a commit counts the rows it
    writes instead of reading its own version back."""

    @staticmethod
    def _rows_in(version_dir):
        import glob
        import os

        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(version_dir, "**", "*.parquet"), recursive=True)
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def test_kind_id_keys_keep_both_kinds(self, spark, tmp_path):
        from sophox_spark.streaming import stream_jobs

        schema = "seqid long, op string, kind string, id long, version int, ts timestamp, name string"
        t0 = pd.Timestamp("2024-01-01")
        changes = spark.createDataFrame(
            pd.DataFrame(
                {
                    "seqid": [1, 1, 2],
                    "op": ["upsert"] * 3,
                    "kind": ["node", "way", "node"],
                    "id": [5, 5, 5],
                    "version": [1, 1, 2],
                    "ts": [t0, t0, t0 + pd.Timedelta(seconds=1)],
                    "name": ["node five", "way five", "node five v2"],
                }
            ),
            schema,
        )
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl"), man, "osm", keys=("kind", "id"), n_buckets=8
        )
        stats = incremental.apply_change_batches(spark, table, changes)
        assert stats["applied"] == [1, 2]
        got = {(r.kind, r.id): (r.version, r.name) for r in table.read().collect()}
        assert got == {("node", 5): (2, "node five v2"), ("way", 5): (1, "way five")}

        # an id-keyed table would merge a way into the node with its id
        id_keyed = incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl_id"), man, "osm_id"
        )
        (tmp_path / "diffs").mkdir()
        active = list(spark.streams.active)
        with pytest.raises(ValueError, match="kind"):
            stream_jobs.stream_osc_ingest(
                spark, str(tmp_path / "diffs"), id_keyed, str(tmp_path / "ckpt")
            )
        assert list(spark.streams.active) == active
        assert not (tmp_path / "ckpt").exists()

    def test_commit_counts_rows_as_written(self, spark, tmp_path, monkeypatch):
        from pyspark.sql.readwriter import DataFrameReader

        root = str(tmp_path / "tbl")
        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(spark, root, man, "t", n_buckets=4)
        reads = []
        real_parquet = DataFrameReader.parquet

        def spy(self, *paths, **kw):
            reads.extend(paths)
            return real_parquet(self, *paths, **kw)

        monkeypatch.setattr(DataFrameReader, "parquet", spy)
        schema = "id long, val long, __del boolean"

        def batch(rows):
            return spark.createDataFrame(pd.DataFrame(rows, columns=["id", "val", "__del"]), schema)

        def committed(v, commit):
            reads.clear()
            assert commit() == v
            own = f"{root}/v={v}"
            assert not [p for p in reads if p == own or p.startswith(own + "/")], reads
            row = man.read().filter(F.col("unit").startswith(f"v{v}@")).collect()
            assert len(row) == 1
            assert row[0].row_count == self._rows_in(own)
            return row[0]

        state = {i: i for i in range(20)}
        committed(1, lambda: table.commit_batch(
            batch([(i, i, False) for i in state]), seqid=1, delete_col="__del"))
        updates = [(0, 100, False), (1, 101, False), (50, 150, False), (2, None, True)]
        committed(2, lambda: table.commit_batch(batch(updates), seqid=2, delete_col="__del"))
        for i, val, dead in updates:
            state.pop(i) if dead else state.__setitem__(i, val)

        # delete every key of one bucket: the version records 0 rows and
        # the bucket's older rows stay gone
        b = sorted(table.bucket_versions())[0]
        gone = [r.id for r in spark.read.parquet(f"{root}/v={table.bucket_versions()[b]}/__bucket={b}").collect()]
        assert gone
        row = committed(3, lambda: table.commit_batch(
            batch([(i, None, True) for i in gone]), seqid=3, delete_col="__del"))
        assert row.unit == f"v3@{b}" and row.row_count == 0
        for i in gone:
            state.pop(i)
        fresh = incremental.PartitionedSnapshotTable(spark, root, man, "t", n_buckets=4)
        for t in (table, fresh):
            assert {r.id: r.val for r in t.read().collect()} == state

        # a full replace rewrites every bucket and counts the whole table
        full = spark.createDataFrame(pd.DataFrame({"id": [7, 8], "val": [1, 2]}), "id long, val long")
        row = committed(4, lambda: table.commit(full, seqid=4))
        assert row.unit == "v4@0,1,2,3" and row.row_count == 2
        assert {r.id: r.val for r in table.read().collect()} == {7: 1, 8: 2}


class TestCommitPath:
    """A delta commit does only the work its data needs: one file per
    touched bucket, a fixed small number of Spark jobs, no job to read
    the snapshot or to append a manifest row."""

    SCHEMA = "id long, val long"

    @staticmethod
    def _batch(spark, ids, val):
        return spark.createDataFrame(
            pd.DataFrame({"id": list(ids), "val": [val] * len(ids)}), TestCommitPath.SCHEMA
        )

    def _table(self, spark, tmp_path, **kw):
        man = Manifest(spark, str(tmp_path / "manifest"))
        return incremental.PartitionedSnapshotTable(
            spark, str(tmp_path / "tbl"), man, "t", n_buckets=16, **kw
        )

    def test_one_file_per_bucket_dir(self, spark, tmp_path):
        import glob
        import os

        table = self._table(spark, tmp_path)
        for i in range(1, 8):
            # 8 input partitions spread over every bucket
            table.commit_batch(self._batch(spark, range(i * 37, i * 37 + 300), i), seqid=i)
        table.commit(self._batch(spark, range(500), 0), seqid=8)
        dirs = glob.glob(str(tmp_path / "tbl" / "v=*" / "__bucket=*"))
        assert len(dirs) >= 8 * 16
        files = {d: len(glob.glob(os.path.join(d, "*.parquet"))) for d in dirs}
        assert set(files.values()) == {1}, files

    def test_jobs_of_warm_commit_and_read(self, spark, tmp_path, jobs_of):
        """A warm ``commit_batch`` of an in-memory batch runs at most 4
        jobs (the bucket probe, the batch-key broadcast, the shuffle by
        bucket and the write), and ``read()`` runs none."""
        table = self._table(spark, tmp_path)
        table.commit_batch(self._batch(spark, range(200), 0), seqid=1)
        for i in range(2, 5):
            v, jobs = jobs_of(lambda: table.commit_batch(
                self._batch(spark, range(i * 10, i * 10 + 50), i), seqid=i))
            assert v == i
            assert len(jobs) <= 4, jobs
            snap, jobs = jobs_of(table.read)
            assert jobs == []
        assert snap.count() == 200

    def test_fresh_and_refreshed_handles_read_same_rows(self, spark, tmp_path):
        table = self._table(spark, tmp_path, compact_every=3)
        want = {}
        for i in range(1, 6):
            ids = range(i * 13, i * 13 + 40)
            table.commit_batch(self._batch(spark, ids, i), seqid=i)
            want.update({k: i for k in ids})
        fresh = self._table(spark, tmp_path, compact_every=3)
        refreshed = self._table(spark, tmp_path, compact_every=3)
        refreshed.read()
        refreshed.refresh()
        for t in (table, fresh, refreshed):
            assert {r.id: r.val for r in t.read().collect()} == want
            assert t.read().schema == table.read().schema

    def test_duplicate_keys_merge_like_deduplicated(self, spark, tmp_path):
        schema = "id long, val long, __del boolean"
        rows = [(2, 20, False), (5, 50, False)] + [(1, None, True)] * 3 + [(3, None, True)] * 2
        results = []
        for name, batch_rows in (("dups", rows), ("dedup", sorted(set(rows), key=str))):
            t = incremental.PartitionedSnapshotTable(
                spark, str(tmp_path / name), Manifest(spark, str(tmp_path / f"m_{name}")),
                "t", n_buckets=4,
            )
            t.commit(self._batch(spark, range(8), 0), seqid=1)
            batch = spark.createDataFrame(
                pd.DataFrame(batch_rows, columns=["id", "val", "__del"]), schema
            )
            t.commit_batch(batch, seqid=2, delete_col="__del")
            results.append(sorted((r.id, r.val) for r in t.read().collect()))
        assert results[0] == results[1] == [
            (0, 0), (2, 20), (4, 0), (5, 50), (6, 0), (7, 0)
        ]


class TestManifestAppend:
    """``Manifest.record`` appends its row without a Spark job, and the
    row reads back with the types and watermark instant that
    ``createDataFrame(pdf, MANIFEST_SCHEMA)`` used to write."""

    def test_round_trip_watermarks(self, spark, tmp_path, jobs_of):
        import datetime as dt
        import os

        from sophox_spark.manifest import MANIFEST_SCHEMA

        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        man = Manifest(spark, str(tmp_path / "manifest"))
        plus2 = dt.timezone(dt.timedelta(hours=2))
        ids, jobs = jobs_of(lambda: [
            man.record("j", "none", 1, None, 10),
            man.record("j", "naive", 3, pd.Timestamp("2024-03-10 12:34:56.789012"), 20),
            man.record("j", "aware", 2, dt.datetime(2024, 3, 10, 12, 0, tzinfo=plus2), 30),
            man.record("k", "other", 9, dt.datetime(2024, 1, 1), 0),
        ])
        assert jobs == []
        assert sorted(os.listdir(man.path)) == sorted(
            n for c in ids for n in (f"part-{c}.parquet", f".part-{c}.parquet.crc")
        )
        got = (
            man.read()
            .filter("job = 'j'")
            .select(
                "unit", "seqid", "row_count", "commit_id",
                F.unix_micros("watermark").alias("us"),
                F.date_format("watermark", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("text"),
            )
            .orderBy("seqid")
            .collect()
        )
        assert [tuple(r) for r in got] == [
            ("none", 1, 10, ids[0], None, None),
            ("aware", 2, 30, ids[2], 1710064800000000, "2024-03-10 10:00:00.000000"),
            ("naive", 3, 20, ids[1], 1710074096789012, "2024-03-10 12:34:56.789012"),
        ]
        assert man.last_seqid("j") == 3 and man.last_seqid("k") == 9
        assert man.last_seqid("absent") is None
        # the files themselves hold the manifest's types
        inferred = spark.read.parquet(man.path).schema
        declared = spark.createDataFrame([], MANIFEST_SCHEMA).schema
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in declared
        ]

    def test_naive_watermark_read_in_session_zone(self, spark, tmp_path):
        key = "spark.sql.session.timeZone"
        man = Manifest(spark, str(tmp_path / "manifest"))
        spark.conf.set(key, "America/New_York")
        try:
            man.record("j", "u", 1, pd.Timestamp("2024-07-01 08:00:00"), 0)
        finally:
            spark.conf.set(key, "UTC")
        (row,) = man.read().select(F.unix_micros("watermark").alias("us")).collect()
        assert row.us == 1719835200000000  # 2024-07-01 12:00:00Z (EDT = UTC-4)
