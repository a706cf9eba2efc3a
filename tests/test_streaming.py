"""Structured Streaming ingest + guarded maintenance runner."""

import pandas as pd
import pytest

from sophox_spark.manifest import Manifest
from sophox_spark.plans.maintenance import run_maintenance_scripts
from sophox_spark.sources import synth
from sophox_spark.streaming import incremental, stream_jobs
from sophox_spark.streaming.stream_jobs import CHANGES_SCHEMA


class TestStreamingIngest:
    def test_stream_equals_batch_and_restart_is_noop(self, spark, tmp_path):
        nodes_pdf = synth.osm_nodes_pdf(100)
        changes_pdf = synth.changes_pdf(nodes_pdf, 5)
        changes = spark.createDataFrame(changes_pdf, CHANGES_SCHEMA)
        # one file per seqid → maxFilesPerTrigger=1 gives per-seq batches
        cdir = str(tmp_path / "changes")
        for seq in sorted(changes_pdf["seqid"].unique()):
            changes.filter(f"seqid = {seq}").coalesce(1).write.mode("append").parquet(cdir)

        man = Manifest(spark, str(tmp_path / "manifest"))
        table = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl"), man, "nodes")
        q = stream_jobs.stream_changes_ingest(
            spark, cdir, table, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
        got = {r.id: r.tags["name"] for r in table.read().collect()}

        # batch reference result
        man2 = Manifest(spark, str(tmp_path / "manifest2"))
        table2 = incremental.PartitionedSnapshotTable(spark, str(tmp_path / "tbl2"), man2, "nodes")
        incremental.apply_change_batches(spark, table2, changes)
        want = {r.id: r.tags["name"] for r in table2.read().collect()}
        assert got == want

        # restart with a FRESH checkpoint (at-least-once replay of all
        # files): the seqid guard must make it a no-op
        v_before = table.current_version()
        q2 = stream_jobs.stream_changes_ingest(
            spark, cdir, table, str(tmp_path / "ckpt2")
        )
        q2.awaitTermination(120)
        assert table.current_version() == v_before

    def test_windowed_counts_memory_sink(self, spark, tmp_path):
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        edir = str(tmp_path / "events")
        events.write.parquet(edir)
        stream = spark.readStream.schema(events.schema).parquet(edir)
        agg = stream_jobs.windowed_event_counts(spark, stream, "1 hour")
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("wincounts")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(
            "SELECT sum(n) FROM wincounts"
        ).collect()[0][0]
        assert got == events.count()


class TestMaintenanceRunner:
    def test_guard_semantics(self, spark, tmp_path):
        spark.range(10).createOrReplaceTempView("mt_src")
        d = tmp_path / "scripts"
        d.mkdir()
        (d / "a.sql").write_text(
            "CREATE OR REPLACE TEMP VIEW mt_a AS SELECT id * 2 AS v FROM mt_src"
        )
        (d / "a-test.sql").write_text("SELECT 1 WHERE EXISTS (SELECT 1 FROM mt_src)")
        (d / "b.sql").write_text(
            "CREATE OR REPLACE TEMP VIEW mt_b AS SELECT id FROM mt_src"
        )
        (d / "b-test.sql").write_text("SELECT 1 FROM mt_src WHERE id > 100")  # empty
        (d / "c.sql").write_text(
            "CREATE OR REPLACE TEMP VIEW mt_c AS SELECT 42 AS v"
        )
        out = run_maintenance_scripts(spark, str(d))
        assert out == {"a": "ran", "b": "skipped(guard-empty)", "c": "no-guard-ran"}
        assert spark.table("mt_a").count() == 10
        assert spark.table("mt_c").collect()[0].v == 42
        with pytest.raises(Exception):
            spark.table("mt_b")


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


class TestSessionize:
    """applyInPandasWithState custom stateful operator: gap-based
    sessions, state surviving a checkpointed restart."""

    @staticmethod
    def _events_pdf(rows):
        return pd.DataFrame(
            [
                {"user_id": u, "ts": pd.Timestamp(t), "value": float(v)}
                for u, t, v in rows
            ]
        )

    @staticmethod
    def _run(spark, src_dir, ckpt, out_dir):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .parquet(src_dir)
        )
        out = stream_jobs.sessionize_events(stream, gap_minutes=30)

        # foreachBatch parquet sink: supports checkpoint RECOVERY
        # (memory sink does not), so run 2 resumes run 1's state
        def sink(bdf, epoch_id):
            bdf.write.mode("append").parquet(out_dir)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow over a finite source must finish on its own
        assert q.awaitTermination(120)
        try:
            return spark.read.parquet(out_dir).toPandas()
        except Exception:
            return pd.DataFrame(
                columns=["user_id", "session_start", "session_end", "n_events", "sum_value"]
            )

    def test_sessions_close_on_gap(self, spark, tmp_path):
        pdf = self._events_pdf(
            [
                (1, "2025-06-01 10:00", 1),
                (1, "2025-06-01 10:10", 2),
                (1, "2025-06-01 12:00", 4),   # > 30 min gap → closes s1
                (1, "2025-06-01 12:05", 8),
                (2, "2025-06-01 09:00", 5),
                (2, "2025-06-01 11:00", 6),   # closes user 2's first
            ]
        )
        src = str(tmp_path / "ev1")
        spark.createDataFrame(pdf).write.parquet(src)
        got = self._run(spark, src, str(tmp_path / "ck1"), str(tmp_path / "out1"))
        got = got.sort_values(["user_id", "session_start"]).reset_index(drop=True)
        # closed sessions only: the watermark ends at 12:05 − 30 min =
        # 11:35, past user 2's 11:00 + 30 min, so that session closes
        # too; user 1's 12:00 session stays open in state
        assert len(got) == 3
        r1, r2, r3 = got.iloc[0], got.iloc[1], got.iloc[2]
        assert r1.user_id == 1 and r1.n_events == 2 and r1.sum_value == 3.0
        assert str(r1.session_end) == "2025-06-01 10:10:00"
        assert r2.user_id == 2 and r2.n_events == 1 and r2.sum_value == 5.0
        assert r3.user_id == 2 and r3.n_events == 1 and r3.sum_value == 6.0
        assert str(r3.session_start) == "2025-06-01 11:00:00"

    def test_state_survives_restart(self, spark, tmp_path):
        src = str(tmp_path / "ev2")
        ckpt = str(tmp_path / "ck2")
        first = self._events_pdf([(7, "2025-06-01 10:00", 1), (7, "2025-06-01 10:20", 2)])
        spark.createDataFrame(first).write.parquet(src)
        out_dir = str(tmp_path / "out2")
        got1 = self._run(spark, src, ckpt, out_dir)
        assert len(got1) == 0  # session still open

        # second run: one event INSIDE the gap (extends), one far past
        # (closes the session built across BOTH runs)
        more = self._events_pdf([(7, "2025-06-01 10:40", 4), (7, "2025-06-01 23:00", 8)])
        spark.createDataFrame(more).write.mode("append").parquet(src)
        got2 = self._run(spark, src, ckpt, out_dir)
        assert len(got2) == 1
        r = got2.iloc[0]
        # the closed session spans runs: 3 events, values 1+2+4
        assert r.n_events == 3 and r.sum_value == 7.0
        assert str(r.session_start) == "2025-06-01 10:00:00"
        assert str(r.session_end) == "2025-06-01 10:40:00"
