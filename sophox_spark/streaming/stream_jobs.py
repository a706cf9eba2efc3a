"""Structured Streaming jobs (SURVEY §2.8).

The reference's update loop is a 60 s poll over minute-diff files
(ST6, RdfUpdateHandler.py:104-146). Two Spark-native expressions of it:

  * ``stream_changes_ingest`` — a real ``readStream`` over a parquet
    changes directory driving the same idempotent upsert through
    ``foreachBatch`` (exactly-once via the manifest seqid guard);
  * ``windowed_event_counts`` — watermarked tumbling-window aggregation
    over the events stream (the ST10 row: the reference has no windowed
    aggs, our engine provides them as first-class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .incremental import PartitionedSnapshotTable, apply_change_batches

CHANGES_SCHEMA = (
    "seqid long, op string, id long, version int, user string, ts timestamp, "
    "lon double, lat double, tags map<string,string>"
)


def stream_changes_ingest(
    spark: SparkSession,
    changes_dir: str,
    table: PartitionedSnapshotTable,
    checkpoint_dir: str,
):
    """readStream(parquet) → foreachBatch → idempotent seqid-guarded
    upsert by ``table.keys``. Replays after a restart are no-ops
    (ST3/ST4): the manifest seqid guard inside apply_change_batches skips
    applied batches, so at-least-once delivery from the stream becomes
    effectively-once in the table."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_change_batches(spark, table, batch_df)

    return (
        spark.readStream.schema(CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_osc_ingest(
    spark: SparkSession,
    osc_dir: str,
    table: PartitionedSnapshotTable,
    checkpoint_dir: str,
):
    """The reference's 60 s replication poll (RdfUpdateHandler.py:104-146)
    with the REAL wire format: a binaryFile readStream watches the
    replication directory for ``*.osc.gz`` minute diffs, each micro-batch
    parses its files with the distributed OSC XML reader, and foreachBatch
    drives the same seqid-guarded idempotent upsert as the parquet
    change-stream path — at-least-once file delivery becomes
    effectively-once table commits.

    The diff sequence number comes from the file name (osmosis state
    numbering); per-element conflicts within a batch resolve by
    (version, ts) like OSM element versions do.

    OSM node/way/relation id spaces OVERLAP — a way with the same
    numeric id as a node is a different element — so ``table`` must be
    keyed by ``("kind", "id")`` (osm2rdf keys RDF subjects by prefixed
    kind for the same reason); any other keys raise ``ValueError``
    before the stream starts.
    """
    from ..sources import osc

    if table.keys != ["kind", "id"]:
        raise ValueError(
            f"stream_osc_ingest needs a table keyed by ('kind', 'id'), got {tuple(table.keys)}"
        )

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.osc.gz")
        .load(osc_dir)
        .select("path", "content")
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parsed = batch_df.mapInPandas(osc.parse_file_batches, osc.OSC_SCHEMA)
        changes = parsed.select(
            F.regexp_extract("file", "^0*([0-9]+)", 1).cast("long").alias("seqid"),
            F.when(F.col("action") == "delete", "delete")
            .otherwise("upsert")
            .alias("op"),
            "kind",
            "id",
            "version",
            F.to_timestamp("ts_s", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts"),
            F.element_at("tags", "name").alias("name"),
            "lat_s",
            "lon_s",
        )
        # files without an osmosis sequence number in the name (e.g. a
        # stray 'latest.osc.gz') carry no apply order — skip them, but
        # VISIBLY (a skipped file may duplicate a numbered diff)
        bad = [
            r.file
            for r in parsed.filter(
                F.regexp_extract("file", "^0*([0-9]+)", 1) == ""
            ).select("file").distinct().collect()
        ]
        if bad:
            import warnings

            warnings.warn(
                f"stream_osc_ingest: skipping {len(bad)} diff file(s) without "
                f"a numeric sequence in the name: {sorted(bad)[:5]}",
                stacklevel=2,
            )
        apply_change_batches(spark, table, changes.filter(F.col("seqid").isNotNull()))

    return (
        files.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    spark: SparkSession,
    events_stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    # parquet event time may arrive as TIMESTAMP_NTZ; watermarks need
    # an instant-semantics TIMESTAMP
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(w, "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )


def sessionize_events(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator: per-key SESSION assembly with
    a gap timeout, via ``applyInPandasWithState`` — the capability class
    Spark's built-in windows don't cover (variable-length windows that
    close ``gap`` after the last event). State per key = the open
    session (start/end/count/sum as epoch-micros + doubles); a batch's
    events extend the open session or close it (emitting the finished
    session row) and start a new one. The open session survives query
    restarts through the state store — pinned by a two-run checkpoint
    test. Sessions close on EVENT time: the stream carries a watermark
    of ``gap`` behind the latest event, and a key's session times out
    once the watermark passes its last event + ``gap``. An event older
    than the watermark is late and dropped. With ``availableNow`` over
    a finite source the query terminates; sessions whose gap the
    watermark has not yet passed stay open in state (pending, not lost).

    Output rows (closed sessions only): ``key_col, session_start,
    session_end, n_events, sum_value``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000
    out_schema = (
        f"{key_col} long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = "start long, end long, n long, s double"

    def fn(key, pdfs, state: GroupState):
        closed = []
        if state.hasTimedOut:
            start, end, n, sv = state.get
            closed.append((key[0], start, end, n, sv))
            state.remove()
        else:
            rows = pd.concat(list(pdfs))
            if len(rows):
                order = pd.to_datetime(rows[ts_col]).astype("int64").argsort().to_numpy()
                ts = (pd.to_datetime(rows[ts_col]).astype("int64") // 1000).to_numpy()[order]
                vals = rows[value_col].to_numpy()[order]
                if state.exists:
                    start, end, n, sv = state.get
                else:
                    start, end, n, sv = None, 0, 0, 0.0
                for t, v in zip(ts.tolist(), vals.tolist()):
                    if start is None:
                        start, end, n, sv = t, t, 1, float(v)
                    elif t - end > gap_us:
                        closed.append((key[0], start, end, n, sv))
                        start, end, n, sv = t, t, 1, float(v)
                    else:
                        end, n, sv = max(end, t), n + 1, sv + float(v)
                state.update((start, end, n, sv))
                state.setTimeoutTimestamp(end // 1000 + gap_minutes * 60_000)
        if closed:
            out = pd.DataFrame(
                closed,
                columns=[key_col, "session_start", "session_end", "n_events", "sum_value"],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out

    events_stream = events_stream.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, f"{gap_minutes} minutes")
    return events_stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
