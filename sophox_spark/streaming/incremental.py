"""Incremental ingestion: micro-batch MERGE with the reference's
streaming semantics (SURVEY §2.8 ST1-ST8).

The reference's update loop polls minute diffs, dedups within a batch
(flushes early on a duplicate subject, RdfUpdateHandler.py:27-31),
upserts by delete-then-insert per subject (idempotent, :42-57), and
persists the high-watermark seqid transactionally with the data
(:59-66). Spark-native re-expression:

  ST5 in-batch dedup    → row_number() over (key ORDER BY version/seq DESC) = 1
  ST4 idempotent upsert → MERGE emulation: base LEFT-ANTI batch ∪ batch
  ST1/ST3 offsets       → manifest.last_seqid(); replay-safe skip
  ST2 watermark         → manifest row (seqid, max event ts, row count)
  snapshot atomicity    → versioned table dirs {path}/v=N; readers pick
                          each bucket's latest manifest-recorded version
                          (no Iceberg jars in this container — this is
                          the snapshot-commit emulation, documented).
                          One table, PartitionedSnapshotTable: a
                          hash-bucketed layout keyed by the table's own
                          keys, where a change batch rewrites only the
                          buckets holding its keys (O(touched) per
                          micro-batch, not O(table)) and a full replace
                          rewrites every bucket

The fixpoint derived-view job (ST7, relation centroids with rel→rel
chains and cycles, updateRelLoc.py:62-88,159-161) lives here too.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from ..manifest import Manifest
from ..operators.osm_geometry import relation_member_locations

_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def dedup_latest(batch_df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """ST5/ST8: keep only the newest row per key within a batch (the
    osmosis --simplify-change analog)."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    base_df: DataFrame | None,
    batch_df: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO emulation (J9): delete-then-insert per key.
    Rows of ``batch_df`` replace base rows with the same key; rows
    flagged by ``delete_col`` are removed entirely. Idempotent: applying
    the same batch twice yields the identical table. A ``None`` base is
    an empty table: the result is the batch's inserts."""
    inserts = batch_df
    if delete_col is not None:
        inserts = inserts.filter(~F.col(delete_col)).drop(delete_col)
    if base_df is None:
        return inserts
    # a left-anti join drops the same base rows whether or not the
    # batch repeats a key, so the keys need no distinct()
    kept = base_df.join(batch_df.select(*keys), keys, "left_anti")
    return kept.unionByName(inserts.select(*base_df.columns))


class PartitionedSnapshotTable:
    """Hash-bucketed versioned parquet table with DELTA commits.

    A change batch rewrites only the buckets containing its keys —
    untouched buckets' files are never re-written (their bytes stay
    identical across commits), so per-batch work is O(touched buckets),
    not O(table). This is the no-Iceberg emulation of partition-level
    MERGE, matching the reference's touch-only-changed-subjects update
    loop (RdfUpdateHandler.py:42-57) at table-file granularity.
    ``keys`` are the table's merge keys: buckets hash them, and
    ``commit_batch`` (and ``apply_change_batches``) merge by them.
    ``commit`` is a full replace: a version that rewrites every bucket.

    Layout: ``{path}/v={N}/__bucket={b}/part-….parquet`` — version N's
    directory holds ONLY the buckets it touched, and each of them is
    ONE file: a write first distributes its rows by bucket, so later
    base reads, snapshot reads and scans open one file per bucket.
    The manifest unit string encodes the touched set (``v3@0,5,12``),
    so the current snapshot (per-bucket latest version) is
    reconstructible from the manifest alone; a data write without its
    manifest row is invisible (write data → write manifest, same
    protocol as Manifest docstring).

    SNAPSHOT COMPACTION: every ``compact_every`` delta commits the
    commit also writes a snapshot unit (``snap5@0:3,1:5,…`` — the full
    bucket→version map as of that version), so ``bucket_versions()``
    collects only the latest snapshot row plus the ≤ compact_every
    delta rows after it — read cost stays O(compact_every), it does
    NOT grow with commit history. Bucket directories are found by one
    listing per version directory through the Hadoop FileSystem API
    (sophox_spark/fs.py), so the same code path serves file://, hdfs://
    and s3a:// table locations, and a read lists them on the driver
    only (no Spark listing job).

    HELD SCHEMA: the handle keeps the table's data schema (set by each
    write from what it wrote, inferred once by the first read of a
    fresh handle, cleared by ``refresh()``) and hands it to
    ``spark.read.schema``, so reads run no schema-inference job.

    Jobs per warm commit: ``commit_batch`` of an in-memory batch runs
    4 — one ``toArrow()`` of the batch's bucket column to name the
    touched buckets, the batch-key broadcast of the merge, the shuffle
    by bucket and the write. The manifest rows are appended without a
    job, and ``read()`` runs none.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        manifest: Manifest,
        name: str,
        keys: tuple[str, ...] = ("id",),
        n_buckets: int = 16,
        compact_every: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        self.name = name
        self.keys = list(keys)
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        # single-writer cache of (bucket→version, current version):
        # commits update it in place, so a commit loop reads the
        # manifest once when cold instead of once per commit. Another
        # handle on the same path sees new commits after refresh().
        self._bv_cache: dict[int, int] | None = None
        self._cv_cache: int | None = None
        self._schema = None  # the data schema, see HELD SCHEMA

    def refresh(self) -> None:
        """Drop the cached snapshot state and schema (re-read on next use)."""
        self._bv_cache = None
        self._cv_cache = None
        self._schema = None

    def _bucket_col(self):
        return F.pmod(F.xxhash64(*self.keys), F.lit(self.n_buckets)).cast("int")

    def _read_units(self) -> list[str]:
        """Manifest units needed to reconstruct the snapshot: the latest
        ``snap`` row + every delta row past it. Filtering happens in
        Spark; the driver collects a BOUNDED set (≤ compact_every + 1
        rows), never the full commit history."""
        units = self.manifest.units_df(f"table:{self.name}")
        if units is None:
            return []
        ver = F.regexp_extract("unit", r"^(?:snap|v)([0-9]+)@", 1).cast("long")
        is_snap = F.col("unit").startswith("snap")
        tagged = units.select("unit", ver.alias("v"), is_snap.alias("s"))
        last_snap = tagged.filter("s").agg(F.max("v")).collect()[0][0]
        if last_snap is None:
            return [r.unit for r in tagged.select("unit").collect()]
        rows = tagged.filter(
            (F.col("s") & (F.col("v") == last_snap))
            | (~F.col("s") & (F.col("v") > last_snap))
        )
        return [r.unit for r in rows.select("unit").distinct().collect()]

    def bucket_versions(self) -> dict[int, int]:
        """bucket → latest version that rewrote it (from the manifest;
        cached between commits of this writer handle)."""
        if self._bv_cache is not None:
            return dict(self._bv_cache)
        mapping: dict[int, int] = {}
        deltas: list[tuple[int, str]] = []
        for u in self._read_units():
            v_str, _, b_str = u.partition("@")
            if v_str.startswith("snap"):
                for pair in b_str.split(","):
                    if pair:
                        b, _, v = pair.partition(":")
                        mapping[int(b)] = int(v)
            else:
                deltas.append((int(v_str[1:]), b_str))
        max_v = None
        for v, b_str in sorted(deltas):
            max_v = v if max_v is None else max(max_v, v)
            for b in b_str.split(","):
                if b:
                    bi = int(b)
                    mapping[bi] = max(mapping.get(bi, -1), v)
        if mapping:
            max_v = max(max_v or -1, max(mapping.values()))
        self._bv_cache = dict(mapping)
        self._cv_cache = max_v
        return mapping

    def current_version(self) -> int | None:
        if self._bv_cache is None:
            self.bucket_versions()  # fills both caches
        return self._cv_cache

    def _read_buckets(self, buckets) -> DataFrame | None:
        from .. import fs

        wanted = {
            b: v for b, v in self.bucket_versions().items()
            if buckets is None or b in buckets
        }
        # a touched bucket whose merged content is empty writes no dir
        # (partitionBy emits only present values) — that's a valid empty
        # bucket, not a missing file. One listing per version dir, through
        # the Hadoop FS API so cluster schemes (hdfs://, s3a://) work.
        present = {
            v: set(fs.list_names(self.spark, f"{self.path}/v={v}"))
            for v in set(wanted.values())
        }
        paths = [
            f"{self.path}/v={v}/__bucket={b}"
            for b, v in wanted.items()
            if f"__bucket={b}" in present[v]
        ]
        if not paths:
            return None
        # the dirs were just listed here: keep Spark from listing them
        # again in a distributed job (it does above the threshold's
        # path count, default 32)
        old = self.spark.conf.get(_LISTING_THRESHOLD, None)
        self.spark.conf.set(_LISTING_THRESHOLD, str(len(paths)))
        try:
            if self._schema is None:
                df = self.spark.read.parquet(*paths)
                self._schema = df.schema
                return df
            return self.spark.read.schema(self._schema).parquet(*paths)
        finally:
            if old is None:
                self.spark.conf.unset(_LISTING_THRESHOLD)
            else:
                self.spark.conf.set(_LISTING_THRESHOLD, old)

    def read(self) -> DataFrame | None:
        return self._read_buckets(None)

    def commit(self, df: DataFrame, seqid: int, watermark=None) -> int:
        """Full replace: ``df`` becomes the whole table, as a version
        that rewrites every bucket. Returns the new version number."""
        df = df.withColumn("__bucket", self._bucket_col())
        return self._write(df, range(self.n_buckets), seqid, watermark)

    def commit_batch(
        self,
        batch_df: DataFrame,
        seqid: int,
        watermark=None,
        delete_col: str | None = None,
    ) -> int:
        """Delta commit: MERGE ``batch_df`` into only the buckets its
        keys hash to. Returns the new version number."""
        batch = batch_df.withColumn("__bucket", self._bucket_col())
        # one job, no shuffle: the bucket column (4 B a row) to the driver
        buckets = batch.select("__bucket").toArrow().column(0).to_numpy()
        touched = np.unique(buckets).tolist()
        base = self._read_buckets(set(touched))
        if base is not None:
            base = base.withColumn("__bucket", self._bucket_col())
        merged = merge_upsert(base, batch, self.keys, delete_col=delete_col)
        return self._write(merged, touched, seqid, watermark)

    def _write(self, merged: DataFrame, touched, seqid: int, watermark) -> int:
        """Write the next version (the ``touched`` buckets of ``merged``),
        then record it. The manifest row counts the rows as the write
        emits them, so nothing is read back. Rows are distributed by
        bucket first, so each bucket dir gets exactly one file."""
        v = (self.current_version() or 0) + 1
        obs = Observation()
        merged.repartition("__bucket").observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.partitionBy("__bucket").mode("errorifexists").parquet(
            f"{self.path}/v={v}"
        )
        n = obs.get["n"]
        self._schema = merged.drop("__bucket").schema
        unit = f"v{v}@{','.join(map(str, touched))}"
        self.manifest.record(f"table:{self.name}", unit, seqid, watermark, n)
        if self._bv_cache is not None:
            for b in touched:
                self._bv_cache[b] = v
        self._cv_cache = v
        if self.compact_every and v % self.compact_every == 0:
            # periodic snapshot row: full bucket→version map, so future
            # reads never walk further back than this commit
            m = self.bucket_versions()
            snap = f"snap{v}@" + ",".join(
                f"{b}:{ver}" for b, ver in sorted(m.items())
            )
            self.manifest.record(f"table:{self.name}", snap, seqid, watermark, n)
        return v


def apply_change_batches(
    spark: SparkSession,
    table: PartitionedSnapshotTable,
    changes_df: DataFrame,
    seq_col: str = "seqid",
    ts_col: str = "ts",
    version_cols: list[str] | None = None,
) -> dict:
    """Consume a change stream batch-by-batch with ST1-ST5 semantics,
    keyed by ``table.keys``.

    Batches with ``seqid <= last applied`` are skipped (at-least-once
    replay, no-op by idempotence). Returns per-batch apply/skip stats —
    the A5 counter analog."""
    version_cols = version_cols or ["version", ts_col]
    last = table.manifest.last_seqid(f"table:{table.name}") or -1
    seqids = [
        r[0]
        for r in changes_df.select(seq_col).distinct().orderBy(seq_col).collect()
    ]
    stats = {"applied": [], "skipped": []}
    for seq in seqids:
        if seq <= last:
            stats["skipped"].append(seq)
            continue
        batch = changes_df.filter(F.col(seq_col) == seq)
        batch = dedup_latest(batch, table.keys, version_cols)
        upserts = batch.withColumn("__del", F.col("op") == "delete")
        wm = batch.agg(F.max(ts_col)).collect()[0][0]
        table.commit_batch(upserts.drop(seq_col, "op"), seq, wm, delete_col="__del")
        last = seq
        stats["applied"].append(seq)
    return stats


def relation_centroids_fixpoint(
    nodes_df: DataFrame,
    way_locs_df: DataFrame,
    relations_df: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """ST7: derived-view fixpoint. A relation's location is the centroid
    (arithmetic mean — MultiPoint centroid, updateRelLoc.py:129-130) of
    its members' locations; relations referencing unresolved relations
    wait for a later pass. Iterate while progress is made (the
    reference's shrinking-skipped-list loop, updateRelLoc.py:76-87);
    cycles never resolve and are left out — termination by no-progress,
    exactly as the reference.

    Returns (rel_id, lon, lat, n_members, iteration) — ``iteration``
    stamps the pass each relation RESOLVED in (its dependency depth,
    matching the reference's shrinking-skipped-list semantics)."""
    spark = nodes_df.sparkSession
    resolved = spark.createDataFrame(
        [], "rel_id long, lon double, lat double, n_members long, iteration int"
    )
    node_locs = nodes_df.select("id", "lon", "lat").filter(
        F.col("lon").isNotNull() & ~F.isnan("lon") & F.col("lat").isNotNull() & ~F.isnan("lat")
    )
    # SHRINKING WORKLIST (updateRelLoc.py:76-87 keeps only the skipped
    # rels for the next pass): each pass re-evaluates ONLY the still-
    # unresolved relations — pass k touches the depth-≥k tail, not the
    # whole table. Resolved rows accumulate; their centroids are final
    # the pass they resolve (member snapshots only ever gain rows).
    pending = relations_df.localCheckpoint(eager=True)
    for it in range(1, max_iters + 1):
        member_locs = relation_member_locations(
            pending,
            node_locs,
            way_locs_df.filter(~F.col("loc_error")),
            rel_locs=resolved.select("rel_id", "lon", "lat"),
        )
        # a relation resolves when EVERY member has a location
        agg = member_locs.groupBy("rel_id").agg(
            F.count("*").alias("n_members"),
            F.sum(F.when(F.col("lon").isNull(), 1).otherwise(0)).alias("n_missing"),
            F.avg("lon").alias("lon"),
            F.avg("lat").alias("lat"),
        )
        new_resolved = (
            agg.filter(F.col("n_missing") == 0)
            .select("rel_id", "lon", "lat", "n_members")
            .withColumn("iteration", F.lit(it))
            # checkpoint FIRST, count the checkpointed result: one
            # materialization per iteration, not two
            .localCheckpoint(eager=True)
        )
        if not new_resolved.head(1):
            break
        resolved = resolved.unionByName(new_resolved)
        pending = pending.join(
            new_resolved.select("rel_id").withColumnRenamed("rel_id", "id"),
            "id",
            "left_anti",
        ).localCheckpoint(eager=True)
        if not pending.head(1):
            break
    return resolved
