"""Checkpoint / lineage manifest (north_rule resumability).

The reference keeps its ingestion watermark *inside the store*
(``osmroot: schema:version <seqid>`` + ``schema:dateModified``,
/root/reference/osm2rdf/RdfUpdateHandler.py:59-66, utils.py:77-87) and
gates bulk-import phases with per-file ``.good``/``.pending`` status
flags (/root/reference/osm2rdf/osm2rdf-import.sh:13-17,55-103). This
module is the Spark-native generalization: a small parquet manifest
table recording, per (job, unit), the applied sequence id, event-time
watermark, and row counts — the per-partition lineage + metrics stream
the north_rule requires.

Without Iceberg jars in this container there is no multi-table atomic
commit; the protocol is therefore *write data → write manifest row*,
and correctness under replay comes from idempotent MERGE semantics
(ST3/ST4): re-applying a batch whose manifest row is missing is a
no-op row-for-row. ``completed_units`` drives mid-job resume: finished
cells/batches are skipped without recomputation.

Append protocol: each row is its own parquet file, written by the
driver with pyarrow (no Spark job) under a ``_``-prefixed temp name and
then renamed to ``part-<commit_id>.parquet`` through the Hadoop
FileSystem API (``fs.write_renamed``). Spark's file listing skips
``_`` names, so a reader sees a row whole or not at all.
"""

from __future__ import annotations

import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST_SCHEMA = (
    "job string, unit string, seqid long, watermark timestamp, "
    "row_count long, commit_id string"
)
_UTC_MICROS = pa.timestamp("us", tz="UTC")
_ARROW_SCHEMA = pa.schema(
    [
        ("job", pa.string()),
        ("unit", pa.string()),
        ("seqid", pa.int64()),
        ("watermark", _UTC_MICROS),
        ("row_count", pa.int64()),
        ("commit_id", pa.string()),
    ]
)


def _watermark_array(spark: SparkSession, watermark) -> pa.Array:
    """The watermark as Spark stores a ``timestamp``: a UTC instant in
    microseconds. A naive value is read in the session time zone (DST
    ambiguity resolved to standard time), the same conversion as
    ``createDataFrame`` of a pandas frame under Arrow."""
    if watermark is None:
        return pa.nulls(1, _UTC_MICROS)
    ts = pd.Timestamp(watermark)
    if ts.tzinfo is None:
        tz = spark.conf.get("spark.sql.session.timeZone")
        ts = ts.tz_localize(tz, ambiguous=False)
    return pa.Array.from_pandas(pd.Series([ts.tz_convert("UTC")]), type=_UTC_MICROS, safe=False)


class Manifest:
    """Append-only lineage table at ``path``: one parquet file per
    recorded row, appended by temp file then rename (module docstring),
    read back as one Spark DataFrame."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        # Hadoop FS probe: works for file://, hdfs://, s3a:// manifests
        from . import fs

        return fs.any_file_with_suffix(self.spark, self.path, ".parquet")

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)

    def record(self, job: str, unit: str, seqid: int, watermark, row_count: int) -> str:
        """Append one lineage row; returns the commit id. Runs no Spark
        job: the driver writes the row's file and renames it into place."""
        from . import fs

        commit_id = uuid.uuid4().hex
        row = pa.Table.from_arrays(
            [
                pa.array([job], pa.string()),
                pa.array([unit], pa.string()),
                pa.array([seqid], pa.int64()),
                _watermark_array(self.spark, watermark),
                pa.array([row_count], pa.int64()),
                pa.array([commit_id], pa.string()),
            ],
            schema=_ARROW_SCHEMA,
        )
        buf = pa.BufferOutputStream()
        # the parquet types carry the schema; an Arrow schema copy only adds bytes
        pq.write_table(row, buf, store_schema=False)
        fs.write_renamed(
            self.spark,
            f"{self.path}/_tmp-{commit_id}",
            f"{self.path}/part-{commit_id}.parquet",
            buf.getvalue().to_pybytes(),
        )
        return commit_id

    def completed_units(self, job: str) -> set[str]:
        if not self._exists():
            return set()
        rows = self.read().filter(f"job = '{job}'").select("unit").distinct().collect()
        return {r.unit for r in rows}

    def units_df(self, job: str) -> DataFrame | None:
        """Unit rows of one job as a DataFrame (None before first
        commit) — lets callers filter Spark-side and collect only the
        rows they need instead of the whole history."""
        if not self._exists():
            return None
        return self.read().filter(f"job = '{job}'").select("unit")

    def last_seqid(self, job: str) -> int | None:
        """The resume offset (ST1/ST3): max applied sequence id."""
        if not self._exists():
            return None
        row = self.read().filter(f"job = '{job}'").agg({"seqid": "max"}).collect()[0]
        return row[0]

    def metrics(self, job: str) -> DataFrame:
        """Per-unit row counts — the A5 counter statistics analog
        (/root/reference/osm2rdf/RdfHandler.py:124-137)."""
        return (
            self.read()
            .filter(f"job = '{job}'")
            .groupBy("unit")
            .agg({"row_count": "sum", "seqid": "max"})
            .withColumnRenamed("sum(row_count)", "rows")
            .withColumnRenamed("max(seqid)", "seqid")
        )
