"""Resumable spatial-join pipeline: per-cell-prefix units with lineage.

north_rule: "every partition emits lineage + row-count metrics to a
checkpoint manifest so the pipeline resumes mid-job without recomputing
completed cells." The reference gets this from per-phase status flags
(/root/reference/osm2rdf/osm2rdf-import.sh:13-17 — rerun is a no-op for
``.good`` files); here each unit is a cell-prefix range of the fact
side (the same prefix that range-partitions the polygon covering), its
output is one parquet partition dir, and its manifest row commits after
the data lands. A restart replays only units without manifest rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..manifest import Manifest
from .spatial_join import cell_expr, point_in_polygon_join


def cell_prefix_bucket_expr(cell_col_name: str, res: int, bucket_bits: int = 4):
    """Range-bucket by the top bits of the cell x coordinate — spatially
    contiguous units (cell-prefix range partitioning)."""
    x = (F.col(cell_col_name) / F.lit(1 << 29)).cast("long") % F.lit(1 << 29)
    return (x / F.lit(1 << (res - bucket_bits))).cast("long")


def resumable_pip_join(
    spark: SparkSession,
    points_df: DataFrame,
    polygons_df: DataFrame,
    out_dir: str,
    manifest: Manifest,
    job: str = "pip",
    res: int = 13,
    bucket_bits: int = 4,
    lon_col: str = "lon",
    lat_col: str = "lat",
    fail_after_units: int | None = None,
) -> DataFrame:
    """Run the PIP join unit-by-unit; skip units already in the manifest.

    ``fail_after_units`` injects a crash after N fresh units (tests).
    Returns the full joined result read back from ``out_dir``.
    """
    n_buckets = 1 << bucket_bits
    pts = points_df.withColumn("__cell", cell_expr(lon_col, lat_col, res)).filter(
        F.col("__cell") >= 0
    )
    pts = pts.withColumn(
        "__bucket", cell_prefix_bucket_expr("__cell", res, bucket_bits)
    ).drop("__cell").persist()
    done = manifest.completed_units(job)
    fresh = 0
    for b in range(n_buckets):
        unit = f"cellpfx={b}"
        if unit in done:
            continue
        subset = pts.filter(F.col("__bucket") == b).drop("__bucket")
        joined = point_in_polygon_join(
            subset, polygons_df, res=res, lon_col=lon_col, lat_col=lat_col
        )
        path = os.path.join(out_dir, f"bucket={b}")
        # count the rows as the write emits them: no read-back jobs
        obs = Observation()
        joined.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(path)
        n = obs.get["n"]
        manifest.record(job, unit, seqid=b, watermark=None, row_count=n)
        fresh += 1
        if fail_after_units is not None and fresh >= fail_after_units:
            pts.unpersist()
            raise RuntimeError(f"injected crash after {fresh} units")
    pts.unpersist()
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))
