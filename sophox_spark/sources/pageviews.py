"""Pageview-file source analog (SURVEY §2.1 S4, §2.2 P8, §2.4 A3).

The reference async-fetches hourly gzip pageview dumps and parses
``project title count`` lines, keeping only wikipedia projects matching
``^[-a-z]+$`` and summing counts per page
(/root/reference/osm2rdf/updatePageViewStats.py:84-168). Spark shape:
``spark.read.text`` over the files (download concurrency becomes input
splits), native split/filter/agg — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PROJECT_RE = r"^[-a-z]+$"


def parse_pageview_lines(lines_df: DataFrame, value_col: str = "value") -> DataFrame:
    """text lines → (project, title, views), invalid projects and
    malformed counts dropped (P8)."""
    c = F.col(value_col)
    parsed = lines_df.select(
        F.split_part(c, F.lit(" "), F.lit(1)).alias("project"),
        F.split_part(c, F.lit(" "), F.lit(2)).alias("title"),
        # try_cast: a malformed count drops the line (the reference's
        # per-line except: log-and-skip) — ANSI cast would kill the task
        F.split_part(c, F.lit(" "), F.lit(3)).try_cast("long").alias("views"),
    )
    return parsed.filter(
        F.col("project").rlike(PROJECT_RE) & F.col("views").isNotNull()
    )


def aggregate_pageviews(parsed_df: DataFrame) -> DataFrame:
    """Sum per (project, title) across hourly files (A3)."""
    return parsed_df.groupBy("project", "title").agg(
        F.sum("views").alias("views")
    )
