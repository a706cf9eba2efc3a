"""OSM elements → RDF Turtle statements, as one declarative Spark job.

The reference implements this twice (Python osm2rdf/RdfHandler.py +
Rust osm2rdf.rs/src/parser.rs) as streaming per-element callbacks with
multiprocess writer queues (RdfFileHandler.py:50-68). Spark shape
(SURVEY §3.1): element DataFrames → per-statement rows (tag rewrites
P1-P5, way-geometry join J1) → ordered reassembly per subject → Turtle
text blocks → gzip text sink with ``maxRecordsPerFile`` rotation (S8).

Statement order per element matches the reference exactly:
  node:     tags…, osmm:loc (or loc:error), [metadata]
  way:      tags…, osmm:isClosed, osmm:loc, [metadata]
  relation: tags…, (osmm:has + role stmt per member)…, [metadata]
  metadata: osmm:type, osmm:version, osmm:user, osmm:timestamp,
            osmm:changeset                       (RdfHandler.py:24-36)
Skips: deleted elements emit nothing; nodes whose tags are empty after
dropping ``created_by`` are skipped (RdfHandler.py:49-66); ways and
relations emit even when untagged.

Byte grammar from sophox_spark.functions.ttl (goldens assert equality).
Divergence from the reference sink, documented: the @prefix header is
written once per output directory (prefixes.ttl) instead of per file —
the bulk loader unions the directory either way (S10).
"""

from __future__ import annotations

import gzip
import os

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import ttl
from .osm_geometry import way_locations

# ordering lanes: tags < member stmts < loc/isClosed < metadata
ORD_TAG = 0
ORD_MEMBER = 1_000_000
ORD_CLOSED = 2_000_000
ORD_LOC = 2_000_001
ORD_META = 3_000_000


def _tag_statement_rows(df: DataFrame, type_char: str) -> DataFrame:
    """Explode tags (dropping created_by, P1) → one statement row per
    tag, grammar via the vectorized pandas rewriter (P3-P5)."""
    exploded = (
        df.select(
            "id",
            F.posexplode(
                F.map_filter(F.col("tags"), lambda k, v: k != "created_by")
            ).alias("pos", "key", "value"),
        )
    )

    @F.pandas_udf("string")
    def tag_stmt(keys: pd.Series, values: pd.Series) -> pd.Series:
        return ttl.tag_statements(keys, values)

    return exploded.select(
        "id",
        (F.lit(ORD_TAG) + F.col("pos")).alias("ord"),
        tag_stmt("key", "value").alias("stmt"),
    )


def _udfs():
    """Lazy pandas-UDF registry (creating a pandas_udf requires an
    active session, so module import must not build them)."""

    @F.pandas_udf("string")
    def point_stmt(xs: pd.Series, ys: pd.Series) -> pd.Series:
        # str(float) shortest-repr formatting — must stay Python-side
        return ttl.point_statements("osmm:loc", xs, ys)

    @F.pandas_udf("string")
    def str_stmt_user(vals: pd.Series) -> pd.Series:
        return ttl.str_statements("osmm:user", vals)

    @F.pandas_udf("string")
    def str_stmt_type(vals: pd.Series) -> pd.Series:
        return ttl.str_statements("osmm:type", vals)

    @F.pandas_udf("string")
    def str_stmt_role(vals: pd.Series) -> pd.Series:
        # role statements: predicate is the member ref itself; vals
        # carries "pred\x00role"
        out = []
        for v in vals:
            pred, role = v.split("\x00", 1)
            out.append(pred + " " + ttl.stringify(role))
        return pd.Series(out)

    return point_stmt, str_stmt_user, str_stmt_type, str_stmt_role


def _metadata_rows(df: DataFrame, type_char: str) -> DataFrame:
    """osmm:type/version/user/timestamp/changeset (RdfHandler.py:29-34)."""
    _point_stmt, _str_stmt_user, _str_stmt_type, _str_stmt_role = _udfs()
    # osmm:type is one constant string per element type — build it
    # driver-side with the same grammar function instead of running a
    # pandas UDF per row to produce a literal
    type_stmt = "osmm:type " + ttl.stringify(type_char)
    rows = df.select(
        "id",
        F.array(
            F.struct(F.lit(ORD_META + 0).alias("ord"), F.lit(type_stmt).alias("stmt")),
            F.struct(
                F.lit(ORD_META + 1).alias("ord"),
                F.concat(F.lit('osmm:version "'), F.col("version").cast("string"), F.lit('"^^xsd:integer')).alias("stmt"),
            ),
            F.struct(F.lit(ORD_META + 2).alias("ord"), _str_stmt_user(F.col("user")).alias("stmt")),
            F.struct(
                F.lit(ORD_META + 3).alias("ord"),
                F.concat(
                    F.lit('osmm:timestamp "'),
                    F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
                    F.lit('Z"^^xsd:dateTime'),
                ).alias("stmt"),
            ),
            F.struct(
                F.lit(ORD_META + 4).alias("ord"),
                F.concat(F.lit('osmm:changeset "'), F.col("changeset").cast("string"), F.lit('"^^xsd:integer')).alias("stmt"),
            ),
        ).alias("stmts"),
    )
    return rows.select("id", F.explode("stmts").alias("s")).select(
        "id", F.col("s.ord").alias("ord"), F.col("s.stmt").alias("stmt")
    )


def node_statements(nodes_df: DataFrame) -> DataFrame:
    """Per-node statement rows (subject, ord, stmt)."""
    _point_stmt, _str_stmt_user, _str_stmt_type, _str_stmt_role = _udfs()
    live = nodes_df.filter(~F.col("deleted"))
    # nodes with no remaining tags are skipped entirely (P1). A node is
    # "tagged" iff its created_by-filtered map is non-empty — the same
    # predicate the tag explode applies — so the skip is a map-side
    # FILTER, not the former distinct + two semi-joins (one of which,
    # tag_rows ⋉ tagged_ids, was a no-op: tagged_ids is derived from
    # tag_rows). tag_statement never returns null, so "has exploded tag
    # rows" ⟺ "filtered map non-empty" exactly. Removes two exchanges
    # from every consumer, including each SPARQL store derivation.
    # Known divergence: a node whose only tags are created_by is skipped
    # entirely here, while the reference (RdfHandler.finalize_object)
    # still writes a metadata-only block for it (osmm:type, version,
    # user, timestamp, changeset).
    live = live.filter(
        F.size(F.map_filter(F.col("tags"), lambda k, v: k != "created_by")) > 0
    )
    tag_rows = _tag_statement_rows(live, "n")
    bad = F.col("lon").isNull() | F.col("lat").isNull() | F.isnan("lon") | F.isnan("lat")
    loc_rows = live.select(
        "id",
        F.lit(ORD_LOC).alias("ord"),
        F.when(bad, F.lit(ttl.loc_error_statement()))
        .otherwise(_point_stmt(F.col("lon"), F.col("lat")))
        .alias("stmt"),
    )
    meta_rows = _metadata_rows(live, "n")
    return (
        tag_rows
        .unionByName(loc_rows)
        .unionByName(meta_rows)
        .withColumn("subject", F.concat(F.lit("osmnode:"), F.col("id")))
    )


def way_statements(nodes_df: DataFrame, ways_df: DataFrame) -> DataFrame:
    _point_stmt, _str_stmt_user, _str_stmt_type, _str_stmt_role = _udfs()
    live = ways_df.filter(~F.col("deleted"))
    tag_rows = _tag_statement_rows(live, "w")
    locs = way_locations(nodes_df, live)
    geo_rows = locs.select(
        F.col("way_id").alias("id"),
        F.array(
            F.struct(
                F.lit(ORD_CLOSED).alias("ord"),
                F.concat(
                    F.lit('osmm:isClosed "'),
                    F.when(F.col("is_closed"), "true").otherwise("false"),
                    F.lit('"^^xsd:boolean'),
                ).alias("stmt"),
            ),
            F.struct(
                F.lit(ORD_LOC).alias("ord"),
                F.when(F.col("loc_error"), F.lit(ttl.loc_error_statement("Unable to parse location data")))
                .otherwise(_point_stmt(F.col("rep_lon"), F.col("rep_lat")))
                .alias("stmt"),
            ),
        ).alias("stmts"),
    ).select("id", F.explode("stmts").alias("s")).select(
        "id", F.col("s.ord").alias("ord"), F.col("s.stmt").alias("stmt")
    )
    meta_rows = _metadata_rows(live, "w")
    return (
        tag_rows.unionByName(geo_rows)
        .unionByName(meta_rows)
        .withColumn("subject", F.concat(F.lit("osmway:"), F.col("id")))
    )


def _type_prefix_map():
    return F.create_map(
        F.lit("n"), F.lit("osmnode:"), F.lit("w"), F.lit("osmway:"), F.lit("r"), F.lit("osmrel:")
    )


def relation_statements(relations_df: DataFrame) -> DataFrame:
    _point_stmt, _str_stmt_user, _str_stmt_type, _str_stmt_role = _udfs()
    live = relations_df.filter(~F.col("deleted"))
    tag_rows = _tag_statement_rows(live, "r")
    members = live.select("id", F.posexplode("members").alias("pos", "m"))
    ref = F.concat(_type_prefix_map()[F.col("m.type")], F.col("m.ref"))
    member_rows = members.select(
        "id",
        F.array(
            F.struct(
                (F.lit(ORD_MEMBER) + F.col("pos") * 2).alias("ord"),
                F.concat(F.lit("osmm:has "), ref).alias("stmt"),
            ),
            F.struct(
                (F.lit(ORD_MEMBER) + F.col("pos") * 2 + 1).alias("ord"),
                _str_stmt_role(F.concat(ref, F.lit("\x00"), F.col("m.role"))).alias("stmt"),
            ),
        ).alias("stmts"),
    ).select("id", F.explode("stmts").alias("s")).select(
        "id", F.col("s.ord").alias("ord"), F.col("s.stmt").alias("stmt")
    )
    meta_rows = _metadata_rows(live, "r")
    return (
        tag_rows.unionByName(member_rows)
        .unionByName(meta_rows)
        .withColumn("subject", F.concat(F.lit("osmrel:"), F.col("id")))
    )


def turtle_blocks(statement_rows: DataFrame) -> DataFrame:
    """(subject, ord, stmt) rows → one Turtle block per subject,
    byte-identical to RdfFileHandler.write_file bodies."""
    return (
        statement_rows.groupBy("subject")
        .agg(F.array_sort(F.collect_list(F.struct("ord", "stmt"))).alias("ss"))
        .select(
            "subject",
            F.concat(
                F.col("subject"),
                F.lit("\n"),
                F.array_join(F.transform("ss", lambda s: s.stmt), ";\n"),
                F.lit(".\n\n"),
            ).alias("block"),
        )
    )


def write_turtle(
    blocks_df: DataFrame,
    out_dir: str,
    max_blocks_per_file: int = 100_000,
    last_timestamp=None,
) -> None:
    """S8 gzip Turtle sink: rotated .txt.gz part files (Spark
    maxRecordsPerFile = the 10M-statement rotation analog,
    osm2rdf.py:45-46), plus prefixes.ttl header and a
    schema:dateModified footer file (RdfFileHandler.py:38-39)."""
    (
        blocks_df.select("block")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("maxRecordsPerFile", max_blocks_per_file)
        .text(out_dir)
    )
    with open(os.path.join(out_dir, "prefixes.ttl"), "w") as f:
        f.write(ttl.file_header())
    if last_timestamp is not None:
        with gzip.open(os.path.join(out_dir, "zz-footer.ttl.gz"), "wt") as f:
            f.write(ttl.footer(last_timestamp))


def convert(nodes_df, ways_df, relations_df) -> DataFrame:
    """Full conversion: all element types → turtle blocks DataFrame."""
    stmts = (
        node_statements(nodes_df)
        .unionByName(way_statements(nodes_df, ways_df))
        .unionByName(relation_statements(relations_df))
    )
    return turtle_blocks(stmts.select("subject", "ord", "stmt"))
