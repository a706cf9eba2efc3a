"""OSM element geometry assembly — the reference's conversion core,
re-expressed as shuffle joins (no node-cache side files).

J1 (way→node location join): the reference resolves way node refs
through a 10 GiB mmap positional array per process
(/root/reference/osm2rdf.rs/src/parser.rs:229-244,259-270;
osm2rdf/RdfHandler.py:139-151) and carries a known ordering hazard
(ways may reference nodes in not-yet-parsed blocks, parser.rs:355
FIXME). Spark-first: ``posexplode(refs) ⋈ nodes on id`` then
``collect_list`` re-ordered by position — co-partitioned by the join
key, no side files, hazard impossible by construction (SURVEY §2.3 J1).

Everything except nothing is native exprs: ordered reassembly uses
``array_sort`` on (pos, lon, lat) structs; representative point =
middle vertex (linestring interior point, geometry/core.py contract);
isClosed = first REF == last REF (osmium obj.is_closed(),
RdfHandler.py:76); missing node refs → loc_error=true rows, never
dropped (osmutils.py:68-73 semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.normalize import POLYGON_KEYS


def way_locations(nodes_df: DataFrame, ways_df: DataFrame) -> DataFrame:
    """ways ⋈ nodes → per-way geometry summary.

    Output: way id, n_refs, n_resolved, loc_error (any missing ref or
    invalid node coord), is_closed, rep_lon/rep_lat (middle vertex of
    the resolved linestring), plus the ordered coords array
    (array<struct<lon,lat>>) for downstream serialization.

    ``is_closed`` is computed from the node REFS (first ref == last
    ref), exactly like osmium ``obj.is_closed()`` in the reference
    (RdfHandler.py:76) — independent of whether the refs resolve, true
    for a 2-node loop [a,a], false for distinct end nodes at identical
    coordinates. Ways with an empty refs array still emit a row
    (is_closed=false, loc_error=true), matching the reference which
    emits isClosed/loc statements for every live way.
    """
    base = ways_df.select(
        F.col("id").alias("way_id"),
        F.greatest(F.size("refs"), F.lit(0)).alias("n_refs"),
        F.coalesce(
            (F.size("refs") > 0)
            & (F.try_element_at("refs", F.lit(1)) == F.try_element_at("refs", F.lit(-1))),
            F.lit(False),
        ).alias("is_closed"),
    )
    refs = ways_df.select(
        F.col("id").alias("way_id"),
        F.posexplode("refs").alias("pos", "node_id"),
    )
    nodes = nodes_df.select(
        F.col("id").alias("node_id"), "lon", "lat",
        (F.col("lon").isNull() | F.col("lat").isNull()
         | F.isnan("lon") | F.isnan("lat")).alias("bad_node"),
    )
    joined = refs.join(nodes, "node_id", "left")
    assembled = joined.groupBy("way_id").agg(
        F.count("lon").alias("n_resolved"),
        F.sum(F.when(F.col("node_id").isNull() | F.col("bad_node"), 1).otherwise(0)).alias("n_bad"),
        F.array_sort(
            F.collect_list(F.struct("pos", "lon", "lat"))
        ).alias("ordered"),
    )
    # left join so zero-ref ways (posexplode emits nothing) keep a row
    full = base.join(assembled, "way_id", "left")
    coords = F.coalesce(
        F.transform(F.col("ordered"), lambda s: F.struct(s.lon.alias("lon"), s.lat.alias("lat"))),
        F.array().cast("array<struct<lon:double,lat:double>>"),
    )
    n = F.size(coords)
    # middle vertex, matching geometry.core.linestring_representative_point
    # ((len-1)//2 zero-based → 1-based element_at)
    mid = F.try_element_at(coords, ((n - 1) / 2).cast("int") + 1)
    return full.select(
        "way_id",
        "n_refs",
        F.coalesce(F.col("n_resolved"), F.lit(0)).alias("n_resolved"),
        (
            (F.col("n_refs") == 0)
            | (F.coalesce(F.col("n_bad"), F.lit(0)) > 0)
            | (F.coalesce(F.col("n_resolved"), F.lit(0)) < F.col("n_refs"))
        ).alias("loc_error"),
        "is_closed",
        mid.lon.alias("rep_lon"),
        mid.lat.alias("rep_lat"),
        coords.alias("coords"),
    )


def classify_polygons(ways_df: DataFrame) -> DataFrame:
    """P7 polygon classification (osm-to-pgsql/wikidata.lua:4-25,80-84):
    a way is a polygon if any tag key is polygon-forming, overridden by
    area=yes/no — pure map exprs, no Python."""
    tags = F.col("tags")
    has_poly_key = F.exists(
        F.map_keys(tags), lambda k: k.isin(*sorted(POLYGON_KEYS))
    )
    area = F.element_at(tags, F.lit("area"))
    is_polygon = F.when(area == "no", F.lit(False)).when(
        area == "yes", F.lit(True)
    ).otherwise(has_poly_key)
    return ways_df.withColumn("is_polygon", F.coalesce(is_polygon, F.lit(False)))


def relation_member_locations(
    relations_df: DataFrame,
    node_locs: DataFrame,
    way_locs: DataFrame,
    rel_locs: DataFrame | None = None,
) -> DataFrame:
    """J2: relation → member left-outer location join (the SPARQL
    OPTIONAL of /root/reference/osm2rdf/updateRelLoc.py:110-125).

    node_locs: (id, lon, lat); way_locs: (way_id, rep_lon, rep_lat);
    rel_locs: (rel_id, lon, lat) — already-resolved relations (fixpoint).
    Output: rel_id, member_type, member_ref, role, lon, lat (null when
    unresolved)."""
    m = relations_df.select(
        F.col("id").alias("rel_id"), F.explode("members").alias("m")
    ).select(
        "rel_id",
        F.col("m.type").alias("member_type"),
        F.col("m.ref").alias("member_ref"),
        F.col("m.role").alias("role"),
    )
    n = node_locs.select(
        F.lit("n").alias("member_type"), F.col("id").alias("member_ref"),
        "lon", "lat",
    )
    w = way_locs.select(
        F.lit("w").alias("member_type"), F.col("way_id").alias("member_ref"),
        F.col("rep_lon").alias("lon"), F.col("rep_lat").alias("lat"),
    )
    locs = n.unionByName(w)
    if rel_locs is not None:
        locs = locs.unionByName(
            rel_locs.select(
                F.lit("r").alias("member_type"),
                F.col("rel_id").alias("member_ref"),
                "lon", "lat",
            )
        )
    return m.join(locs, ["member_type", "member_ref"], "left")
