"""Exact kNN join via k-ring cell expansion + windowed top-k.

SURVEY §2.3: the reference has no kNN operator of its own (nearest-POI
lived in Blazegraph's geo service, absent submodule); the target spec
defines it as H3 k-ring expansion ⋈ POI cells → top-k by haversine.

One algorithm, three levels; a window ranks each level's candidates by
(distance, poi key):

1. ring 1 at the density-adapted resolution r (most points resolve),
2. ring 4's reach for the stragglers: ring 1 at resolution r − 2, whose
   cells are 4× wider,
3. the exhaustive scan — every POI is a candidate — for whatever is
   left, so the result equals brute force.

On the ring levels the POI dim (the small side) explodes to the 3×3
neighborhood of its cell and each point joins on its OWN cell. Each
ring level is materialized once (``localCheckpoint``); its resolved
rows and the next level's worklist are filters over it.

Exactness: after joining a point's ring-1 candidates, its k-th nearest
candidate is PROVEN nearest overall iff its distance is below the
guarantee radius — the minimum ground distance from the point to any
cell outside the 3×3 block, bounded below by ``_guarantee_radius_m``
(one cell height, or one cell width at the band's most poleward
latitude, measured on the sphere). Points that fail the
guarantee go on to the next level — the same shrinking-worklist pattern
the reference uses for relation-centroid fixpoints
(osm2rdf/updateRelLoc.py:76-87).

Everything is native Spark expressions (JVM codegen): no rows cross to
Python and the POI dim is never collected to the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

EARTH_RADIUS_M = 6_371_008.8
_DEG_LAT_M = math.pi * EARTH_RADIUS_M / 180.0

#: read by no route any more, only by the benchmark's regime record; a
#: later benchmark change drops that read
_POI_COLLECT_MAX_ROWS = 500_000


def haversine_m_expr(lon1, lat1, lon2, lat2):
    """Native-function haversine (meters) — whole-stage-codegen'd."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    a = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def _guarantee_radius_m(res: int, lat_col: str):
    """Conservative min ground distance to outside the ring-1 block.

    A POI outside the block either lies a full cell height away in
    latitude (great-circle distance ≥ R·|Δlat|), or inside the block's
    latitude band but ≥ one cell width away in longitude. The band
    reaches at most two cell heights poleward of the point, to
    ``lat_max``, and the haversine gives d ≥ 2R·asin(cos(lat_max)·
    sin(Δlon/2)) for any two points of the band. A band that touches a
    pole guarantees nothing: a POI just beyond the pole is outside the
    block's longitudes, whatever its distance."""
    cell_h_deg = 180.0 / (1 << res)
    half_w = math.radians(360.0 / (1 << res)) / 2.0
    lat_max = F.least(F.abs(F.col(lat_col)) + 2.0 * cell_h_deg, F.lit(90.0))
    ew = 2.0 * EARTH_RADIUS_M * F.asin(F.cos(F.radians(lat_max)) * math.sin(half_w))
    return F.least(F.lit(cell_h_deg * _DEG_LAT_M), ew) * 0.999


def _density_adapted_res(pois_df, k: int, res: int, poi_lon: str, poi_lat: str) -> int:
    """Pick the starting resolution so a ring-1 (3×3 cell) neighborhood
    is expected to hold ≥ ~4k POIs — most points then resolve at the
    first level instead of escalating (each level is a full Spark job).
    One cheap agg on the small side."""
    row = pois_df.agg(
        F.count("*").alias("n"),
        F.min(poi_lon).alias("lon0"), F.max(poi_lon).alias("lon1"),
        F.min(poi_lat).alias("lat0"), F.max(poi_lat).alias("lat1"),
    ).collect()[0]
    if not row.n:
        return res
    area = max((row.lon1 - row.lon0) * (row.lat1 - row.lat0), 1e-9)
    density = row.n / area  # per deg²
    want = 4.0 * k
    # block area at res r: 9 * (180/2^r) * (360/2^r) = 583200 / 4^r
    ratio = 583_200.0 * density / want
    r0 = int(math.floor(math.log(max(ratio, 4.0), 4)))
    return max(2, min(res, r0))


def _ring_expand_dim(base_pois, poi_key: str, res: int):
    """Explode the POI dim to one row per (poi, cell whose ring-1
    neighborhood contains the poi) — the dim-side half of the k-ring
    join (guide §8: explode the small side, never the big one). A point
    then joins on its OWN cell: point_cell ∈ ring(poi_cell) ⟺
    poi_cell ∈ ring(point_cell), so the candidate pairs are identical
    to exploding the point side. ``base_pois`` holds valid coordinates
    only. Output columns: ``poi_key, __poi_lon, __poi_lat, __poi_cell``."""
    from .spatial_join import _cell_xy

    n = 1 << res  # ≥ 4 (res ≥ 2): the 3 lon offsets never wrap onto each other
    x, y = _cell_xy("__poi_lon", "__poi_lat", res)
    return (
        base_pois.select(
            F.col(poi_key), "__poi_lon", "__poi_lat",
            x.alias("__x"), y.alias("__y"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("__dx"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("__dy"),
        )
        .filter(
            (F.col("__y") + F.col("__dy") >= 0)
            & (F.col("__y") + F.col("__dy") < n)
        )
        .select(
            F.col(poi_key), "__poi_lon", "__poi_lat",
            (
                F.lit(res).cast("long") * F.lit(1 << 58)
                + F.pmod(F.col("__x") + F.col("__dx"), F.lit(n)) * F.lit(1 << 29)
                + (F.col("__y") + F.col("__dy"))
            ).alias("__poi_cell"),
        )
    )


def knn_join(
    points_df: DataFrame,
    pois_df: DataFrame,
    k: int = 5,
    res: int = 13,
    point_key: str = "url",
    poi_key: str = "poi_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    poi_lon: str = "lon",
    poi_lat: str = "lat",
) -> DataFrame:
    """Exact k nearest POIs per point.

    Output: point columns ``point_key, lon, lat`` + ``poi_key, dist_m,
    rank``. Ties broken by ``poi_key`` (deterministic, FIXTURES.md §7).
    Ranks are per ``point_key``. ``poi_key`` must be unique in
    ``pois_df``: it is the tie-break that makes the ranks, and so the
    rows, deterministic. The
    ladder starts at the POI-density-matched resolution (results are
    identical at any resolution — only the number of points each level
    resolves changes); the final level is a global scan, so the result
    equals brute force row-for-row.
    """
    from .spatial_join import cell_expr

    # invalid coordinates (NULL, NaN, out of range) never make a candidate
    base_pois = pois_df.select(
        F.col(poi_key),
        F.col(poi_lon).alias("__poi_lon"),
        F.col(poi_lat).alias("__poi_lat"),
    ).filter(cell_expr("__poi_lon", "__poi_lat", 0) >= 0)
    res = _density_adapted_res(pois_df, k, res, poi_lon, poi_lat)
    remaining = points_df.select(point_key, lon_col, lat_col)
    w = Window.partitionBy(point_key).orderBy(
        F.col("dist_m").asc(), F.col(poi_key).asc()
    )
    wp = Window.partitionBy(point_key)
    cols = [point_key, lon_col, lat_col, poi_key, "dist_m", "rank"]
    parts = []
    # ring 1 at res, then ring 1 at res − 2: one coarse cell spans four
    # fine ones, so this is ring 4's guarantee radius — the same points
    # resolve — from a dim exploded 9×, not 81×. None (or a grid of ≤ 2
    # rows, which ring 1 spans whole) is the exhaustive scan.
    for lvl_res in (res, res - 2, None):
        last = lvl_res is None or lvl_res <= 1
        if last:
            cand = remaining.crossJoin(base_pois)
        else:
            # dim-side k-ring: the worklist ships |points| rows, not
            # 9·|points| (guide §2.3: shuffle fewer bytes). LEFT
            # join: a point without candidates (an invalid one, cell −1,
            # included) keeps one NULL-poi row, so the level's own rows
            # say which points go on to the next
            pois = _ring_expand_dim(base_pois, poi_key, lvl_res)
            cand = remaining.withColumn(
                "__poi_cell", cell_expr(lon_col, lat_col, lvl_res)
            ).join(pois, "__poi_cell", "left")
        cand = cand.withColumn(
            "dist_m",
            haversine_m_expr(
                F.col(lon_col), F.col(lat_col), F.col("__poi_lon"), F.col("__poi_lat")
            ),
        )
        topk = cand.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        if last:  # read once, by the caller's action: left lazy
            parts.append(topk.select(*cols))
            break
        # ≥ k candidates and the k-th inside the guarantee radius; window
        # aggs over the rank's own partitioning (no second shuffle)
        done = (F.count(poi_key).over(wp) >= k) & (
            F.max("dist_m").over(wp) < _guarantee_radius_m(lvl_res, lat_col)
        )
        # one materialization per level: the done rows and the next
        # worklist are both filters over it
        topk = (
            topk.withColumn("__done", F.coalesce(done, F.lit(False)))
            .select(*cols, "__done")
            .localCheckpoint(eager=True)
        )
        parts.append(topk.filter("__done").drop("__done"))
        remaining = topk.filter(~F.col("__done") & (F.col("rank") == 1)).select(
            point_key, lon_col, lat_col
        )
        if remaining.isEmpty():
            break
    results = parts[0]
    for part in parts[1:]:
        results = results.unionByName(part)
    return results


def brute_force_knn(points_df, pois_df, k, point_key="url", poi_key="poi_id",
                    lon_col="lon", lat_col="lat", poi_lon="lon", poi_lat="lat"):
    """O(N·M) cross-join oracle (tests/bench baseline only)."""
    pois = pois_df.select(
        F.col(poi_key), F.col(poi_lon).alias("__plon"), F.col(poi_lat).alias("__plat")
    )
    cand = points_df.select(point_key, lon_col, lat_col).crossJoin(F.broadcast(pois))
    cand = cand.withColumn(
        "dist_m",
        haversine_m_expr(F.col(lon_col), F.col(lat_col), F.col("__plon"), F.col("__plat")),
    )
    w = Window.partitionBy(point_key).orderBy(F.col("dist_m").asc(), F.col(poi_key).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(point_key, lon_col, lat_col, poi_key, "dist_m", "rank")
    )
