"""Distributed point-in-polygon spatial join (filter → refine).

The engine's flagship operator (SURVEY §2.3 J7/J8). The reference
answers polygon-membership with a single-node PostGIS nested-loop over a
GiST index (/root/reference/osm-regions-server/osm-regions/
wd_only_sql.js:23-28); ours decomposes into Spark-native pieces that
scale horizontally:

  1. COVER  (dim-side, once): polygons → ``polygon_cells(cell,
     polygon_id, fully_contained)`` at a chosen grid res, range-
     partitioned by cell — the north_rule's "polygon sides
     range-partitioned by cell prefix". A small broadcast dim is
     covered on the driver, and when the points plan is small too the
     covering is PRUNED to the cells the points occupy (a bounded probe
     collects them first): like the reference's per-query GiST lookup,
     the covering then costs in proportion to where the points are, not
     to the polygons' whole area.
  2. FILTER (fact-side): points get a cell id from a NATIVE expression
     (whole-stage codegen) and equi-join ``polygon_cells`` on ``cell`` — a plain
     Catalyst hash join; the dim side is broadcast when small. Skewed
     cells are AQE-split (spark.sql.adaptive.skewJoin) and, for the
     pathological city-cell case, the dim is salted (``salt`` arg):
     polygon_cells rows replicate ``salt`` ways, points pick one salt
     lane — a two-phase shuffle that caps any single task's pair count.
  3. ACCEPT/REFINE: pairs in ``fully_contained`` cells are inside by
     construction (most of the area of big admin polygons); boundary-
     cell pairs are ray-cast exactly. With ``broadcast_dim`` the ray
     cast runs in the JVM: a codegen'd higher-order filter over a
     broadcast (polygon_id → edge list) table, no Python worker
     (``covers=True`` keeps an Arrow pass over a broadcast WKB map for
     its boundary-eps test). On the shuffle path (dim too large to
     collect) each BOUNDARY pair instead carries its polygon WKB through
     a co-partitioned left join into an Arrow ray-cast pass — fully
     distributed, no driver collect anywhere.

At 100 TB the only shuffles are the fact-side hash on ``cell`` (none at
all when the dim broadcasts) plus, on the shuffle path, the boundary-
pair ⋈ polygon-geometry hash on ``polygon_id``; refinement cost is
proportional to *boundary* candidate pairs only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..cells import grid
from ..geometry import cover, wkb
from ..geometry.pip import PreparedPolygons

DEFAULT_RES = 13  # ≈ 2.4 km cells (H3 res-7 analog, grid.H3_ANALOG_RES)

# a polygon's WKB must exceed this (~8k vertices) before the
# seed-parallel covering's reshuffle beats one-task-local recursion
_SEED_PARALLEL_MIN_BYTES = 128 << 10

# broadcast-route dims up to this many WKB bytes build their cell
# covering ON THE DRIVER (single vectorized numpy pass over geometry
# that is already collected for the broadcast) instead of paying a
# repartition shuffle + a Python-worker stage to parallelize
# sub-second work; bigger broadcastable dims keep the distributed
# builder
_DRIVER_COVER_MAX_BYTES = 8 << 20

# occupied-cell pruning of the driver-built covering: a probe collects
# at most this many point cells (more → no pruning). The probe only runs
# when Catalyst estimates the points plan at ≤ 64 B a row of this cap —
# a bigger plan would mostly hit the cap, and its probe is a Spark job of
# its own (a 500k-point parquet input: ~0.6 CPU s a call)
_PRUNE_MAX_CELLS = 16_384


def cell_expr(lon_col: str, lat_col: str, res: int):
    """NATIVE column expression for grid.encode — identical IEEE double
    arithmetic to the numpy kernel (same ops in the same order), but
    whole-stage-codegen'd JVM-side: the hot path ships no rows to
    Python. Invalid coords → -1 (loc:error semantics)."""
    n = float(1 << res)
    n_max = (1 << res) - 1
    lon, lat = F.col(lon_col), F.col(lat_col)
    x = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(n_max).cast("long"), F.floor((lon + 180.0) / 360.0 * n).cast("long")),
    )
    y = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(n_max).cast("long"), F.floor((lat + 90.0) / 180.0 * n).cast("long")),
    )
    cell = F.lit(res).cast("long") * F.lit(1 << 58) + x * F.lit(1 << 29) + y
    bad = (
        lon.isNull() | lat.isNull() | F.isnan(lon) | F.isnan(lat)
        | (lon < -180.0) | (lon > 180.0) | (lat < -90.0) | (lat > 90.0)
    )
    return F.when(bad, F.lit(-1).cast("long")).otherwise(cell)


def cell_col(lon_col: str, lat_col: str, res: int):
    """Arrow-batched variant of ``cell_expr`` running the shared numpy
    kernel — kept for cross-validation (the q_geo_cells driver check
    pins numpy == SQL semantics; tests pin numpy == native expr)."""

    @F.pandas_udf("long")
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(grid.encode(lon.to_numpy(), lat.to_numpy(), res))

    return _enc(F.col(lon_col), F.col(lat_col))


def build_polygon_cells(
    polygons_df: DataFrame,
    res: int = DEFAULT_RES,
    geom_col: str = "geom",
    id_col: str = "polygon_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Polygon dim → cell covering table, range-partitioned by cell so a
    later non-broadcast join on ``cell`` is co-partitioned and file
    skipping works on cell ranges when persisted."""
    out_schema = f"cell long, {id_col} long, fully_contained boolean"

    def gen(batches):
        for pdf in batches:
            packed = wkb.pack(pdf[geom_col].tolist())
            poly_idx, cells, full = cover.cover_polygons(packed, res)
            yield pd.DataFrame(
                {
                    "cell": cells,
                    id_col: pdf[id_col].to_numpy()[poly_idx],
                    "fully_contained": full,
                }
            )

    # spread the covering work: one polygon row is cheap to ship, its
    # covering fan-out is not — parallelize across cores
    spark = polygons_df.sparkSession
    n_slices = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cells_df = (
        polygons_df.select(id_col, geom_col)
        .repartition(n_slices)
        .mapInPandas(gen, out_schema)
    )
    if num_partitions:
        cells_df = cells_df.repartitionByRange(num_partitions, "cell")
    return cells_df


def build_polygon_cells_adaptive(
    polygons_df: DataFrame,
    res_min: int = 9,
    res_max: int = DEFAULT_RES,
    geom_col: str = "geom",
    id_col: str = "polygon_id",
    num_partitions: int | None = None,
    seed_parallel: bool = True,
) -> DataFrame:
    """Quadtree (multi-resolution) covering dim: O(perimeter) rows
    instead of O(area) — coarse fully-contained cells carry most of the
    polygon interior, fine cells trace the boundary. Same schema as
    ``build_polygon_cells``; cell ids self-describe their resolution.

    SEED-PARALLEL (``seed_parallel=True``): phase 1 fans each polygon
    out to its bbox cover at ``res_min`` (one cheap pass); the
    (polygon, seed-cell) rows then reshuffle so phase 2 refines every
    seed independently. One country-sized polygon no longer serializes
    in a single task — its quadtree spreads across the whole cluster,
    and output rows are identical to the single-task recursion (each
    seed's subtree is independent).

    ``seed_parallel=False`` runs the whole quadtree per polygon in ONE
    Arrow crossing (polygons spread across tasks, recursion local).
    The seed reshuffle duplicates each polygon's WKB once per seed
    cell, so for dims of small polygons the fan-out costs more than
    the parallelism buys — ``point_in_polygon_join`` auto-selects the
    single-pass path when the probed dim has no polygon large enough
    to dominate a task (same auto-route philosophy as the broadcast
    decision)."""
    out_schema = f"cell long, {id_col} long, fully_contained boolean"
    spark = polygons_df.sparkSession
    n_slices = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    if not seed_parallel:
        def one_pass(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                packed = wkb.pack(pdf[geom_col].tolist())
                pi, cells, full = cover.cover_polygons_adaptive(
                    packed, res_min, res_max
                )
                yield pd.DataFrame(
                    {
                        "cell": cells,
                        id_col: pdf[id_col].to_numpy()[pi],
                        "fully_contained": full,
                    }
                )

        cells_df = (
            polygons_df.select(id_col, geom_col)
            .repartition(n_slices)
            .mapInPandas(one_pass, out_schema)
        )
        if num_partitions:
            cells_df = cells_df.repartitionByRange(num_partitions, "cell")
        return cells_df

    def seeds(batches):
        for pdf in batches:
            packed = wkb.pack(pdf[geom_col].tolist())
            bb = packed.bbox
            valid = np.flatnonzero(np.isfinite(bb[:, 0]))
            if valid.size == 0:
                continue
            src, cells = grid.cover_bbox(
                bb[valid, 0], bb[valid, 1], bb[valid, 2], bb[valid, 3],
                res_min, max_cells=262_144 * max(valid.size, 1),
            )
            pi = valid[src]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[pi],
                    "geom": pdf[geom_col].to_numpy()[pi],
                    "cell": cells,
                }
            )

    def refine(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # pack each distinct polygon once per batch, map seeds to
            # its slot
            uniq = pdf.drop_duplicates(id_col)
            packed = wkb.pack(uniq["geom"].tolist())
            slot = {p: i for i, p in enumerate(uniq[id_col])}
            seed_slots = pdf[id_col].map(slot).to_numpy(np.int64)
            pi, cells, full = cover.refine_cells(
                packed, seed_slots, pdf["cell"].to_numpy(np.int64),
                res_min, res_max,
            )
            yield pd.DataFrame(
                {
                    "cell": cells,
                    id_col: uniq[id_col].to_numpy()[pi],
                    "fully_contained": full,
                }
            )

    seeds_df = polygons_df.select(id_col, geom_col).mapInPandas(
        seeds, f"{id_col} long, geom binary, cell long"
    )
    cells_df = seeds_df.repartition(n_slices).mapInPandas(
        refine, out_schema
    )
    if num_partitions:
        cells_df = cells_df.repartitionByRange(num_partitions, "cell")
    return cells_df


_PROBE_ROWS = 4096  # row bound for the single-job fast probe


def _probe_polygon_dim(polygons_df, geom_col, id_col, max_bytes):
    """Byte-bounded auto-route probe. Three tiers:

    LOCAL-RELATION PATH: a dim built with ``createDataFrame`` (the
    common synthetic/admin fixture) executes as a LocalTableScan —
    ``collect`` runs driver-side with no Spark job at all, and the rows
    are already held in driver memory, so collecting them adds nothing.

    FAST PATH (small distributed dim): ONE cheap job computes
    count/sum/max of wkb length over ``limit(_PROBE_ROWS + 1)`` rows
    (sizing executor-side first, so an over-budget dim of a few huge
    polygons is never collected); when the dim has at most
    ``_PROBE_ROWS`` rows and fits the byte budget, a single ``collect``
    materializes the broadcast {id: wkb} map. ``toLocalIterator``
    here would launch one sequential job per partition — measured as
    the dominant constant cost of the sf0.1 flagship (32 near-empty
    partitions for 60 polygons).

    BIG-DIM PATH: stream through ``toLocalIterator`` accumulating the
    map and ABORT the moment the byte budget is exceeded — a
    planet-scale dim is read at most ``max_bytes`` + one partition
    deep, never fully scanned or OOM-collected.

    Returns (mapping, fits, max_polygon_bytes, total_bytes); ``mapping``
    is None when the dim doesn't fit, ``max_polygon_bytes`` /
    ``total_bytes`` cover only the rows actually probed (exact whenever
    ``fits``)."""
    dim = polygons_df.select(id_col, geom_col)
    try:
        is_local = dim.isLocal()
    except Exception:  # pragma: no cover - defensive
        is_local = False
    mapping: dict = {}
    total = 0
    max_poly = 0
    if is_local:
        for r in dim.collect():
            g = r[1]
            if g is None:
                continue
            total += len(g)
            max_poly = max(max_poly, len(g))
            mapping[r[0]] = bytes(g)
            if total > max_bytes:
                return None, False, max_poly, total
        return mapping, True, max_poly, total
    stats = dim.limit(_PROBE_ROWS + 1).agg(
        F.count(F.lit(1)), F.sum(F.length(geom_col)), F.max(F.length(geom_col))
    ).first()
    n_rows = int(stats[0] or 0)
    if n_rows <= _PROBE_ROWS:
        total, max_poly = int(stats[1] or 0), int(stats[2] or 0)
        if total > max_bytes:
            return None, False, max_poly, total
        for r in dim.collect():
            if r[1] is not None:
                mapping[r[0]] = bytes(r[1])
        return mapping, True, max_poly, total
    for r in dim.toLocalIterator():
        g = r[1]
        if g is None:
            continue
        total += len(g)
        max_poly = max(max_poly, len(g))
        if total > max_bytes:
            return None, False, max_poly, total
        mapping[r[0]] = bytes(g)
    return mapping, True, max_poly, total


def _occupied_cells(points_df, lon_col, lat_col, res):
    """Distinct valid cells at ``res`` of the points, for pruning the
    driver-built covering — or None (no pruning) when the points plan
    is a stream (it cannot be collected) or nondeterministic (the probe
    and the join's action would read two different inputs), when
    Catalyst's size estimate of it is over the byte budget (no job is
    run to decide), or when the bounded probe finds more than
    ``_PRUNE_MAX_CELLS`` points."""
    if points_df.isStreaming:
        return None
    qe = points_df._jdf.queryExecution()
    if not qe.analyzed().deterministic():
        return None
    est = int(qe.optimizedPlan().stats().sizeInBytes())
    if est > _PRUNE_MAX_CELLS * 64:
        return None
    rows = (
        points_df.select(cell_expr(lon_col, lat_col, res).alias("c"))
        .where(F.col("c") >= 0)
        .limit(_PRUNE_MAX_CELLS + 1)
        .collect()
    )
    if len(rows) > _PRUNE_MAX_CELLS:
        return None
    return np.unique(np.fromiter((r[0] for r in rows), np.int64, len(rows)))


def point_in_polygon_join(
    points_df: DataFrame,
    polygons_df: DataFrame,
    res: int | tuple[int, int] = DEFAULT_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    geom_col: str = "geom",
    id_col: str = "polygon_id",
    covers: bool = False,
    broadcast_dim: bool | None = None,
    salt: int = 0,
    polygon_cells_df: DataFrame | None = None,
    broadcast_max_bytes: int = 64 << 20,
) -> DataFrame:
    """points ⋈ polygons on containment. Returns ``points_df`` columns +
    ``id_col`` (one output row per (point, containing polygon) pair).

    ``res`` may be a single resolution or a ``(res_min, res_max)`` tuple
    for the multi-resolution (quadtree) covering: the point side then
    joins on the array of its ancestor cells (one native explode — a
    polygon's covering cells are disjoint regions, so each point still
    matches each polygon at most once).

    ``broadcast_dim=None`` (default) AUTO-ROUTES with a byte-bounded
    probe of the dim (``_probe_polygon_dim``) that both decides the
    route and materializes the broadcast map: a local dim is collected
    driver-side, a small one (≤ ``_PROBE_ROWS`` rows) is sized by one
    bounded agg and collected once, and only a bigger dim streams
    through ``toLocalIterator``, ABORTING the moment
    ``broadcast_max_bytes`` is exceeded — a planet-scale dim is read at
    most budget-deep, never fully scanned or OOM-collected. Pass
    ``broadcast_dim=True/False`` to force a path explicitly.

    OCCUPIED-CELL PRUNING (driver-built covering only): the covering is
    built only where the points are. A second eager, bounded probe —
    run here, at plan construction — collects the cells of at most
    ``_PRUNE_MAX_CELLS`` + 1 points at the finest res, and the quadtree
    keeps only ancestors-or-self of those cells; candidate pairs and
    output rows are unchanged. It is skipped (full covering) when the
    points plan is nondeterministic (it would be read twice), when
    Catalyst estimates it over the byte budget (no job runs then), or
    when the probe finds more points than the cap.

    ``salt > 1`` replicates dim-side cell rows across ``salt`` lanes and
    routes each point to one lane — bounding the per-reducer pair
    fan-out for pathologically hot cells (dense-urban skew, north_rule).
    Salting only applies to the SHUFFLE join path: a broadcast hash join
    has no reducers — every input partition probes the broadcast table
    locally, so cell skew cannot concentrate work, and salting would
    only inflate the broadcast ``salt``-fold. With ``broadcast_dim``
    the salt argument is therefore ignored.
    """
    poly_map = None
    seed_parallel = True
    total_dim_bytes = None
    if broadcast_dim is None:
        poly_map, broadcast_dim, max_poly_bytes, total_dim_bytes = _probe_polygon_dim(
            polygons_df, geom_col, id_col, broadcast_max_bytes
        )
        # covering fan-out auto-route: the seed reshuffle only pays off
        # when a single polygon's quadtree can dominate a task — for
        # dims of small polygons the one-crossing local recursion wins
        # (this was the sole r5 bench regression at sf0.1's 60 rects)
        seed_parallel = not broadcast_dim or max_poly_bytes > _SEED_PARALLEL_MIN_BYTES
    if broadcast_dim and poly_map is None:
        # forced-broadcast caller: materialize the dim map driver-side
        # (same bounded collect the auto-route would have done)
        rows = polygons_df.select(id_col, geom_col).collect()
        poly_map = {r[0]: bytes(r[1]) for r in rows if r[1] is not None}
        total_dim_bytes = sum(len(b) for b in poly_map.values())
    # DRIVER-SIDE COVERING (broadcast route only): the dim's WKB is
    # already in driver memory, and the covering kernel is a vectorized
    # numpy pass measured far cheaper than even ONE Spark stage of
    # Python workers (the distributed builder pays a repartition
    # shuffle + a mapInPandas crossing to parallelize sub-second work).
    # The resulting dim table ships to executors through the same
    # broadcast join it always used. Dims past the byte budget — or a
    # caller-supplied covering — keep the distributed builder.
    packed_dim = None  # PackedPolygons + sorted ids when driver-built
    dim_ids = None
    use_driver_cover = (
        broadcast_dim
        and polygon_cells_df is None
        and poly_map is not None
        and (total_dim_bytes or 0) <= _DRIVER_COVER_MAX_BYTES
    )
    if use_driver_cover:
        dim_ids = sorted(poly_map)
        packed_dim = wkb.pack([poly_map[i] for i in dim_ids])
        ids_arr = np.asarray(dim_ids, dtype=np.int64)
        occupied = _occupied_cells(
            points_df, lon_col, lat_col, res[1] if isinstance(res, tuple) else res
        )
        if isinstance(res, tuple):
            pi, cells, full = cover.cover_polygons_adaptive(
                packed_dim, res[0], res[1], occupied=occupied
            )
        else:
            pi, cells, full = cover.cover_polygons(packed_dim, res, occupied=occupied)
        # one Arrow batch, no pandas hop (as the edge table below)
        polygon_cells_df = points_df.sparkSession.createDataFrame(
            pa.table(
                {
                    "cell": pa.array(cells, pa.int64()),
                    id_col: pa.array(ids_arr[pi], pa.int64()),
                    "fully_contained": pa.array(full, pa.bool_()),
                }
            )
        )
    if isinstance(res, tuple):
        res_min, res_max = res
        pcells = (
            polygon_cells_df
            if polygon_cells_df is not None
            else build_polygon_cells_adaptive(
                polygons_df, res_min, res_max, geom_col, id_col,
                seed_parallel=seed_parallel,
            )
        )
        ancestors = F.array(
            *[cell_expr(lon_col, lat_col, r) for r in range(res_min, res_max + 1)]
        )
        pts = points_df.withColumn("__cell", F.explode(ancestors)).filter(
            F.col("__cell") >= 0
        )
    else:
        pcells = (
            polygon_cells_df
            if polygon_cells_df is not None
            else build_polygon_cells(polygons_df, res, geom_col, id_col)
        )
        pts = points_df.withColumn("__cell", cell_expr(lon_col, lat_col, res)).filter(
            F.col("__cell") >= 0
        )
    dim = pcells.withColumnRenamed("cell", "__cell")
    if broadcast_dim:
        salt = 0
    if salt > 1:
        dim = dim.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        pts = pts.withColumn(
            "__salt", (F.pmod(F.xxhash64(lon_col, lat_col), F.lit(salt))).cast("int")
        )
        join_keys = ["__cell", "__salt"]
    else:
        join_keys = ["__cell"]
    dimj = F.broadcast(dim) if broadcast_dim else dim
    cand = pts.join(dimj, join_keys)

    out_cols = [c for c in points_df.columns] + [id_col]
    if broadcast_dim and not covers:
        # PURE-JVM REFINE: the even-odd ray cast is a fixed arithmetic
        # fold over the polygon's edge list, so with the dim already
        # collected it compiles to a codegen'd higher-order-function
        # filter over a broadcast (polygon_id → edges array) row — the
        # flagship path then has NO Python boundary at all (no
        # ArrowEvalPython node, no worker startup, no Arrow transpose).
        # The expression replicates PreparedPolygons.contains
        # bit-for-bit: same bbox pre-reject, same crossing predicate
        # ((y1>lat) != (y2>lat)), same IEEE evaluation order for the
        # intercept x1 + ((lat-y1)/(y2-y1))*(x2-x1) — JVM and numpy
        # doubles agree exactly on identical op sequences. Stale
        # covering ids (caller-supplied polygon_cells_df) left-join no
        # edge row: fully_contained pairs still pass, boundary pairs
        # drop — the Python path's semantics.
        if packed_dim is None:
            dim_ids = sorted(poly_map)
            packed_dim = wkb.pack([poly_map[i] for i in dim_ids])
        prep = PreparedPolygons(packed_dim)
        spark = points_df.sparkSession
        # hand the edge table to Spark as one Arrow batch: a
        # LocalTableScan the broadcast build reads driver-side (the
        # row-list form would round-trip through a pickled RDD)
        offsets = np.concatenate(
            ([0], np.cumsum(prep.edge_count))
        ).astype(np.int32)
        edge_struct = pa.StructArray.from_arrays(
            [pa.array(prep.x1, pa.float64()), pa.array(prep.y1, pa.float64()),
             pa.array(prep.x2, pa.float64()), pa.array(prep.y2, pa.float64())],
            names=["x1", "y1", "x2", "y2"],
        )
        edge_lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), edge_struct)
        arrow_tbl = pa.table(
            {
                id_col: pa.array(
                    np.asarray(dim_ids, dtype=np.int64), pa.int64()
                ),
                "__bx0": pa.array(prep.bbox[:, 0], pa.float64()),
                "__by0": pa.array(prep.bbox[:, 1], pa.float64()),
                "__bx1": pa.array(prep.bbox[:, 2], pa.float64()),
                "__by1": pa.array(prep.bbox[:, 3], pa.float64()),
                "__edges": edge_lists,
            }
        )
        edges_df = spark.createDataFrame(arrow_tbl)
        lon, lat = F.col(lon_col), F.col(lat_col)

        def _edge_hit(e):
            crosses = (e["y1"] > lat) != (e["y2"] > lat)
            xint = e["x1"] + ((lat - e["y1"]) / (e["y2"] - e["y1"])) * (e["x2"] - e["x1"])
            return crosses & (lon < xint)

        parity = (F.size(F.filter(F.col("__edges"), _edge_hit)) % 2) == 1
        inside = F.col("fully_contained") | (
            (lon >= F.col("__bx0")) & (lon <= F.col("__bx1"))
            & (lat >= F.col("__by0")) & (lat <= F.col("__by1"))
            & parity
        )
        return (
            cand.join(F.broadcast(edges_df), on=id_col, how="left")
            .filter(inside)
            .select(*out_cols)
        )
    out_schema = cand.select(*out_cols).schema
    if not broadcast_dim:
        # PARTITIONED REFINE: the dim is too big to collect/broadcast, so
        # ship each boundary pair its polygon WKB through a left join
        # conditioned on NOT fully_contained (accepted-interior pairs join
        # nothing and carry no geometry) — single-pass, no driver collect,
        # no plan diamond. Geometry bytes duplicate per *boundary* pair
        # only; the ray-cast then needs no broadcast state at all.
        geoms = polygons_df.select(
            F.col(id_col).alias("__geom_id"), F.col(geom_col).alias("__geom")
        )
        cand = cand.join(
            geoms,
            on=(F.col(id_col) == F.col("__geom_id")) & ~F.col("fully_contained"),
            how="left",
        )

        def refine_partitioned(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ok = pdf["fully_contained"].to_numpy(copy=True)
                need = np.flatnonzero(~ok)
                if need.size:
                    sub = pdf.iloc[need]
                    # pack each polygon ONCE per batch
                    uniq = sub.drop_duplicates("__geom_id")[["__geom_id", "__geom"]]
                    blobs = [
                        bytes(b) for b in uniq["__geom"] if b is not None
                    ]
                    ids = [
                        i for i, b in zip(uniq["__geom_id"], uniq["__geom"])
                        if b is not None
                    ]
                    if blobs:
                        prep_b = PreparedPolygons(wkb.pack(blobs))
                        idx_b = {p: i for i, p in enumerate(ids)}
                        mapped = sub["__geom_id"].map(idx_b)
                        known = mapped.notna().to_numpy()
                        if known.any():
                            subk = sub.iloc[known] if not known.all() else sub
                            ok[need[known]] = prep_b.contains(
                                subk[lon_col].to_numpy(),
                                subk[lat_col].to_numpy(),
                                mapped.to_numpy()[known].astype(np.int64),
                                covers=covers,
                            )
                yield pdf.loc[ok, [f.name for f in out_schema.fields]]

        return cand.mapInPandas(refine_partitioned, out_schema)

    # covers=True broadcast path: the boundary-eps test stays in the
    # Arrow kernel (poly_map is always materialized on broadcast routes)
    poly_bc = points_df.sparkSession.sparkContext.broadcast(poly_map)

    def refine(batches):
        # SINGLE-PASS accept/refine: every candidate pair flows through
        # one Arrow crossing; fully_contained pairs pass by boolean mask
        # (no geometry math), boundary pairs get the exact ray-cast.
        # A sure/maybe DataFrame split would look cheaper but makes the
        # plan a diamond — both union branches recompute the whole join
        # (measured 3.9× slower at sf0.1×100). The broadcast dim is
        # packed + edge-indexed ONCE per python worker (the
        # STRtree-packed broadcast partition of the north_star).
        prep = None
        idx_of: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if prep is None:
                mapping = poly_bc.value
                ids = sorted(mapping)
                prep = PreparedPolygons(wkb.pack([mapping[i] for i in ids]))
                idx_of = {p: i for i, p in enumerate(ids)}
            ok = pdf["fully_contained"].to_numpy(copy=True)
            need = np.flatnonzero(~ok)
            if need.size:
                sub = pdf.iloc[need]
                mapped = sub[id_col].map(idx_of)
                # ids in a caller-supplied polygon_cells_df but absent
                # from polygons_df (stale covering) are non-matches, not
                # executor crashes
                known = mapped.notna().to_numpy()
                if known.any():
                    subk = sub.iloc[known] if not known.all() else sub
                    ok[need[known]] = prep.contains(
                        subk[lon_col].to_numpy(), subk[lat_col].to_numpy(),
                        mapped.to_numpy()[known].astype(np.int64), covers=covers,
                    )
            yield pdf.loc[ok, [f.name for f in out_schema.fields]]

    return cand.mapInPandas(refine, out_schema)
