"""Distributed point-in-polygon spatial join (filter → refine).

The engine's flagship operator (SURVEY §2.3 J7/J8). The reference
answers polygon-membership with a single-node PostGIS nested-loop over a
GiST index (/root/reference/osm-regions-server/osm-regions/
wd_only_sql.js:23-28); ours decomposes into Spark-native pieces that
scale horizontally:

  1. COVER  (dim-side, once): polygons → ``polygon_cells(cell,
     polygon_id, fully_contained)``, one quadtree covering between
     ``res_min`` and ``res_max`` (a single res is the quadtree with
     ``res_min == res_max``), range-partitionable by cell — the
     north_rule's "polygon sides range-partitioned by cell prefix". It
     has one builder, ``_cover_table``, an Arrow function over packed
     polygons; the dim's size decides where it runs. A dim whose
     (id, WKB) rows fit the engine's one collect budget
     (``route.bounded_collect``) arrives on the driver as one Arrow
     table and broadcasts; up to ``_DRIVER_COVER_MAX_BYTES`` of WKB it
     is covered there too. When the points plan is small as well, the
     driver's covering is PRUNED to the cells the points occupy (a
     bounded probe collects them first): like the reference's
     per-query GiST lookup, the covering then costs in proportion to
     where the points are, not to the polygons' whole area. A bigger
     dim is covered by the same builder per Arrow batch, in one
     ``mapInArrow`` over the polygons (``build_polygon_cells_adaptive``);
     a dim over the collect budget is never collected. "Once" holds
     across calls too: a collected dim is PREPARED once per session —
     its packed WKB, its edge table and, for calls that do not prune,
     its full covering per res range are memoised (``_DimMemo``), so a
     micro-batch loop that joins each batch to the same unchanged dim
     collects and packs it only on the first call.
  2. FILTER (fact-side): each point explodes to its ancestor cells from
     ``res_min`` to ``res_max``, computed by a NATIVE expression
     (whole-stage codegen), and equi-joins ``polygon_cells`` on ``cell``
     — a plain Catalyst hash join; the dim side is broadcast when small.
     Skewed cells are AQE-split (spark.sql.adaptive.skewJoin) and, for
     the pathological city-cell case, the dim is salted (``salt`` arg):
     polygon_cells rows replicate ``salt`` ways, points pick one salt
     lane — a two-phase shuffle that caps any single task's pair count.
  3. ACCEPT/REFINE: pairs in ``fully_contained`` cells are inside by
     construction (most of the area of big admin polygons); boundary-
     cell pairs are ray-cast exactly — and, with ``covers=True``, get
     the boundary-eps test — in the JVM on every route: a codegen'd
     higher-order filter over a (polygon_id → bbox, edge list) table,
     left-joined to the boundary pairs. Routes differ only in how that
     edge table reaches the pairs: a small dim's table is built on the
     driver and broadcast; a dim too large to collect builds it in one
     narrow Arrow pass over the polygons and shuffle-joins it on
     ``polygon_id`` — no driver collect, and no point row ever crosses
     into Python.

At 100 TB the only shuffles are the fact-side hash on ``cell`` (none at
all when the dim broadcasts) plus, on the shuffle path, the boundary-
pair ⋈ edge-table hash on ``polygon_id``; refinement cost is
proportional to *boundary* candidate pairs only.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from .. import fs
from ..cells import grid
from ..geometry import cover, wkb
from ..geometry.pip import COVERS_EPS, PreparedPolygons
from ..plans import route

DEFAULT_RES = 13  # ≈ 2.4 km cells (H3 res-7 analog, grid.H3_ANALOG_RES)

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


def _cell_xy(lon_col: str, lat_col: str, res: int):
    """NATIVE clamped grid ``x``, ``y`` of a point at ``res`` —
    identical IEEE double arithmetic to the numpy kernel (same ops in
    the same order)."""
    n = float(1 << res)
    n_max = F.lit((1 << res) - 1).cast("long")
    zero = F.lit(0).cast("long")
    x = F.floor((F.col(lon_col) + 180.0) / 360.0 * n).cast("long")
    y = F.floor((F.col(lat_col) + 90.0) / 180.0 * n).cast("long")
    return F.greatest(zero, F.least(n_max, x)), F.greatest(zero, F.least(n_max, y))


def _cells(lon_col: str, lat_col: str, res_min: int, res_max: int):
    """NATIVE columns for grid.encode at each res in ``res_min..res_max``
    (invalid coords → -1, loc:error semantics), whole-stage-codegen'd
    JVM-side: the hot path ships no rows to Python. One clamped ``x``,
    ``y`` at ``res_max`` (``_cell_xy``); each coarser cell shifts both
    right by ``k = res_max - r``. Exact: scaling by 2^res is exact in
    IEEE arithmetic, so floor(v·2^res_max) >> k == floor(v·2^r)."""
    x, y = _cell_xy(lon_col, lat_col, res_max)
    lon, lat = F.col(lon_col), F.col(lat_col)
    bad = (
        lon.isNull() | lat.isNull() | F.isnan(lon) | F.isnan(lat)
        | (lon < -180.0) | (lon > 180.0) | (lat < -90.0) | (lat > 90.0)
    )
    return [
        F.when(bad, F.lit(-1).cast("long")).otherwise(
            F.lit(r << 58).cast("long")
            + F.shiftleft(F.shiftright(x, res_max - r), 29)
            + F.shiftright(y, res_max - r)
        )
        for r in range(res_min, res_max + 1)
    ]


def cell_expr(lon_col: str, lat_col: str, res: int):
    """NATIVE column expression for grid.encode at ``res``."""
    return _cells(lon_col, lat_col, res, res)[0]


def ancestor_cells(lon_col: str, lat_col: str, res_min: int, res_max: int):
    """NATIVE array of a point's cells at ``res_min..res_max``."""
    return F.array(*_cells(lon_col, lat_col, res_min, res_max))


def cell_col(lon_col: str, lat_col: str, res: int):
    """Arrow-batched variant of ``cell_expr`` running the shared numpy
    kernel — kept for cross-validation (the q_geo_cells driver check
    pins numpy == SQL semantics; tests pin numpy == native expr)."""

    @F.pandas_udf("long")
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(grid.encode(lon.to_numpy(), lat.to_numpy(), res))

    return _enc(F.col(lon_col), F.col(lat_col))


def build_polygon_cells_adaptive(
    polygons_df: DataFrame,
    res_min: int = 9,
    res_max: int = DEFAULT_RES,
    geom_col: str = "geom",
    id_col: str = "polygon_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Quadtree (multi-resolution) covering dim, built on the executors:
    O(perimeter) rows instead of O(area) — coarse fully-contained cells
    carry most of the polygon interior, fine cells trace the boundary.
    Schema ``(cell, id_col, fully_contained)``; cell ids self-describe
    their resolution, and ``res_min == res_max`` is the
    single-resolution covering. NULL geometries get no cells.

    The polygons spread round-robin over the shuffle partitions and
    cross into Python once, in Arrow batches: each batch is covered by
    ``_cover_table``, the builder the driver route calls on a collected
    dim, so both routes emit the same rows. ``num_partitions``
    range-partitions the result by cell."""
    spark = polygons_df.sparkSession
    n_slices = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    def cover_batches(batches):
        for batch in batches:
            packed = wkb.pack(batch.column(1).to_pylist())
            yield from _cover_table(
                packed, batch.select([0]), res_min, res_max
            ).to_batches()

    cells_df = (
        polygons_df.select(F.col(id_col).cast("long"), geom_col)
        .repartition(n_slices)
        .mapInArrow(cover_batches, f"cell long, {id_col} long, fully_contained boolean")
    )
    if num_partitions:
        cells_df = cells_df.repartitionByRange(num_partitions, "cell")
    return cells_df


def _cover_table(packed, ids, res_min, res_max, occupied=None) -> pa.Table:
    """The PIP join's covering (``cell long, <id_col> long,
    fully_contained boolean``) of the polygons of ``packed``:
    ``cover.cover_polygons_adaptive`` between ``res_min`` and
    ``res_max``, pruned to ``occupied`` when given. ``ids`` is a
    one-column Arrow table or batch of long ids, one row per polygon of
    ``packed``; its column name names the id column."""
    pi, cells, full = cover.cover_polygons_adaptive(
        packed, res_min, res_max, occupied=occupied
    )
    return pa.table(
        {
            "cell": pa.array(cells, pa.int64()),
            ids.schema.names[0]: ids.column(0).take(pi),
            "fully_contained": pa.array(full, pa.bool_()),
        }
    )


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
    cells = (
        points_df.select(cell_expr(lon_col, lat_col, res).alias("c"))
        .where(F.col("c") >= 0)
        .limit(_PRUNE_MAX_CELLS + 1)
        .toArrow()
        .column("c")
    )
    if len(cells) > _PRUNE_MAX_CELLS:
        return None
    return np.unique(cells.to_numpy())


class _PreparedDim:
    """One collected polygon dim, prepared for the broadcast route: its
    one-column id table, its packed WKB, its edge table as a DataFrame,
    and its UNPRUNED covering per ``(res_min, res_max)`` where a call
    needed one. ``nbytes`` is what the entry holds on the driver."""

    def __init__(self, spark, table: pa.Table, id_col: str, geom_col: str):
        geoms = table.column(geom_col)
        self.ids = table.select([id_col])
        self.packed = wkb.pack(geoms.to_pylist())
        self.wkb_bytes = pc.sum(pc.binary_length(geoms)).as_py() or 0
        edges = _edge_table(self.packed, table.column(id_col))
        self.edges = spark.createDataFrame(edges)
        self.covers: dict[tuple[int, int], DataFrame] = {}
        self.nbytes = self.ids.nbytes + edges.nbytes + sum(
            getattr(self.packed, f).nbytes
            for f in ("coords", "ring_offsets", "ring_poly", "ring_is_hole", "bbox")
        )


class _DimMemo:
    """One session's prepared dims, least recently used first, holding
    at most ``_DRIVER_COVER_MAX_BYTES`` in total: an entry over that
    budget is dropped, and a covering that would take its entry over
    it is not kept. ``get`` confirms a key hit with ``sameSemantics``
    against the plan the entry was built from, as ``semanticHash`` is
    32 bits."""

    def __init__(self):
        self._lock = threading.Lock()
        self._entries: OrderedDict = OrderedDict()  # key → (plan, _PreparedDim)

    def get(self, key, df: DataFrame) -> _PreparedDim | None:
        with self._lock:
            hit = self._entries.get(key)
            if hit is None or not hit[0].sameSemantics(df):
                return None
            self._entries.move_to_end(key)
            return hit[1]

    def put(self, key, df: DataFrame, dim: _PreparedDim) -> None:
        with self._lock:
            self._entries[key] = (df, dim)
            self._entries.move_to_end(key)
            self._fit()

    def add_cover(self, dim: _PreparedDim, res, cells_df: DataFrame, nbytes: int) -> None:
        with self._lock:
            if dim.nbytes + nbytes <= _DRIVER_COVER_MAX_BYTES:
                dim.covers[res] = cells_df
                dim.nbytes += nbytes
                self._fit()

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()

    def _fit(self) -> None:
        total = sum(d.nbytes for _, d in self._entries.values())
        while total > _DRIVER_COVER_MAX_BYTES:
            total -= self._entries.popitem(last=False)[1][1].nbytes


def _memo(spark) -> _DimMemo:
    """The prepared-dim memo of ``spark``: entries belong to the session
    that built them and go with it."""
    memo = getattr(spark, "_sophox_pip_dims", None)
    if memo is None:
        memo = spark._sophox_pip_dims = _DimMemo()
    return memo


def _dim_key(polygons_df: DataFrame, id_col: str, geom_col: str):
    """The memo key of a dim: its analyzed plan's ``semanticHash``, the
    length and modification time of each of its input files, and the
    columns read — or None when the dim must not be memoised: a stream,
    or a nondeterministic plan (two reads could differ). No job runs.
    A local relation carries its rows in the plan, so the hash and
    ``sameSemantics`` see its content; a file rewritten in place with
    the same length and modification time is not seen."""
    if polygons_df.isStreaming:
        return None
    if not polygons_df._jdf.queryExecution().analyzed().deterministic():
        return None
    files = fs.stamps(polygons_df.sparkSession, sorted(polygons_df.inputFiles()))
    return polygons_df.semanticHash(), files, id_col, geom_col


def _prepared_dim(polygons_df, id_col, geom_col, max_bytes) -> _PreparedDim | None:
    """The dim prepared for the broadcast route, or None for the
    distributed route. A memo hit within ``max_bytes`` runs no job and
    logs ``route="memo"``; otherwise ``route.bounded_collect`` decides
    (and logs), and a collected dim is memoised when ``_dim_key``
    allows."""
    memo = _memo(polygons_df.sparkSession)
    key = _dim_key(polygons_df, id_col, geom_col)
    dim = None if key is None else memo.get(key, polygons_df)
    if dim is not None and dim.wkb_bytes <= max_bytes:
        route.log("point_in_polygon_join", "memo", dim.wkb_bytes, max_bytes)
        return dim
    table = route.bounded_collect(
        polygons_df.select(F.col(id_col).cast("long"), geom_col).where(
            F.col(id_col).isNotNull() & F.col(geom_col).isNotNull()
        ),
        F.length(geom_col), "point_in_polygon_join", max_bytes,
    )
    if table is None:
        return None
    dim = _PreparedDim(polygons_df.sparkSession, table, id_col, geom_col)
    if key is not None:
        memo.put(key, polygons_df, dim)
    return dim


def _full_cover(spark, dim: _PreparedDim, res_min: int, res_max: int) -> DataFrame:
    """The dim's unpruned covering at ``(res_min, res_max)``, built once
    and kept in the entry while the memo's budget allows."""
    cells_df = dim.covers.get((res_min, res_max))
    if cells_df is None:
        table = _cover_table(dim.packed, dim.ids, res_min, res_max)
        cells_df = spark.createDataFrame(table)
        _memo(spark).add_cover(dim, (res_min, res_max), cells_df, table.nbytes)
    return cells_df


def point_in_polygon_join(
    points_df: DataFrame,
    polygons_df: DataFrame,
    res: int | tuple[int, int] = DEFAULT_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    geom_col: str = "geom",
    id_col: str = "polygon_id",
    covers: bool = False,
    salt: int = 0,
    polygon_cells_df: DataFrame | None = None,
    broadcast_max_bytes: int = route.MAX_COLLECT_BYTES,
) -> DataFrame:
    """points ⋈ polygons on containment. Returns ``points_df`` columns +
    ``id_col`` (one output row per (point, containing polygon) pair).

    ``res`` is a ``(res_min, res_max)`` pair for the quadtree covering,
    or one resolution ``r`` (the same as ``(r, r)``). The point side
    joins on the array of its ancestor cells (one native explode — a
    polygon's covering cells are disjoint regions, so each point still
    matches each polygon at most once).

    ``id_col`` must be unique per polygon row (as ``knn_join``'s
    ``poi_key``).

    The route is decided by ``route.bounded_collect`` of the dim's
    (id, WKB) rows: the WKB is sized on the executors first, so a dim
    over ``broadcast_max_bytes`` is never collected, and a planet-scale
    one is read at most budget-deep. A dim within the budget arrives
    as one Arrow table and broadcasts its covering and its edge table,
    both built on the driver (a broadcast dim of more than
    ``_DRIVER_COVER_MAX_BYTES`` of WKB builds its covering on the
    executors instead); a bigger one (or any dim, with
    ``broadcast_max_bytes=0``) takes the shuffle join and builds its
    covering and its edge table each in one Arrow pass over the
    polygons. Either way the covering comes from ``_cover_table`` and
    the edge table from ``_edge_table``, and both routes refine in the
    JVM with the same ``_refine`` filter.

    PREPARED-DIM MEMO (broadcast route only): the collect is EAGER —
    its jobs run here, at plan construction — but only on a miss. A
    collected dim is kept per session, with its packed WKB, its edge
    table and the unpruned coverings calls have needed, in a small LRU
    bounded by ``_DRIVER_COVER_MAX_BYTES``. A later call with the same
    dim reuses it: no dim job, no packing, no edge-table build (it logs
    ``route="memo"`` where a miss logs the collect's route). The same
    dim means: the same analyzed plan (``semanticHash``, confirmed by
    ``sameSemantics``), the same ``id_col`` and ``geom_col``, and the
    same length and modification time of each input file, so a
    rewritten parquet input misses; a local relation's rows are part
    of its plan. Streaming and nondeterministic dims are never
    memoised. LIMIT: a file rewritten in place that keeps both its
    length and its modification time is not seen, and the memo serves
    the old polygons; give such a dim a new path or file name.

    OCCUPIED-CELL PRUNING (driver-built covering only): the covering is
    built only where the points are. An eager, bounded probe — run
    here, at plan construction, on a memo hit too — collects the cells
    of at most ``_PRUNE_MAX_CELLS`` + 1 points at the finest res, and
    the quadtree keeps only ancestors-or-self of those cells; candidate
    pairs and output rows are unchanged. It is skipped (full covering) when the
    points plan is nondeterministic (it would be read twice), when
    Catalyst estimates it over the byte budget (no job runs then), or
    when the probe finds more points than the cap.

    ``salt > 1`` replicates dim-side cell rows across ``salt`` lanes and
    routes each point to one lane — bounding the per-reducer pair
    fan-out for pathologically hot cells (dense-urban skew, north_rule).
    Salting only applies to the SHUFFLE join path: a broadcast hash join
    has no reducers — every input partition probes the broadcast table
    locally, so cell skew cannot concentrate work, and salting would
    only inflate the broadcast ``salt``-fold. On a broadcast dim the
    salt argument is therefore ignored.
    """
    res_min, res_max = res if isinstance(res, tuple) else (res, res)
    spark = polygons_df.sparkSession
    prep = _prepared_dim(polygons_df, id_col, geom_col, broadcast_max_bytes)
    broadcast = prep is not None
    if polygon_cells_df is None and broadcast and prep.wkb_bytes <= _DRIVER_COVER_MAX_BYTES:
        # DRIVER-SIDE COVERING: the dim's WKB is already in driver
        # memory, and the covering kernel is a vectorized numpy pass
        # measured far cheaper than even ONE Spark stage of Python
        # workers. The table ships to executors through the broadcast
        # join, as one Arrow batch (no pandas hop).
        occupied = _occupied_cells(points_df, lon_col, lat_col, res_max)
        if occupied is None:
            polygon_cells_df = _full_cover(spark, prep, res_min, res_max)
        else:
            polygon_cells_df = spark.createDataFrame(_cover_table(
                prep.packed, prep.ids, res_min, res_max, occupied=occupied
            ))
    elif polygon_cells_df is None:
        polygon_cells_df = build_polygon_cells_adaptive(
            polygons_df, res_min, res_max, geom_col, id_col
        )
    pts = points_df.withColumn(
        "__cell", F.explode(ancestor_cells(lon_col, lat_col, res_min, res_max))
    ).filter(F.col("__cell") >= 0)
    dim = polygon_cells_df.withColumnRenamed("cell", "__cell")
    if salt > 1 and not broadcast:
        dim = dim.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        pts = pts.withColumn(
            "__salt", (F.pmod(F.xxhash64(lon_col, lat_col), F.lit(salt))).cast("int")
        )
        join_keys = ["__cell", "__salt"]
    else:
        join_keys = ["__cell"]
    cand = pts.join(F.broadcast(dim) if broadcast else dim, join_keys)

    if broadcast:
        edges_df = F.broadcast(prep.edges)
    else:
        edges_df = polygons_df.select(
            F.col(id_col).cast("long"), geom_col
        ).mapInArrow(_edge_batches, _EDGE_SCHEMA)
    return _refine(cand, edges_df, lon_col, lat_col, id_col, covers).select(
        *points_df.columns, id_col
    )


_EDGE_SCHEMA = (
    "__eid long, __bx0 double, __by0 double, __bx1 double, __by1 double, "
    "__edges array<struct<x1:double,y1:double,x2:double,y2:double>>"
)


def _edge_table(packed, ids) -> pa.Table:
    """The refine's edge table (``_EDGE_SCHEMA``): one row per polygon
    of ``packed`` — its id, its bbox and its edge list, in
    ``PreparedPolygons`` order."""
    prep = PreparedPolygons(packed)
    offsets = np.concatenate(([0], np.cumsum(prep.edge_count))).astype(np.int32)
    edge_struct = pa.StructArray.from_arrays(
        [pa.array(prep.x1, pa.float64()), pa.array(prep.y1, pa.float64()),
         pa.array(prep.x2, pa.float64()), pa.array(prep.y2, pa.float64())],
        names=["x1", "y1", "x2", "y2"],
    )
    return pa.table(
        {
            "__eid": ids,
            "__bx0": pa.array(prep.bbox[:, 0], pa.float64()),
            "__by0": pa.array(prep.bbox[:, 1], pa.float64()),
            "__bx1": pa.array(prep.bbox[:, 2], pa.float64()),
            "__by1": pa.array(prep.bbox[:, 3], pa.float64()),
            "__edges": pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), edge_struct),
        }
    )


def _edge_batches(batches):
    """``mapInArrow`` body over (id, WKB) polygon rows: one edge-table
    batch per input batch; NULL geometries emit no row."""
    for batch in batches:
        batch = batch.filter(batch.column(1).is_valid())
        if batch.num_rows:
            yield from _edge_table(
                wkb.pack(batch.column(1).to_pylist()), batch.column(0)
            ).to_batches()


def _refine(cand, edges_df, lon_col, lat_col, id_col, covers):
    """PURE-JVM REFINE of candidate pairs: the even-odd ray cast (and
    the ``covers`` boundary test) is a fixed arithmetic fold over the
    polygon's edge list, so it compiles to a codegen'd higher-order
    filter over the edge table (``_EDGE_SCHEMA``) — no Python node on
    the point side, whether ``edges_df`` arrives broadcast or
    shuffle-joined on the polygon id. The expressions replicate
    ``PreparedPolygons.contains`` bit-for-bit: same bbox pre-reject,
    same crossing predicate ((y1>lat) != (y2>lat)), same IEEE evaluation
    order for the intercept x1 + ((lat-y1)/(y2-y1))*(x2-x1) and for
    ``_on_boundary``'s cross, seg_len2 and dot — JVM and numpy doubles
    agree exactly on identical op sequences. Only boundary pairs join
    an edge row: fully_contained pairs pass without geometry. A
    boundary pair whose polygon has no edge row (a NULL geometry, or a
    stale id in a caller-supplied ``polygon_cells_df``) drops."""
    lon, lat = F.col(lon_col), F.col(lat_col)

    def _edge_hit(e):
        crosses = (e["y1"] > lat) != (e["y2"] > lat)
        xint = e["x1"] + ((lat - e["y1"]) / (e["y2"] - e["y1"])) * (e["x2"] - e["x1"])
        return crosses & (lon < xint)

    def _on_edge(e):
        dx, dy = e["x2"] - e["x1"], e["y2"] - e["y1"]
        cross = (lon - e["x1"]) * dy - (lat - e["y1"]) * dx
        seg_len2 = dx * dx + dy * dy
        dot = (lon - e["x1"]) * dx + (lat - e["y1"]) * dy
        return (
            (F.abs(cross) <= F.lit(COVERS_EPS) * F.greatest(seg_len2, F.lit(1.0)))
            & (dot >= -COVERS_EPS) & (dot <= seg_len2 + COVERS_EPS)
        )

    hit = (F.size(F.filter(F.col("__edges"), _edge_hit)) % 2) == 1
    if covers:
        hit = hit | F.exists(F.col("__edges"), _on_edge)
    inside = F.col("fully_contained") | (
        (lon >= F.col("__bx0")) & (lon <= F.col("__bx1"))
        & (lat >= F.col("__by0")) & (lat <= F.col("__by1"))
        & hit
    )
    on = (F.col(id_col) == F.col("__eid")) & ~F.col("fully_contained")
    return cand.join(edges_df, on=on, how="left").filter(inside)
