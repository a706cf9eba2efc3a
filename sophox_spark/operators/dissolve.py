"""Dissolve (union-per-id), centroids, and the regions/GeoJSON pipeline.

Reference analogs:
  * A1 ``ST_Multi(ST_Union(way)) … GROUP BY wikidata``
    (/root/reference/osm-regions-server/osm-regions/wd_only_sql.js:8-17)
    — dissolve all geometry rows of one wikidata id into one
    multipolygon. Our polygons are disjoint-by-construction fixtures, so
    union = multipart assembly (documented limitation: overlapping parts
    stay multipart; containment tests remain consistent because PIP uses
    even-odd parity per part).
  * A2 relation centroid = mean of member points (updateRelLoc.py:129-130)
    — a plain two-phase groupBy avg, no Python.
  * The full /regions/:format flow (server.js:184-237): id semi-join →
    dissolve → ForceRHR orient → presimplify/quantile/simplify →
    quantize → GeoJSON feature strings.

Two-phase aggregation on the group key handles hot ids (north_rule):
``dissolve`` first combines parts *within* each partition batch via
``mapInPandas`` (a real map-side partial — no shuffle), so a hot id
ships one partial per partition, not every raw row, to the final
``applyInPandas`` reducer.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..cells import grid
from ..geometry import clip, core, simplify as simp, wkb
from ..plans import route


def dissolve(
    polygons_df: DataFrame,
    key: str = "wikidata",
    geom_col: str = "geom",
    merge_overlaps: bool = True,
) -> DataFrame:
    """group polygons by ``key`` → one multipolygon per key.
    Output: ``key, geom (multipolygon WKB), n_parts``.

    TWO-PHASE, on every input: a map-side ``mapInPandas`` pass first
    merges all parts of a key *within each partition batch* into one
    multipolygon partial, so the shuffle ships one row per (partition,
    key) — a hot wikidata id with 10⁵ raw rows moves ≤ numPartitions
    partials, never the raw rows, to its final reducer (the Spark analog of partial aggregation
    for an ST_Union-shaped agg).

    ``merge_overlaps`` gives true ST_Union semantics: OVERLAPPING parts
    dissolve into one boundary (Greiner–Hormann, geometry/clip.py);
    disjoint parts stay multipart. Degenerate contacts (shared edges /
    vertices) are first retried with clip_rings_robust's deterministic
    ≤ extent·1e-9 perturbation — most now DISSOLVE like ST_Union; only
    contacts still degenerate after all retries fall back to multipart
    (counted by clip.union_parts). Union is applied in both phases (it
    is associative), and skipped entirely past clip.union_parts'
    part-count guard, where multipart assembly is the documented
    behavior."""
    schema = f"{key} string, {geom_col} binary, n_parts long"
    merger = _blob_merger(merge_overlaps)

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        blob, n = merger(pdf[geom_col])
        return pd.DataFrame({key: [pdf[key].iloc[0]], geom_col: [blob], "n_parts": [n]})

    partials = _dissolve_partials(polygons_df, key, geom_col, merge_overlaps)
    return partials.groupBy(key).applyInPandas(final, schema)


def _blob_merger(merge_overlaps: bool):
    def _merge_blobs(blobs) -> tuple[bytes | None, int]:
        parts: list[list[np.ndarray]] = []
        for blob in blobs:
            if blob is None:
                continue
            parts.extend(wkb.decode_one(bytes(blob)))
        if merge_overlaps and parts:
            parts, _ = clip.union_parts(parts)
        return (wkb.multipolygon_wkb(parts) if parts else None), len(parts)

    return _merge_blobs


def _dissolve_partials(polygons_df, key, geom_col, merge_overlaps):
    """Map-side partial of :func:`dissolve` — one merged multipolygon
    per (partition batch, key). Shared by ``dissolve`` and the fused
    ``regions_geojson`` final pass. It bounds shuffle volume for hot
    keys at scale (≤ numPartitions partials per key instead of raw
    rows)."""
    schema = f"{key} string, {geom_col} binary, n_parts long"
    merger = _blob_merger(merge_overlaps)

    def partial(batches):
        for pdf in batches:
            out = {key: [], geom_col: [], "n_parts": []}
            for k, grp in pdf.groupby(key, sort=False, dropna=False):
                blob, n = merger(grp[geom_col])
                out[key].append(k)
                out[geom_col].append(blob)
                out["n_parts"].append(n)
            yield pd.DataFrame(out)

    return polygons_df.select(key, geom_col).mapInPandas(partial, schema)


def centroids(points_df: DataFrame, key: str, lon_col="lon", lat_col="lat") -> DataFrame:
    """Arithmetic-mean centroid per key — MultiPoint(...).centroid
    semantics, two-phase (partial + final) automatically."""
    return points_df.groupBy(key).agg(
        F.avg(lon_col).alias("centroid_lon"),
        F.avg(lat_col).alias("centroid_lat"),
        F.count("*").alias("n_points"),
    )


def representative_points(polygons_df: DataFrame, id_col="polygon_id", geom_col="geom") -> DataFrame:
    """Per-polygon guaranteed-interior point (osmm:loc analog for areas;
    osmutils.py:78 uses GEOS representative_point)."""

    def gen(batches):
        for pdf in batches:
            lons, lats = [], []
            for blob in pdf[geom_col]:
                packed = wkb.pack([blob])
                rings = list(packed.rings_of(0))
                if not rings:
                    lons.append(None)
                    lats.append(None)
                    continue
                x, y = core.polygon_representative_point(rings)
                lons.append(x)
                lats.append(y)
            yield pd.DataFrame({id_col: pdf[id_col], "rep_lon": lons, "rep_lat": lats})

    return polygons_df.select(id_col, geom_col).mapInPandas(
        gen, f"{id_col} long, rep_lon double, rep_lat double"
    )


def point_in_region_minus_water(
    points_df: DataFrame,
    regions_df: DataFrame,
    water_df: DataFrame,
    res: int | tuple[int, int] = (8, 13),
    id_col: str = "polygon_id",
    **kw,
) -> DataFrame:
    """SO1, the water-subtraction case (wd_only_sql.js:23-28): the
    reference vector-clips each region by the union of intersecting
    water polygons (``ST_Difference``) before classifying. For point
    classification the set identity  p ∈ (R − W) ⟺ p ∈ R ∧ p ∉ ⋃W
    turns the geometric difference into pure join composition — a PIP
    join against regions and a LEFT-ANTI PIP join against water. No
    vector clipping, fully distributed, exact. The default covering is
    the adaptive (8, 13) quadtree — results are res-invariant (the
    refine is exact), and the single-res-13 covering was measured 4×
    slower (O(area) dim rows vs O(perimeter))."""
    from .spatial_join import point_in_polygon_join

    in_region = point_in_polygon_join(points_df, regions_df, res=res, id_col=id_col, **kw)
    in_water = point_in_polygon_join(
        points_df, water_df.withColumnRenamed(id_col, "__water_id"),
        res=res, id_col="__water_id", **kw,
    ).select(*points_df.columns).distinct()
    return in_region.join(in_water, on=list(points_df.columns), how="left_anti")


def _clip_one_region(parts, water_parts_in_order):
    """Shared clip kernel for BOTH clipped_regions paths: subtract each
    water part (full polygon, holes re-add land via difference_full) in
    the given deterministic order, bbox-prefiltered per region part.
    Returns (parts, n_fallbacks)."""
    n_fb = 0
    for wp in water_parts_in_order:
        we = wp[0]
        wb = (we[:, 0].min(), we[:, 1].min(), we[:, 0].max(), we[:, 1].max())
        nxt = []
        for part in parts:
            e = part[0]
            pb = (e[:, 0].min(), e[:, 1].min(), e[:, 0].max(), e[:, 1].max())
            if wb[2] < pb[0] or pb[2] < wb[0] or wb[3] < pb[1] or pb[3] < wb[1]:
                nxt.append(part)
                continue
            got, fb = clip.difference_full(part, wp)
            n_fb += fb
            nxt.extend(got)
        parts = nxt
    return parts, n_fb


def _emit_clipped(out, id_col, geom_col, pid, parts, n_fb):
    area = 0.0
    n_rings = 0
    for part in parts:
        n_rings += len(part)
        area += abs(core.ring_signed_area(part[0]))
        for h in part[1:]:
            area -= abs(core.ring_signed_area(h))
    out[id_col].append(pid)
    out[geom_col].append(wkb.multipolygon_wkb(parts) if parts else None)
    out["area"].append(area)
    out["n_rings"].append(n_rings)
    out["n_fallbacks"].append(n_fb)


def clipped_regions(
    regions_df: DataFrame,
    water_df: DataFrame,
    id_col: str = "polygon_id",
    geom_col: str = "geom",
) -> DataFrame:
    """SO1 with GEOMETRY output — the reference's ``water=1`` regions
    mode, ``ST_Difference(geom, ST_Union(water))``
    (wd_only_sql.js:23-28): each region shape minus every intersecting
    water polygon, as clipped vector geometry (not just point
    classification — that exact-by-identity path is
    ``point_in_region_minus_water``).

    Two physical paths, same semantics (identity-tested), same design as
    spatial_join's broadcast/shuffle split:

    * water that ``route.bounded_collect`` brings to the driver (WKB
      within ``route.MAX_COLLECT_BYTES``, sized on the executors
      first): broadcast the water dim, one mapInPandas over regions —
      zero shuffles, the per-dim fast path.
    * larger water (planet hydrography is not small): FULLY DISTRIBUTED,
      no driver collect of geometry — both sides bbox-covered with grid
      cells at a data-adapted resolution, candidate (region, water)
      pairs from a cell EQUI-join, each region's candidate waters
      grouped to it, Greiner–Hormann per region in Arrow batches.
      Per-task work is O(local density), not O(|water|).

    Both paths subtract water as FULL polygons: a water hole (island in
    a lake) re-adds ``region ∩ hole`` as land, matching
    ST_Difference(geom, ST_Union(water)); waters apply in xxhash64(wkb)
    order (bit-reproducible across paths and cluster layouts).
    Degenerate contacts retry through clip_rings_robust's deterministic
    micro-perturbation; still-degenerate contacts keep the subject part
    unclipped, COUNTED in ``n_fallbacks`` — visible, not silent.

    Output: ``id_col, geom (multipolygon WKB), area (planar shoelace,
    holes subtracted), n_rings, n_fallbacks``."""
    regions = regions_df.select(id_col, geom_col).filter(
        F.col(geom_col).isNotNull()
    )
    water = (
        water_df.select(geom_col)
        .filter(F.col(geom_col).isNotNull())
        .select(F.xxhash64(geom_col).alias("__wid"), F.col(geom_col).alias("__wgeom"))
        .dropDuplicates(["__wid"])  # identical waters subtract once (= union)
    )
    w_table = route.bounded_collect(water, F.length("__wgeom"), "clipped_regions")
    if w_table is not None:
        return _clipped_regions_broadcast(regions, w_table, id_col, geom_col)
    w_avg = (
        water.select(F.lit(0).cast("long").alias("nbytes"),
                     F.col("__wgeom").alias("g"))
        .mapInPandas(_span_gen, "nbytes long, span double")
        .agg(F.avg("span")).collect()[0][0]
    )
    r_max = (
        regions.select(F.lit(0).cast("long").alias("nbytes"),
                       F.col(geom_col).alias("g"))
        .mapInPandas(_span_gen, "nbytes long, span double")
        .agg(F.max("span")).collect()[0][0]
    )
    res = _clip_cover_res(w_avg, r_max)
    return _clipped_regions_distributed(regions, water, id_col, geom_col, res)


def _span_gen(batches):
    for pdf in batches:
        nbytes, vals = [], []
        for nb, blob in zip(pdf["nbytes"], pdf["g"]):
            exts = [p[0] for p in wkb.decode_one(bytes(blob))]
            if not exts:
                continue
            dx = max(float(e[:, 0].max()) for e in exts) - min(
                float(e[:, 0].min()) for e in exts)
            dy = max(float(e[:, 1].max()) for e in exts) - min(
                float(e[:, 1].min()) for e in exts)
            nbytes.append(nb)
            vals.append(max(dx, 2.0 * dy))  # lat cells are 2× denser
        yield pd.DataFrame({"nbytes": nbytes, "span": vals})


def _clip_cover_res(w_avg: float | None, r_max: float | None) -> int:
    """Covering resolution for the distributed clip candidate join:
    cells sized to the average water bbox (a typical water polygon
    covers O(1) cells), coarsened so the LARGEST region bbox stays
    ≤ ~256 cells across (bounded candidate fan-out per region)."""
    import math

    if w_avg is None or r_max is None:
        return 10
    res = math.floor(math.log2(360.0 / max(w_avg, 1e-9)))
    cap = math.floor(math.log2(256.0 * 360.0 / max(r_max, 1e-9)))
    return max(3, min(res, cap, grid.MAX_RES - 4))


def _clipped_regions_broadcast(regions, w_table, id_col, geom_col) -> DataFrame:
    """Small-water fast path: the collected water table, sorted by
    ``__wid`` on the driver and broadcast — zero shuffles. Same kernel
    and water order as the distributed path."""
    blobs = w_table.sort_by("__wid").column("__wgeom").to_pylist()
    w_bc = regions.sparkSession.sparkContext.broadcast(blobs)

    def gen(batches):
        wparts = None
        for pdf in batches:
            if wparts is None:
                wparts = [
                    wp for blob in w_bc.value for wp in wkb.decode_one(blob)
                ]
            out = {id_col: [], geom_col: [], "area": [], "n_rings": [], "n_fallbacks": []}
            for pid, blob in zip(pdf[id_col], pdf[geom_col]):
                parts, n_fb = _clip_one_region(wkb.decode_one(bytes(blob)), wparts)
                _emit_clipped(out, id_col, geom_col, pid, parts, n_fb)
            yield pd.DataFrame(out)

    return regions.mapInPandas(
        gen,
        f"{id_col} long, {geom_col} binary, area double, n_rings long, n_fallbacks long",
    )


def _clipped_regions_distributed(regions, water, id_col, geom_col, res) -> DataFrame:
    """Large-water path: cell-cover candidate equi-join, no geometry
    ever collected to the driver."""

    def bbox_gen(in_id, geom, out_id):
        def gen(batches):
            for pdf in batches:
                ids, x0s, y0s, x1s, y1s = [], [], [], [], []
                for pid, blob in zip(pdf[in_id], pdf[geom]):
                    exts = [p[0] for p in wkb.decode_one(bytes(blob))]
                    if not exts:
                        continue
                    ids.append(pid)
                    x0s.append(min(float(e[:, 0].min()) for e in exts))
                    y0s.append(min(float(e[:, 1].min()) for e in exts))
                    x1s.append(max(float(e[:, 0].max()) for e in exts))
                    y1s.append(max(float(e[:, 1].max()) for e in exts))
                if not ids:
                    continue
                src, cells = grid.cover_bbox(
                    np.asarray(x0s), np.asarray(y0s),
                    np.asarray(x1s), np.asarray(y1s), res,
                )
                yield pd.DataFrame(
                    {"cell": cells, out_id: np.asarray(ids, dtype=np.int64)[src]}
                )
        return gen

    r_cells = regions.mapInPandas(
        bbox_gen(id_col, geom_col, "__rid"), "cell long, __rid long"
    ).withColumnRenamed("__rid", id_col)
    w_cells = water.mapInPandas(
        bbox_gen("__wid", "__wgeom", "__wid"), "cell long, __wid long"
    )
    pairs = (
        r_cells.join(w_cells, "cell")
        .select(id_col, "__wid")
        .distinct()
        .join(water, "__wid")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("__wid", "__wgeom"))).alias("__waters"))
    )
    joined = regions.join(pairs, id_col, "left_outer")

    def gen(batches):
        for pdf in batches:
            out = {id_col: [], geom_col: [], "area": [], "n_rings": [], "n_fallbacks": []}
            for pid, blob, waters in zip(
                pdf[id_col], pdf[geom_col], pdf["__waters"]
            ):
                wparts = []
                if waters is not None and len(waters):
                    for w in waters:
                        # Arrow hands array<struct> elements to pandas
                        # as dicts (field-name keyed)
                        wblob = w["__wgeom"] if isinstance(w, dict) else w[1]
                        wparts.extend(wkb.decode_one(bytes(wblob)))
                parts, n_fb = _clip_one_region(wkb.decode_one(bytes(blob)), wparts)
                _emit_clipped(out, id_col, geom_col, pid, parts, n_fb)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        gen,
        f"{id_col} long, {geom_col} binary, area double, n_rings long, n_fallbacks long",
    )


def regions_geojson(
    polygons_df: DataFrame,
    ids_df: DataFrame,
    key: str = "wikidata",
    geom_col: str = "geom",
    spherical: bool = True,
    quantile_p: float = 0.07,
    quantize_q: int = 10_000,
) -> DataFrame:
    """The /regions service as one DataFrame pipeline (SURVEY §3.3).

    ids_df: one column ``key`` (the VALUES/IN id list — broadcast
    semi-join, ≤1000 ids in the reference API server.js:134).
    Output: ``key, geojson string, n_rings, n_vertices_in, n_vertices_out``.
    Defaults mirror the service: sphericalQuantile=0.07, quantize 10^4.
    """
    selected = polygons_df.join(F.broadcast(ids_df), key, "left_semi")
    # FUSED final: the dissolve's reduce-side merge and the feature
    # serialization run in ONE applyInPandas over the map-side partials
    # — the former dissolve → groupBy → dissolve-final → groupBy →
    # to_feature chain paid a second full shuffle + Python crossing to
    # regroup rows that were already keyed by ``key``  (guide §2.4:
    # operations keyed the same way share one exchange). Identical
    # output: the merge is the same associative _blob_merger.
    partials = _dissolve_partials(selected, key, geom_col, True)
    merger = _blob_merger(True)

    def to_feature(pdf: pd.DataFrame) -> pd.DataFrame:
        out_rows = []
        merged, _n = merger(pdf[geom_col])
        for key_val, blob in (
            () if merged is None else ((pdf[key].iloc[0], merged),)
        ):
            polys = wkb.decode_one(bytes(blob))
            n_in = sum(len(r) for rings in polys for r in rings)
            all_coords = np.concatenate([r for rings in polys for r in rings])
            bbox = (
                float(all_coords[:, 0].min()), float(all_coords[:, 1].min()),
                float(all_coords[:, 0].max()), float(all_coords[:, 1].max()),
            )
            # presimplify each ring, pool effective areas for the
            # quantile threshold (topojson quantile semantics)
            ring_eff = [
                [simp.presimplify(r, spherical=spherical) for r in rings]
                for rings in polys
            ]
            pool = np.concatenate([e for eff in ring_eff for e in eff]) if ring_eff else np.array([])
            thr = simp.area_quantile(pool, quantile_p) if pool.size else 0.0
            out_polys = []
            n_out = 0
            for rings, effs in zip(polys, ring_eff):
                oriented = core.force_rhr(
                    [simp.simplify_ring(r, e, thr) for r, e in zip(rings, effs)]
                )
                q_rings = []
                for r in oriented:
                    q = simp.dedup_consecutive(simp.quantize(r, bbox, quantize_q))
                    n_out += len(q)
                    q_rings.append(q.tolist())
                out_polys.append(q_rings)
            feature = {
                "type": "Feature",
                "id": key_val,
                "bbox": list(bbox),
                "geometry": {"type": "MultiPolygon", "coordinates": out_polys},
                "properties": {"quantize": quantize_q},
            }
            out_rows.append(
                (
                    key_val,
                    json.dumps(feature, separators=(",", ":"), sort_keys=True),
                    sum(len(p) for p in polys),
                    n_in,
                    n_out,
                )
            )
        return pd.DataFrame(
            out_rows,
            columns=[key, "geojson", "n_rings", "n_vertices_in", "n_vertices_out"],
        )

    return partials.groupBy(key).applyInPandas(
        to_feature,
        f"{key} string, geojson string, n_rings long, n_vertices_in long, n_vertices_out long",
    )
