"""Spark-level operator goldens: PIP join, kNN, tiles, dissolve.

Oracles are brute-force numpy/Spark computations independent of the
filter-then-refine machinery — row-for-row equality (north_rule)."""

import logging

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sophox_spark.geometry import simplify as simp, wkb
from sophox_spark.geometry.pip import PreparedPolygons, point_in_rings
from sophox_spark.operators import dissolve, knn, spatial_join, tiles
from sophox_spark.plans import explain, route
from sophox_spark.sources import synth


@pytest.fixture(scope="module")
def polygons(spark):
    return synth.admin_polygons_df(spark, 40).cache()


@pytest.fixture(scope="module")
def points(spark):
    lon, lat = synth.random_points(800, salt=77)
    pdf = pd.DataFrame(
        {"pt_id": np.arange(800, dtype=np.int64), "lon": lon, "lat": lat}
    )
    return spark.createDataFrame(pdf, "pt_id long, lon double, lat double").cache()


def oracle_pip(points_pdf, polygons_pdf):
    """Brute-force: every point against every polygon, ray-cast."""
    packed = wkb.pack(polygons_pdf["geom"].tolist())
    prep = PreparedPolygons(packed)
    got = set()
    for gi, pid in enumerate(polygons_pdf["polygon_id"]):
        inside = prep.contains(
            points_pdf["lon"].to_numpy(),
            points_pdf["lat"].to_numpy(),
            np.full(len(points_pdf), gi),
        )
        for pt in points_pdf["pt_id"].to_numpy()[inside]:
            got.add((int(pt), int(pid)))
    return got


class TestPipJoin:
    def test_matches_bruteforce(self, spark, points, polygons):
        out = spatial_join.point_in_polygon_join(points, polygons)
        got = {(r.pt_id, r.polygon_id) for r in out.collect()}
        want = oracle_pip(points.toPandas(), polygons.toPandas())
        assert got == want

    def test_salted_identical(self, spark, points, polygons):
        plain = spatial_join.point_in_polygon_join(points, polygons)
        # salt only applies on the shuffle path (broadcast ignores it)
        salted = spatial_join.point_in_polygon_join(
            points, polygons, salt=8, broadcast_max_bytes=0
        )
        a = {(r.pt_id, r.polygon_id) for r in plain.collect()}
        b = {(r.pt_id, r.polygon_id) for r in salted.collect()}
        assert a == b

    def test_no_broadcast_same_result(self, spark, points, polygons):
        out = spatial_join.point_in_polygon_join(
            points, polygons, broadcast_max_bytes=0
        )
        got = {(r.pt_id, r.polygon_id) for r in out.collect()}
        assert got == oracle_pip(points.toPandas(), polygons.toPandas())

    def test_auto_dispatch_over_budget_same_result(self, spark, points, polygons):
        """A 1-byte budget: the sizing agg must
        route to the partitioned-refine path (no driver collect of the
        dim) and still match the brute-force oracle."""
        out = spatial_join.point_in_polygon_join(
            points, polygons, broadcast_max_bytes=1
        )
        got = {(r.pt_id, r.polygon_id) for r in out.collect()}
        assert got == oracle_pip(points.toPandas(), polygons.toPandas())

    def test_large_dim_partitioned_refine(self, spark):
        """10^5-polygon dim — too large to collect comfortably: the
        shuffle path must carry WKB through the boundary-pair join (no
        driver collect) and still classify exactly."""
        n = 100_000
        ii = np.arange(n)
        x0 = (ii % 400) * 0.05 - 10.0
        y0 = (ii // 400) * 0.05 + 1.0
        blobs = [
            wkb.polygon_wkb(
                [np.array([[a, b], [a + 0.04, b], [a + 0.04, b + 0.04], [a, b + 0.04]])]
            )
            for a, b in zip(x0, y0)
        ]
        polys = spark.createDataFrame(
            pd.DataFrame({"polygon_id": ii, "geom": blobs}),
            "polygon_id long, geom binary",
        )
        sel = ii[::97]
        pts = spark.createDataFrame(
            pd.DataFrame(
                {"pt_id": sel, "lon": x0[sel] + 0.02, "lat": y0[sel] + 0.02}
            ),
            "pt_id long, lon double, lat double",
        )
        out = spatial_join.point_in_polygon_join(pts, polys, broadcast_max_bytes=0)
        got = {(r.pt_id, r.polygon_id) for r in out.collect()}
        assert got == {(int(i), int(i)) for i in sel}

    def test_coarser_res_same_result(self, spark, points, polygons):
        out = spatial_join.point_in_polygon_join(points, polygons, res=10)
        got = {(r.pt_id, r.polygon_id) for r in out.collect()}
        assert got == oracle_pip(points.toPandas(), polygons.toPandas())

    def test_adaptive_res_auto_route_matches_bruteforce(self, spark, points, polygons):
        """Default auto-probe + quadtree covering (the flagship's exact
        configuration): small-polygon dim routes to the single-crossing
        covering and must still match the oracle."""
        out = spatial_join.point_in_polygon_join(points, polygons, res=(8, 13))
        got = {(r.pt_id, r.polygon_id) for r in out.collect()}
        assert got == oracle_pip(points.toPandas(), polygons.toPandas())

    def test_covers_boundary_points_jvm_matches_numpy(self, spark):
        """covers=True on a broadcast dim refines in the JVM (no Python
        node) and returns the numpy ``contains`` rows, for both ``covers``
        settings, for points on vertices, on edges and just off an edge."""
        ring = np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]])
        polys = spark.createDataFrame(
            pd.DataFrame({"polygon_id": [5], "geom": [wkb.polygon_wkb([ring])]}),
            "polygon_id long, geom binary",
        )
        xy = np.array([
            [0, 0], [2, 0], [2, 2], [0, 2],          # vertices
            [1, 0], [2, 1], [1, 2], [0, 1],          # edge midpoints
            [1, 1], [3, 1],                          # inside, outside
            [1, -1e-13], [1, -1e-9], [2 + 1e-13, 1.5],
        ], dtype=np.float64)
        pts = spark.createDataFrame(
            pd.DataFrame({"pt_id": np.arange(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]}),
            "pt_id long, lon double, lat double",
        )
        prep = PreparedPolygons(wkb.pack([wkb.polygon_wkb([ring])]))
        for covers in (False, True):
            out = spatial_join.point_in_polygon_join(pts, polys, covers=covers)
            assert explain.python_eval_nodes(out) == 0
            got = sorted(r.pt_id for r in out.collect())
            want = np.flatnonzero(
                prep.contains(xy[:, 0], xy[:, 1], np.zeros(len(xy), np.int64), covers=covers)
            ).tolist()
            assert got == want
        # every vertex and edge point is covered; the bbox pre-reject
        # drops the points just outside it
        assert want == [0, 1, 2, 3, 4, 5, 6, 7, 8]

    def test_fully_contained_short_circuits(self, spark, points, polygons):
        # the covering must classify a meaningful interior share for the
        # big city polygon — otherwise every pair pays Python refinement
        pc = spatial_join.build_polygon_cells_adaptive(polygons, 13, 13)
        frac = (
            pc.groupBy().agg(F.avg(F.col("fully_contained").cast("double"))).collect()[0][0]
        )
        assert frac > 0.3

    @staticmethod
    def _spy_occupied(monkeypatch):
        """Record, per driver-built covering, whether it was pruned."""
        from sophox_spark.geometry import cover

        seen = []
        kernel = cover.cover_polygons_adaptive

        def spy(*a, **kw):
            seen.append(kw.get("occupied") is not None)
            return kernel(*a, **kw)

        monkeypatch.setattr(cover, "cover_polygons_adaptive", spy)
        monkeypatch.setattr(spatial_join, "_memo", lambda spark: spatial_join._DimMemo())
        return seen

    @pytest.mark.parametrize("res", [(8, 13), 13])
    def test_pruned_covering_same_rows(self, spark, points, polygons, monkeypatch, res):
        """The covering pruned to the points' cells joins to rows
        identical to the full covering (a cap of 0 never prunes)."""
        seen = self._spy_occupied(monkeypatch)
        pruned = sorted(map(tuple, spatial_join.point_in_polygon_join(
            points, polygons, res=res).collect()))
        monkeypatch.setattr(spatial_join, "_PRUNE_MAX_CELLS", 0)
        full = sorted(map(tuple, spatial_join.point_in_polygon_join(
            points, polygons, res=res).collect()))
        assert seen == [True, False]
        assert pruned == full and len(full) > 0

    def test_nondeterministic_points_not_pruned(self, spark, points, polygons, monkeypatch):
        """A points plan with rand() would be read twice (probe, then
        action) — it must take the full covering and return exactly the
        unpruned result."""
        jittered = points.withColumn("lon", F.col("lon") + (F.rand(7) - 0.5) * 1e-3)
        seen = self._spy_occupied(monkeypatch)
        got = sorted(map(tuple, spatial_join.point_in_polygon_join(
            jittered, polygons, res=(8, 13)).collect()))
        monkeypatch.setattr(spatial_join, "_PRUNE_MAX_CELLS", 0)
        want = sorted(map(tuple, spatial_join.point_in_polygon_join(
            jittered, polygons, res=(8, 13)).collect()))
        assert seen == [False, False]
        assert got == want and len(want) > 0


class TestPipDimMemo:
    """The broadcast route prepares a collected dim once per session and
    reuses it while the dim is the same (plan, columns, input files'
    length and modification time); a hit returns the rows of a miss."""

    @pytest.fixture(autouse=True)
    def _empty_memo(self, spark):
        spatial_join._memo(spark).clear()

    @staticmethod
    def _write(path, pdf):
        pq.write_table(
            pa.Table.from_pandas(pdf[["polygon_id", "geom"]], preserve_index=False), path
        )

    @staticmethod
    def _count_calls(monkeypatch, module, name):
        calls = []
        real = getattr(module, name)

        def spy(*a, **kw):
            calls.append(a)
            return real(*a, **kw)

        monkeypatch.setattr(module, name, spy)
        return calls

    @staticmethod
    def _join(caplog, *args, **kwargs):
        """(sorted (pt_id, polygon_id) rows, [route of each route record])."""
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger="sophox_spark.route"):
            out = spatial_join.point_in_polygon_join(*args, **kwargs)
        routes = [r.route for r in caplog.records if r.name == "sophox_spark.route"]
        return sorted((r.pt_id, r.polygon_id) for r in out.collect()), routes

    def test_second_call_runs_no_dim_job(self, spark, points, tmp_path, jobs_of, monkeypatch):
        path = str(tmp_path / "polys.parquet")
        pdf = synth.admin_polygons_pdf(40)
        self._write(path, pdf)
        edge_builds = self._count_calls(monkeypatch, spatial_join, "_edge_table")
        runs = []
        for _ in range(2):
            dim = spark.read.parquet(path)
            out, jobs = jobs_of(
                lambda: spatial_join.point_in_polygon_join(points, dim, res=(8, 13))
            )
            runs.append((len(jobs), {(r.pt_id, r.polygon_id) for r in out.collect()}))
        (first, rows1), (second, rows2) = runs
        assert first - second == 2  # the size probe and the payload collect
        assert len(edge_builds) == 1
        assert rows1 == rows2 == oracle_pip(points.toPandas(), pdf)

    def test_rewritten_file_misses(self, spark, points, tmp_path, caplog):
        """A pyarrow rewrite keeps the file's name; its new length
        still misses the memo, and the join reads the new polygons."""
        path = str(tmp_path / "polys.parquet")
        pdf = synth.admin_polygons_pdf(40)
        self._write(path, pdf)
        _, routes = self._join(caplog, points, spark.read.parquet(path))
        assert routes == ["collect"]
        fewer = pdf.iloc[::2]
        self._write(path, fewer)
        got, routes = self._join(caplog, points, spark.read.parquet(path))
        assert routes == ["collect"]
        assert set(got) == oracle_pip(points.toPandas(), fewer) and got

    def test_changed_res_rebuilds_only_the_covering(self, spark, points, tmp_path, monkeypatch):
        path = str(tmp_path / "polys.parquet")
        pdf = synth.admin_polygons_pdf(40)
        self._write(path, pdf)
        spatial_join.point_in_polygon_join(points, spark.read.parquet(path), res=13)
        collects = self._count_calls(monkeypatch, route, "bounded_collect")
        edge_builds = self._count_calls(monkeypatch, spatial_join, "_edge_table")
        covers = self._count_calls(monkeypatch, spatial_join, "_cover_table")
        out = spatial_join.point_in_polygon_join(points, spark.read.parquet(path), res=(8, 13))
        got = {(r.pt_id, r.polygon_id) for r in out.collect()}
        assert (len(collects), len(edge_builds), len(covers)) == (0, 0, 1)
        assert got == oracle_pip(points.toPandas(), pdf)

    def test_nondeterministic_dim_never_memoised(self, spark, points, polygons, caplog):
        dim = polygons.withColumn("r", F.rand(3))
        first, routes1 = self._join(caplog, points, dim)
        second, routes2 = self._join(caplog, points, dim)
        assert routes1 == routes2 == ["collect"]
        assert first == second and first

    def test_local_relations_differ_by_content(self, spark, points, caplog):
        pdf = synth.admin_polygons_pdf(40)[["polygon_id", "geom"]]
        a, b = pdf.iloc[:20], pdf.iloc[20:]
        schema = "polygon_id long, geom binary"
        _, routes = self._join(caplog, points, spark.createDataFrame(a, schema))
        assert routes == ["collect"]
        got, routes = self._join(caplog, points, spark.createDataFrame(b, schema))
        assert routes == ["collect"]
        assert set(got) == oracle_pip(points.toPandas(), b) and got
        _, routes = self._join(caplog, points, spark.createDataFrame(a, schema))
        assert routes == ["memo"]

    @pytest.mark.parametrize("pruned", [True, False], ids=["pruned", "full"])
    def test_hit_rows_equal_miss_rows(self, spark, points, tmp_path, caplog, monkeypatch, pruned):
        """A miss and a hit, at res (8, 13) with ``covers`` and ``salt``:
        the same rows; a call that does not prune reuses the full
        covering the miss built."""
        path = str(tmp_path / "polys.parquet")
        self._write(path, synth.admin_polygons_pdf(40))
        if not pruned:
            monkeypatch.setattr(spatial_join, "_PRUNE_MAX_CELLS", 0)
        covers = self._count_calls(monkeypatch, spatial_join, "_cover_table")
        kw = dict(res=(8, 13), covers=True, salt=4)
        miss, routes1 = self._join(caplog, points, spark.read.parquet(path), **kw)
        hit, routes2 = self._join(caplog, points, spark.read.parquet(path), **kw)
        assert (routes1, routes2) == (["collect"], ["memo"])
        assert hit == miss and miss
        assert len(covers) == (2 if pruned else 1)


class TestCoveringAutoRoute:
    @pytest.mark.parametrize("res", [(8, 12), 12], ids=["res8-12", "res12"])
    def test_executor_covering_equals_kernel(self, spark, res):
        """The executor-built covering (one mapInArrow over the dim's
        partitions) emits exactly the rows, fully_contained flags
        included, of ``cover.cover_polygons_adaptive`` over the whole
        dim at once — for a dim with a NULL geometry, a polygon with a
        hole and a multipolygon, spread over several partitions."""
        from sophox_spark.geometry import cover

        pdf = synth.admin_polygons_pdf(12)[["polygon_id", "geom"]]
        pdf = pd.concat(
            [pdf, pd.DataFrame({"polygon_id": [99], "geom": [None]})],
            ignore_index=True,
        )
        dim = spark.createDataFrame(pdf, "polygon_id long, geom binary").repartition(3)
        assert dim.rdd.getNumPartitions() >= 2
        res_min, res_max = res if isinstance(res, tuple) else (res, res)
        got = sorted(map(tuple, spatial_join.build_polygon_cells_adaptive(
            dim, res_min, res_max).collect()))
        pi, cells, full = cover.cover_polygons_adaptive(
            wkb.pack(pdf["geom"].tolist()), res_min, res_max
        )
        want = sorted(zip(
            cells.tolist(), pdf["polygon_id"].to_numpy()[pi].tolist(), full.tolist()
        ))
        assert got == want
        assert {p for _, p, _ in want} == set(range(12))
        assert any(f for _, _, f in want) and not all(f for _, _, f in want)

    def test_probe_fast_path_small_dim(self, spark, polygons):
        want = {
            r.polygon_id: bytes(r.geom)
            for r in polygons.collect()
            if r.geom is not None
        }
        for dim in (polygons, polygons.repartition(4)):
            table = route.bounded_collect(
                dim.select("polygon_id", "geom"), F.length("geom"), "test", 64 << 20
            )
            assert table is not None
            mapping = {
                i: g for i, g in zip(table.column("polygon_id").to_pylist(),
                                     table.column("geom").to_pylist())
                if g is not None
            }
            assert mapping == want
            lens = pc.binary_length(table.column("geom"))
            assert pc.max(lens).as_py() == max(len(g) for g in want.values())
            assert pc.sum(lens).as_py() == sum(len(g) for g in want.values())

    def test_probe_fast_path_over_budget_no_collect(self, spark, polygons, monkeypatch):
        """A dim of few huge polygons over budget must be refused via the
        executor-side sizing probe, never collected."""
        collected = _spy_driver_columns(monkeypatch, polygons)
        table = route.bounded_collect(
            polygons.repartition(4).select("polygon_id", "geom"),
            F.length("geom"), "test", 1,
        )
        assert table is None
        assert collected and not any("geom" in cols for cols in collected)

    def test_probe_streams_big_dim(self, spark, monkeypatch):
        """> _PROBE_ROWS rows: the sizes must stream through the bounded
        toLocalIterator and abort once over budget, no payload
        collected; within budget every row comes back."""
        polys, blobs = _many_small_polygons(spark, route._PROBE_ROWS + 64)
        collected = _spy_driver_columns(monkeypatch, polys)
        assert route.bounded_collect(polys, F.length("geom"), "test", 1024) is None
        # the probe's rows fit, the whole input does not: the stream aborts
        past_probe = (route._PROBE_ROWS + 8) * len(blobs[0])
        assert route.bounded_collect(polys, F.length("geom"), "test", past_probe) is None
        assert ["length(geom)"] in collected
        assert not any("geom" in cols for cols in collected)
        table = route.bounded_collect(polys, F.length("geom"), "test", 64 << 20)
        assert table is not None and table.num_rows == len(blobs)
        lens = pc.binary_length(table.column("geom"))
        assert pc.max(lens).as_py() == max(len(b) for b in blobs)
        assert pc.sum(lens).as_py() == sum(len(b) for b in blobs)

    def test_collect_streamed_input_within_budget_returns_every_row(
        self, spark, monkeypatch
    ):
        """An input larger than the probe but inside the budget takes
        the streamed sizing and then returns every row, unchanged."""
        polys, blobs = _many_small_polygons(spark, 2 * route._PROBE_ROWS + 1)
        collected = _spy_driver_columns(monkeypatch, polys)
        table = route.bounded_collect(
            polys, F.length("geom"), "test", sum(len(b) for b in blobs)
        )
        assert ["length(geom)"] in collected  # the streamed sizes
        assert table is not None
        got = dict(zip(table.column("polygon_id").to_pylist(),
                       table.column("geom").to_pylist()))
        assert got == dict(enumerate(blobs))


def _many_small_polygons(spark, n):
    """``n`` small squares as a 4-partition (polygon_id, geom) dim."""
    blobs = [
        wkb.polygon_wkb(
            [np.array([[a, 0.0], [a + 0.4, 0.0], [a + 0.4, 0.4], [a, 0.4]])]
        )
        for a in (np.arange(n) % 300) * 0.5 - 75.0
    ]
    polys = spark.createDataFrame(
        pd.DataFrame({"polygon_id": np.arange(n), "geom": blobs}),
        "polygon_id long, geom binary",
    ).repartition(4)
    return polys, blobs


def _spy_driver_columns(monkeypatch, df):
    """Record the columns of every DataFrame (of ``df``'s class) brought
    to the driver by ``toArrow`` or ``toLocalIterator``."""
    seen = []
    for name in ("toArrow", "toLocalIterator"):
        orig = getattr(type(df), name)

        def spy(frame, *a, _orig=orig, **kw):
            seen.append(list(frame.columns))
            return _orig(frame, *a, **kw)

        monkeypatch.setattr(type(df), name, spy)
    return seen


class TestKnn:
    def test_matches_bruteforce(self, spark, points, polygons):
        pois = synth.pois_df(spark, 300).cache()
        got = knn.knn_join(
            points, pois, k=3, point_key="pt_id", res=13
        )
        want = knn.brute_force_knn(points, pois, k=3, point_key="pt_id")
        g = {(r.pt_id, r.poi_id, r.rank) for r in got.collect()}
        w = {(r.pt_id, r.poi_id, r.rank) for r in want.collect()}
        assert g == w

    def test_neighbor_across_the_pole(self, spark):
        """Five POIs worldwide start the ladder at res 2, whose polar
        cell reaches the pole: the second-nearest POI (35.5° away, just
        beyond the pole) lies outside the point's 3×3 block yet nearer
        than one cell width at the point's latitude, so the ring level
        must not call the point resolved."""
        pts = spark.createDataFrame(
            [(0, -27.6, -53.4)], "pt_id long, lon double, lat double"
        )
        pois = spark.createDataFrame(
            [(1, 126.9, -88.7), (2, 40.7, -55.6), (3, 3.4, -39.3),
             (4, 150.0, 60.0), (5, -150.0, 10.0)],
            "poi_id long, lon double, lat double",
        )
        got = knn.knn_join(pts, pois, k=2, point_key="pt_id")
        want = knn.brute_force_knn(pts, pois, k=2, point_key="pt_id")
        assert [(r.poi_id, r.rank) for r in got.orderBy("rank").collect()] == [(3, 1), (1, 2)]
        assert {(r.poi_id, r.rank) for r in want.collect()} == {(3, 1), (1, 2)}

    def test_isolated_points_escalate(self, spark):
        # 1 poi far away from all points → needs many rings, still exact
        pts = spark.createDataFrame(
            pd.DataFrame({"pt_id": [0, 1], "lon": [0.0, 20.0], "lat": [0.0, 40.0]}),
            "pt_id long, lon double, lat double",
        )
        pois = spark.createDataFrame(
            pd.DataFrame({"poi_id": [7], "name": ["x"], "category": ["c"],
                          "lon": [10.0], "lat": [20.0]}),
            synth.POIS_SCHEMA,
        )
        got = knn.knn_join(pts, pois, k=1, point_key="pt_id", res=13)
        rows = got.collect()
        assert {r.pt_id for r in rows} == {0, 1}
        assert all(r.poi_id == 7 for r in rows)


class TestTiles:
    def test_point_tiles_match_numpy(self, spark, points):
        out = tiles.assign_point_tiles(points, [7, 12]).toPandas()
        for z in (7, 12):
            x, y = simp.tile_xyz(out["lon"].to_numpy(), out["lat"].to_numpy(), z)
            assert np.array_equal(out[f"tile_x_{z}"].to_numpy(), x)
            assert np.array_equal(out[f"tile_y_{z}"].to_numpy(), y)

    def test_polygon_tile_cover_superset(self, spark, points, polygons):
        z = 10
        cov = tiles.cover_polygon_tiles(polygons, z).toPandas()
        cover_set = {(int(r.polygon_id), int(r.tile_x), int(r.tile_y)) for r in cov.itertuples()}
        # any point inside a polygon must land in a covered tile
        pip = spatial_join.point_in_polygon_join(points, polygons).toPandas()
        pts = points.toPandas().set_index("pt_id")
        for r in pip.itertuples():
            lon, lat = pts.loc[r.pt_id, "lon"], pts.loc[r.pt_id, "lat"]
            x, y = simp.tile_xyz([lon], [lat], z)
            assert (int(r.polygon_id), int(x[0]), int(y[0])) in cover_set

    def test_vector_tile_features_quantized(self, spark, polygons):
        vt = tiles.vector_tile_features(polygons.limit(5), z=8, extent=4096)
        pdf = vt.toPandas()
        assert len(pdf) > 0
        assert (pdf["coords_q"].map(len) % 2 == 0).all()


class TestDissolve:
    def test_nparts_and_pip_consistency(self, spark, polygons):
        d = dissolve.dissolve(polygons, key="wikidata").toPandas()
        src = polygons.toPandas()
        # part counts: one part per source polygon part
        for r in d.itertuples():
            n_src = sum(
                len(wkb.decode_one(bytes(g)))
                for g in src[src["wikidata"] == r.wikidata]["geom"]
            )
            assert r.n_parts == n_src

    def test_union_merges_overlapping_parts(self, spark):
        """ST_Union semantics (wd_only_sql.js:8-17): two OVERLAPPING
        parts of one id dissolve into a single boundary whose area is
        the inclusion-exclusion union, not a 2-part multipart."""
        from sophox_spark.geometry import core

        a = wkb.polygon_wkb(
            [np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])]
        )
        b = wkb.polygon_wkb(
            [np.array([[0.6, 0.3], [1.6, 0.3], [1.6, 1.3], [0.6, 1.3]])]
        )
        df = spark.createDataFrame(
            pd.DataFrame({"wikidata": ["Q7", "Q7"], "geom": [a, b]}),
            "wikidata string, geom binary",
        )
        r = dissolve.dissolve(df, key="wikidata").collect()[0]
        assert r.n_parts == 1
        parts = wkb.decode_one(bytes(r.geom))
        assert len(parts) == 1 and len(parts[0]) == 1
        area = abs(core.ring_signed_area(parts[0][0]))
        assert area == pytest.approx(2.0 - 0.4 * 0.7)

    def test_two_phase_hot_key(self, spark):
        """north_rule skew: one key with 10^5 parts spread over 16
        partitions must be partially merged map-side (MapInPandas before
        the shuffle), then finalized per key — and stay correct."""
        tri = wkb.polygon_wkb([np.array([[0.0, 0.0], [1.0, 0.0], [0.5, 1.0]])])
        pdf = pd.DataFrame({"wikidata": ["Q1"] * 100_000, "geom": [tri] * 100_000})
        df = spark.createDataFrame(pdf, "wikidata string, geom binary").repartition(16)
        out = dissolve.dissolve(df, key="wikidata")
        from sophox_spark.plans import explain

        plan = explain.formatted_plan(out)
        # exactly two python crossings: map-side partial + final merge,
        # with the partial BEFORE the exchange (map-side)
        assert explain.python_eval_nodes(out) == 2
        assert "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan
        r = out.collect()[0]
        assert r.n_parts == 100_000
        assert len(wkb.decode_one(bytes(r.geom))) == 100_000

    def test_clipped_regions_matches_sequential_bruteforce(self, spark, monkeypatch):
        """The distributed cell-candidate clip must equal the sequential
        every-region-×-every-water reference on a fixture with crossing,
        disjoint, contained, shared-edge, and HOLED water (islands in
        lakes stay land)."""
        from sophox_spark.geometry import clip, core

        def sq(x0, y0, s):
            return np.array(
                [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]], float
            )

        regions = {
            1: [[sq(0, 0, 4)]],
            2: [[sq(10, 0, 4)]],                       # no water near
            3: [[sq(0, 10, 4)], [sq(6, 10, 2)]],       # multipart region
            4: [[sq(20, 20, 4), sq(21, 21, 1)]],       # region with own hole
        }
        waters = [
            [sq(3, 3, 2)],                              # crosses region 1
            [sq(1, 1, 1)],                              # strictly inside region 1
            [sq(-1, 10, 2)],                            # crosses region 3 part 1
            [sq(0.5, 10.5, 2), sq(1.0, 11.0, 0.5)],     # HOLED lake over region 3
            [sq(22, 22, 3)],                            # crosses region 4
            [sq(100, 100, 1)],                          # far away
        ]
        rdf = spark.createDataFrame(
            pd.DataFrame(
                {
                    "polygon_id": list(regions),
                    "geom": [wkb.multipolygon_wkb(p) for p in regions.values()],
                }
            ),
            "polygon_id long, geom binary",
        ).repartition(4)
        wdf = spark.createDataFrame(
            pd.DataFrame({"geom": [wkb.polygon_wkb(w) for w in waters]}),
            "geom binary",
        ).repartition(3)

        # a collect budget of 0 forces the DISTRIBUTED path; the
        # default takes the broadcast fast path — both must agree with
        # the sequential reference AND each other
        with monkeypatch.context() as m:
            m.setattr(route, "MAX_COLLECT_BYTES", 0)
            res = dissolve.clipped_regions(rdf, wdf).collect()
        got = {r.polygon_id: (r.area, r.n_rings, r.n_fallbacks) for r in res}
        got_geom = {r.polygon_id: bytes(r.geom) for r in res}
        fast = dissolve.clipped_regions(rdf, wdf).collect()
        assert {
            (r.polygon_id, r.area, r.n_rings, r.n_fallbacks, bytes(r.geom))
            for r in fast
        } == {
            (r.polygon_id, r.area, r.n_rings, r.n_fallbacks, bytes(r.geom))
            for r in res
        }  # paths byte-identical

        # sequential reference: same clip kernel, naive all-pairs
        want = {}
        for pid, parts in regions.items():
            parts = [list(p) for p in parts]
            n_fb = 0
            for w in waters:
                nxt = []
                for part in parts:
                    e, we = part[0], w[0]
                    if (we[:, 0].max() < e[:, 0].min() or e[:, 0].max() < we[:, 0].min()
                            or we[:, 1].max() < e[:, 1].min() or e[:, 1].max() < we[:, 1].min()):
                        nxt.append(part)
                        continue
                    res, fb = clip.difference_full(part, w)
                    n_fb += fb
                    nxt.extend(res)
                parts = nxt
            area = sum(
                abs(core.ring_signed_area(p[0]))
                - sum(abs(core.ring_signed_area(h)) for h in p[1:])
                for p in parts
            )
            want[pid] = (area, parts, n_fb)

        from sophox_spark.geometry.pip import point_in_rings

        def is_land(parts, x, y):
            return any(
                point_in_rings(x, y, [(p[0], False)])
                and not any(point_in_rings(x, y, [(h, False)]) for h in p[1:])
                for p in parts
            )

        assert set(got) == set(want)
        rng = np.random.default_rng(7)
        for pid in want:
            w_area, w_parts, w_fb = want[pid]
            assert got[pid][0] == pytest.approx(w_area), pid
            assert got[pid][2] == w_fb, pid
            # ring COUNT is representation-dependent across subtraction
            # orders — equivalence is checked by point membership instead
            g_parts = wkb.decode_one(got_geom[pid])
            all_x = np.concatenate([p[0][:, 0] for p in w_parts])
            all_y = np.concatenate([p[0][:, 1] for p in w_parts])
            xs = rng.uniform(all_x.min() - 1, all_x.max() + 1, 300)
            ys = rng.uniform(all_y.min() - 1, all_y.max() + 1, 300)
            for x, y in zip(xs, ys):
                assert is_land(g_parts, x, y) == is_land(w_parts, x, y), (pid, x, y)
        # sanity on the holed lake: the island inside the lake over
        # region 3 stays LAND in the distributed output
        assert is_land(wkb.decode_one(got_geom[3]), 1.25, 11.25)
        assert not is_land(wkb.decode_one(got_geom[3]), 2.0, 12.0)  # lake water

    def test_centroids_match_avg(self, spark, points):
        pts = points.withColumn("grp", (F.col("pt_id") % 7).cast("string"))
        got = dissolve.centroids(pts, "grp").toPandas().set_index("grp")
        pdf = pts.toPandas()
        for g, sub in pdf.groupby("grp"):
            assert got.loc[g, "centroid_lon"] == pytest.approx(sub["lon"].mean())
            assert got.loc[g, "centroid_lat"] == pytest.approx(sub["lat"].mean())

    def test_representative_points_inside(self, spark, polygons):
        reps = dissolve.representative_points(polygons).toPandas()
        src = polygons.toPandas().set_index("polygon_id")
        for r in reps.itertuples():
            packed = wkb.pack([src.loc[r.polygon_id, "geom"]])
            assert point_in_rings(r.rep_lon, r.rep_lat, list(packed.rings_of(0)))

    def test_regions_geojson_pipeline(self, spark, polygons):
        import json

        ids = polygons.select("wikidata").distinct().limit(5)
        out = dissolve.regions_geojson(polygons, ids).toPandas()
        assert len(out) == 5
        for r in out.itertuples():
            f = json.loads(r.geojson)
            assert f["type"] == "Feature"
            assert f["geometry"]["type"] == "MultiPolygon"
            assert r.n_vertices_out <= r.n_vertices_in
            # quantized coords within grid
            for poly in f["geometry"]["coordinates"]:
                for ring in poly:
                    arr = np.asarray(ring)
                    assert arr.min() >= 0 and arr.max() <= 9999


class TestCellExprParity:
    def test_native_expr_equals_numpy_kernel(self, spark):
        """cell_expr (JVM codegen) and cell_col (numpy kernel) must be
        bit-identical — including invalid coords and boundary values."""
        import pandas as pd

        vals = pd.DataFrame(
            {
                "lon": [0.0, -180.0, 180.0, 179.9999999, -2.2e-16, 13.4,
                        float("nan"), 200.0, -180.0, 45.123456],
                "lat": [0.0, -90.0, 90.0, 89.9999999, -2.2e-16, 52.5,
                        0.0, 0.0, 91.0, -33.987654],
            }
        )
        df = spark.createDataFrame(vals, "lon double, lat double")
        for res in (3, 13, 18, 28):
            out = df.select(
                spatial_join.cell_expr("lon", "lat", res).alias("native"),
                spatial_join.cell_col("lon", "lat", res).alias("numpy"),
            ).toPandas()
            assert (out["native"] == out["numpy"]).all(), (res, out)
        # and against a large random sample
        lon, lat = synth.random_points(5000, salt=123)
        big = spark.createDataFrame(
            pd.DataFrame({"lon": lon, "lat": lat}), "lon double, lat double"
        )
        out = big.select(
            spatial_join.cell_expr("lon", "lat", 15).alias("native"),
            spatial_join.cell_col("lon", "lat", 15).alias("numpy"),
        ).toPandas()
        assert (out["native"] == out["numpy"]).all()


class TestTopojson:
    """Arc topology (server.js:198-210): shared borders dedupe into one
    arc referenced forward (+i) and backward (~i)."""

    def test_adjacent_rects_share_arc(self):
        from sophox_spark.operators import topojson as tj

        A = [(0, 0), (2, 0), (2, 1), (2, 2), (0, 2)]
        B = [(2, 0), (4, 0), (4, 2), (2, 2), (2, 1)]
        topo = tj.build_topology([("a", [[A]]), ("b", [[B]])])
        assert len(topo["arcs"]) == 3
        refs = [
            ref
            for g in topo["objects"]["regions"]["geometries"]
            for poly in g["arcs"]
            for ring in poly
            for ref in ring
        ]
        # the shared border appears once forward and once ones'-complement
        shared = [r for r in refs if r < 0]
        assert len(shared) == 1
        # interior point (2,1) of the shared border is NOT a junction:
        # the shared arc carries all 3 points
        arc_lens = sorted(len(a) for a in topo["arcs"])
        assert arc_lens == [3, 4, 4]

    def test_reconstruction_roundtrip(self):
        from sophox_spark.operators import topojson as tj

        rng = np.random.default_rng(5)

        def star(cx, cy, n=10):
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            rad = rng.uniform(0.4, 1.0, n)
            pts = np.stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1
            )
            return [tuple(p) for p in np.round(pts * 100).astype(int).tolist()]

        feats = [(f"f{i}", [[star(i * 3, 0)]]) for i in range(4)]
        topo = tj.build_topology(feats)
        # disjoint rings: one closed arc each, nothing shared
        assert len(topo["arcs"]) == 4
        for (fid, polys), g in zip(feats, topo["objects"]["regions"]["geometries"]):
            got = tj.expand_ring(topo, g["arcs"][0][0])
            want = polys[0][0]
            # cyclic equality (arc cutting may rotate the start point)
            assert len(got) == len(want)
            k = want.index(got[0])
            assert got == want[k:] + want[:k]

    def test_regions_topojson_spark(self, spark):
        from sophox_spark.operators import topojson as tj

        # 3×2 grid of adjacent rects: 7 interior borders must be shared
        rows = []
        for i in range(3):
            for j in range(2):
                ring = np.array(
                    [
                        [i * 1.0, j * 1.0], [i + 1.0, j * 1.0],
                        [i + 1.0, j + 1.0], [i * 1.0, j + 1.0],
                    ]
                )
                rows.append((f"Q{i}{j}", wkb.polygon_wkb([ring])))
        polys = spark.createDataFrame(
            pd.DataFrame(rows, columns=["wikidata", "geom"]),
            "wikidata string, geom binary",
        )
        ids = polys.select("wikidata").distinct()
        out = tj.regions_topojson(
            polys, ids, quantile_p=0.0, spherical=False
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_features == 6
        # interior borders: 2 vertical ones per row boundary... exactly:
        # vertical interior edges = 2 cols × 2 = 4, horizontal = 3
        assert r.n_shared_arcs == 7
        import json as _json

        topo = _json.loads(r.topology)
        # every ring reconstructs to a closed 4-corner rect
        for g in topo["objects"]["regions"]["geometries"]:
            ring = tj.expand_ring(topo, g["arcs"][0][0])
            assert len(ring) == 4
