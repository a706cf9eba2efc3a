"""Physical-plan assertions: the optimizations we rely on actually
happen (SURVEY §4) — pushdown, pruning, broadcast strategy, JVM-only
hot paths, partial aggregation."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sophox_spark.operators import knn, spatial_join, tiles
from sophox_spark.plans import explain
from sophox_spark.sources import synth

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def points(spark):
    lon, lat = synth.random_points(500, salt=3)
    pdf = pd.DataFrame({"pt_id": np.arange(500, dtype=np.int64), "lon": lon, "lat": lat})
    return spark.createDataFrame(pdf, "pt_id long, lon double, lat double")


class TestScanOptimizations:
    def test_filter_pushdown_to_parquet(self, spark):
        df = (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .filter(F.col("l_quantity") > 49)
            .select("l_orderkey")
        )
        pushed = explain.pushed_filters(df)
        assert pushed and "l_quantity" in pushed[0]

    def test_column_pruning(self, spark):
        df = (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("q"))
        )
        cols = explain.read_schema_columns(df)
        assert set(cols) == {"l_returnflag", "l_quantity"}

    def test_partial_aggregation(self, spark):
        df = (
            spark.read.parquet(f"{SF}/lineitem.parquet")
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity"))
        )
        plan = explain.formatted_plan(df)
        # two-phase agg: partial + final HashAggregate
        assert plan.count("HashAggregate") >= 2


class TestSpatialJoinPlan:
    def test_dim_broadcast_no_smj(self, spark, points):
        polygons = synth.admin_polygons_df(spark, 40)
        out = spatial_join.point_in_polygon_join(points, polygons)
        assert explain.has_broadcast_join(out)
        assert not explain.has_sort_merge_join(out)

    def test_fact_side_not_shuffled_when_broadcast(self, spark, points):
        polygons = synth.admin_polygons_df(spark, 40)
        pcells = spatial_join.build_polygon_cells_adaptive(polygons, 13, 13).localCheckpoint()
        out = spatial_join.point_in_polygon_join(
            points, polygons, polygon_cells_df=pcells
        )
        # broadcast join: zero non-broadcast exchanges on the whole plan
        assert explain.count_exchanges(out) == 0

    def test_no_python_on_broadcast_path(self, spark, points):
        polygons = synth.admin_polygons_df(spark, 40)
        pcells = spatial_join.build_polygon_cells_adaptive(polygons, 13, 13).localCheckpoint()
        out = spatial_join.point_in_polygon_join(
            points, polygons, polygon_cells_df=pcells
        )
        # ZERO python crossings: cell encode, accept path AND the
        # even-odd ray-cast refine (a codegen'd higher-order filter
        # over broadcast edge arrays) are all native expressions
        assert explain.python_eval_nodes(out) == 0

    def test_covers_refine_runs_in_jvm(self, spark, points):
        # the boundary-eps covers test is a higher-order exists over the
        # same broadcast edge arrays as the ray cast: no Python crossing
        polygons = synth.admin_polygons_df(spark, 40)
        out = spatial_join.point_in_polygon_join(points, polygons, covers=True)
        assert explain.python_eval_nodes(out) == 0
        assert explain.has_broadcast_join(out)

    def test_shuffle_path_when_not_broadcast(self, spark, points):
        polygons = synth.admin_polygons_df(spark, 40)
        out = spatial_join.point_in_polygon_join(
            points, polygons, broadcast_max_bytes=0
        )
        assert explain.count_exchanges(out) >= 1

    def test_auto_dispatch_engages_shuffle_above_budget(self, spark, points):
        """The dim probe sizes the dim natively; a dim over
        ``broadcast_max_bytes`` takes the shuffle/partitioned-refine
        path — the defaults can never OOM-collect a planet-scale dim."""
        polygons = synth.admin_polygons_df(spark, 40)
        out = spatial_join.point_in_polygon_join(
            points, polygons, broadcast_max_bytes=1
        )
        assert explain.count_exchanges(out) >= 1
        small = spatial_join.point_in_polygon_join(points, polygons)
        assert explain.has_broadcast_join(small)


class TestKnnPlan:
    def test_candidate_path_native(self, spark, points, monkeypatch):
        pois = synth.pois_df(spark, 200)
        # each ring level is materialized, so its candidate plan is
        # checked where knn_join hands it to localCheckpoint
        levels = []
        checkpoint = type(points).localCheckpoint

        def record(df, *args, **kwargs):
            levels.append(df)
            return checkpoint(df, *args, **kwargs)

        monkeypatch.setattr(type(points), "localCheckpoint", record)
        out = knn.knn_join(points, pois, k=2, point_key="pt_id")
        # the kNN plan must ship NO rows to python (native cell +
        # k-ring + haversine); unioned escalation levels stay JVM-side
        assert levels
        assert all(explain.python_eval_nodes(df) == 0 for df in levels + [out])
        assert all(explain.has_broadcast_join(df) for df in levels)


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


class TestRound2Plans:
    def test_vector_tiles_broadcast_single_pass(self, spark):
        """vector_tile_features fuses covering + quantization into ONE
        partition pass over the polygon dim: no re-attach join, no
        exchange, a single python crossing (r7: formerly covering →
        broadcast join → second crossing)."""
        polygons = synth.admin_polygons_df(spark, 30)
        out = tiles.vector_tile_features(polygons, z=7)
        assert not explain.has_sort_merge_join(out)
        assert explain.count_exchanges(out) == 0
        assert explain.python_eval_nodes(out) == 1

    def test_clipped_regions_distributed_no_driver_collect(self, spark):
        """The clip path is a cell-cover candidate EQUI-join: no
        cartesian/nested-loop product anywhere in the plan, and the
        water side reaches the clip through the join — the only
        collects in clipped_regions are the two bounded resolution
        scalars (one avg, one max), never the water geometry."""
        from sophox_spark.operators import dissolve

        polygons = synth.admin_polygons_df(spark, 30)
        regions = polygons.filter("kind = 'admin'").withColumnRenamed(
            "wikidata", "w"
        ).selectExpr("polygon_id", "geom")
        water = polygons.filter("kind = 'water'").selectExpr("polygon_id", "geom")
        out = dissolve.clipped_regions(regions, water, broadcast_water_max_bytes=0)
        plan = explain.formatted_plan(out)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # candidate pairing joins on the covering cell
        assert "cell" in plan
        import inspect

        src = inspect.getsource(dissolve._clipped_regions_distributed)
        assert ".collect()" not in src  # water geometry stays distributed
        # the small-dim fast path is zero-shuffle
        fast = dissolve.clipped_regions(regions, water)
        assert explain.count_exchanges(fast) == 0
