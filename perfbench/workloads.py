"""The workloads: seeded inputs, one unit of timed work, and the checks
of that work against ``oracles``.

A unit is what a user waits for: one pass of the batch job
(``bulk_geojoin``) or one micro-batch (``incremental_ingest``). Each
unit calls the engine only through public functions, on inputs read
back from parquet files, so routes gated on ``isLocal()`` see
file-backed tables.
"""

from __future__ import annotations

import inspect
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import inputs as gen
import oracles


def route_budgets() -> dict:
    """The engine's route budgets these inputs sit beside, read from the
    engine (recorded in each run's report so later route changes can see
    which side of each gate a workload is on)."""
    from sophox_spark.operators import knn, spatial_join

    pip = inspect.signature(spatial_join.point_in_polygon_join).parameters
    return dict(driver_cover_max_bytes=spatial_join._DRIVER_COVER_MAX_BYTES,
                broadcast_max_bytes=pip["broadcast_max_bytes"].default,
                poi_collect_max_rows=knn._POI_COLLECT_MAX_ROWS)


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, names in os.walk(path) for f in names if f.endswith(".parquet"))


@dataclass
class UnitResult:
    join_rows: int             # PIP output pairs of the unit
    join_s: float              # PIP build + action time
    join_cpu_s: float          # CPU seconds of the run's processes during the PIP call
    outputs: dict = field(default_factory=dict)


class Workload:
    name = ""
    ops_per_unit = 1           # ops counted as attempted per unit
    nominal_unit_s = 1.0       # sizes the unit quota for --seconds on a 4-core host
    warm_units = 1             # untimed units on inputs from another seed, before set-up ends
    primed = 0                 # leading units each replay runs untimed, as set-up

    def __init__(self, spark, work: str, scale: float = 1.0):
        self.spark = spark
        self.work = work
        self.scale = scale

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(base * self.scale))

    def quota(self, seconds: float) -> int:
        return max(2, round(seconds / self.nominal_unit_s))

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def start(self, inp, phase: str) -> dict:
        """Fresh state for one replay of the units, named ``phase``."""
        return {"phase": phase}

    def storage(self, state) -> dict | None:
        """Bytes a replay left in the workload's tables, if it has any."""
        return None


class BulkGeojoin(Workload):
    name = "bulk_geojoin"
    ops_per_unit = 3           # PIP, kNN and tiles calls
    nominal_unit_s = 10.0
    zooms = (10, 14)
    k = 3

    def generate(self, seed: int, tag: str, n_units: int):
        rng = np.random.default_rng(seed)
        d = os.path.join(self.work, tag)
        n_pts = self.n(500_000, 1000)
        lon, lat = gen.skewed_points(rng, n_pts)
        polys = gen.star_polygons(rng, 300)
        # kNN cost climbs steeply with POIs per city cell and with the
        # sample size; these keep one pass at a steady few seconds
        n_poi = self.n(10_000, 200)
        poi_lon, poi_lat = gen.skewed_points(rng, n_poi, share=0.05)
        sample = np.sort(rng.choice(n_pts, self.n(2_000, 50), replace=False))
        pt_id = np.arange(n_pts, dtype=np.int64)
        gen.write_table(f"{d}/points.parquet", {"pt_id": pt_id, "lon": lon, "lat": lat},
                        row_group_rows=max(1, n_pts // 8))
        gen.write_polygons(f"{d}/polygons.parquet", polys)
        gen.write_table(f"{d}/pois.parquet", {"poi_id": np.arange(n_poi, dtype=np.int64),
                                             "lon": poi_lon, "lat": poi_lat})
        gen.write_table(f"{d}/knn_points.parquet", {"pt_id": sample, "lon": lon[sample],
                                                   "lat": lat[sample]})
        return dict(dir=d, lon=lon, lat=lat, polys=polys, poi_lon=poi_lon, poi_lat=poi_lat,
                    knn_sample=sample, check=np.sort(rng.choice(n_pts, 2000, replace=False)),
                    knn_check=np.sort(rng.choice(sample, min(200, len(sample)), replace=False)))

    def regime(self, inp) -> dict:
        d = inp["dir"]
        return dict(route_budgets(), points=len(inp["lon"]), city_cell_share=gen.CITY_SHARE,
                    polygons=len(inp["polys"].ids), polygon_wkb_bytes=inp["polys"].wkb_bytes,
                    pois=len(inp["poi_lon"]), knn_points=len(inp["knn_sample"]),
                    is_local=self.read(f"{d}/points.parquet").isLocal())

    def unit(self, run, inp, state, i: int, parent=None) -> UnitResult:
        from sophox_spark.operators import knn, spatial_join, tiles

        d, out = inp["dir"], os.path.join(self.work, "out", state["phase"], f"u{i}")

        def write(name):
            def action(df):
                path = os.path.join(out, name)
                df.write.mode("overwrite").parquet(path)
                return parquet_rows(path), path
            return action

        pip = run(
            "point_in_polygon_join",
            lambda: spatial_join.point_in_polygon_join(
                self.read(f"{d}/points.parquet"), self.read(f"{d}/polygons.parquet"),
                res=(8, 13), salt=4),
            write("pip"), parent)
        res = UnitResult(pip.rows, pip.build_s + pip.action_s, pip.cpu_s, dict(pip=pip.value))
        res.outputs["knn"] = run(
            "knn_join",
            lambda: knn.knn_join(self.read(f"{d}/knn_points.parquet"),
                                 self.read(f"{d}/pois.parquet"), k=self.k, point_key="pt_id"),
            write("knn"), parent).value
        res.outputs["tiles"] = run(
            "assign_point_tiles",
            lambda: tiles.assign_point_tiles(self.read(f"{d}/points.parquet"), list(self.zooms)),
            write("tiles"), parent).value
        return res

    def check(self, inp, res: UnitResult) -> int:
        """Failed ops among the unit's three outputs. The PIP output must
        hold every containment pair once: its row count equals the pairs
        over all points, and on the sample each point's polygon ids match
        with their multiplicity."""
        failed = 0
        chk = inp["check"]
        lon, lat = inp["lon"][chk], inp["lat"][chk]
        if "pip_total" not in inp:
            inp["pip_total"] = oracles.pip_count(inp["polys"].rings, inp["lon"], inp["lat"])
        want = oracles.pip_pairs(inp["polys"].rings, inp["polys"].ids, lon, lat)
        t = pq.read_table(res.outputs["pip"], columns=["pt_id", "polygon_id"],
                          filters=[("pt_id", "in", chk.tolist())]).to_pydict()
        got: dict[int, list] = {}
        for p, g in sorted(zip(t["pt_id"], t["polygon_id"])):
            got.setdefault(p, []).append(g)
        failed += (res.join_rows != inp["pip_total"]
                   or any(got.get(int(p), []) != w for p, w in zip(chk, want)))

        kc = inp["knn_check"]
        want_knn = oracles.knn_ids(inp["lon"][kc], inp["lat"][kc],
                                   np.arange(len(inp["poi_lon"])), inp["poi_lon"],
                                   inp["poi_lat"], self.k)
        t = pq.read_table(res.outputs["knn"], columns=["pt_id", "poi_id", "rank"],
                          filters=[("pt_id", "in", kc.tolist())]).to_pydict()
        got_knn: dict[int, list] = {}
        for p, _rank, poi in sorted(zip(t["pt_id"], t["rank"], t["poi_id"])):
            got_knn.setdefault(p, []).append(poi)
        failed += any(got_knn.get(int(p)) != w for p, w in zip(kc, want_knn))

        cols = ["pt_id"] + [f"tile_{a}_{z}" for z in self.zooms for a in ("x", "y")]
        t = pq.read_table(res.outputs["tiles"], columns=cols,
                          filters=[("pt_id", "in", chk.tolist())]).to_pandas().sort_values("pt_id")
        ok = len(t) == len(chk) and np.array_equal(t["pt_id"].to_numpy(), chk)
        for z in self.zooms:
            x, y = oracles.slippy_tile(lon, lat, z)
            ok = ok and np.array_equal(t[f"tile_x_{z}"].to_numpy(), x) \
                and np.array_equal(t[f"tile_y_{z}"].to_numpy(), y)
        failed += not ok
        return failed


class IncrementalIngest(Workload):
    name = "incremental_ingest"
    nominal_unit_s = 7.0
    primed = 1                 # batch 0 fills the empty table; timed batches all merge
    warm_units = 2             # a fill and a merge
    n_buckets = 64
    recrawl_share = 0.2

    def generate(self, seed: int, tag: str, n_units: int):
        rng = np.random.default_rng(seed)
        d = os.path.join(self.work, tag)
        polys = gen.star_polygons(rng, 300)
        gen.write_polygons(f"{d}/polygons.parquet", polys)
        per_batch = self.n(20, 5)
        next_id, batches, input_bytes = 0, [], []
        for b in range(self.primed + n_units):
            n_re = int(per_batch * self.recrawl_share) if b else 0
            re_ids = rng.choice(next_id, n_re, replace=False) if n_re else np.array([], int)
            ids = np.concatenate([re_ids, np.arange(next_id, next_id + per_batch - n_re)])
            next_id += per_batch - n_re
            batch = gen.page_batch(rng, ids, version=b)
            input_bytes.append(gen.write_pages(f"{d}/pages_{b}.parquet", batch))
            batches.append(batch)
        return dict(dir=d, polys=polys, batches=batches, input_bytes=input_bytes)

    def regime(self, inp) -> dict:
        budgets = route_budgets()
        return dict(pages_per_batch=len(inp["batches"][0].urls), recrawl_share=self.recrawl_share,
                    n_buckets=self.n_buckets, primed_batches=self.primed,
                    polygons=len(inp["polys"].ids), polygon_wkb_bytes=inp["polys"].wkb_bytes,
                    driver_cover_max_bytes=budgets["driver_cover_max_bytes"],
                    broadcast_max_bytes=budgets["broadcast_max_bytes"],
                    is_local=self.read(f"{inp['dir']}/pages_0.parquet").isLocal())

    def start(self, inp, phase: str) -> dict:
        """A fresh table and manifest for one replay of the backlog."""
        from sophox_spark.manifest import Manifest
        from sophox_spark.streaming.incremental import PartitionedSnapshotTable

        root = os.path.join(inp["dir"], phase)
        shutil.rmtree(root, ignore_errors=True)
        table = PartitionedSnapshotTable(
            self.spark, os.path.join(root, "table"), Manifest(self.spark, f"{root}/manifest"),
            "mentions", keys=("url",), n_buckets=self.n_buckets)
        return {"phase": phase, "root": root, "table": table,
                "input_bytes": sum(inp["input_bytes"])}

    def storage(self, state) -> dict:
        m_files, m_bytes = gen.dir_bytes(os.path.join(state["root"], "manifest"))
        _, t_bytes = gen.dir_bytes(os.path.join(state["root"], "table"))
        return dict(manifest_files=m_files, manifest_bytes=m_bytes,
                    stored_bytes_per_input_byte=(m_bytes + t_bytes) / state["input_bytes"])

    def unit(self, run, inp, state, i: int, parent=None) -> UnitResult:
        from pyspark.sql import functions as F
        from sophox_spark.functions import extract
        from sophox_spark.operators import spatial_join

        d, table = inp["dir"], state["table"]
        staged = os.path.join(state["root"], "staged", f"b{i}")

        def stage(df):
            df.write.mode("overwrite").parquet(staged)
            return parquet_rows(staged), staged

        n_extracted = run(
            "extract_mentions", lambda: extract.extract_mentions(self.read(f"{d}/pages_{i}.parquet")),
            stage, parent).rows
        version = run("commit_batch", lambda: table.commit_batch(self.read(staged), seqid=i),
                      lambda v: (n_extracted, v), parent).value
        if run.tracer is not None:
            touched = [b for b, v in table.bucket_versions().items() if v == version]
            run.records["commit_batch"][-1].update(
                buckets_touched_ratio=len(touched) / self.n_buckets,
                bytes_written=gen.dir_bytes(f"{table.path}/v={version}")[1])
        snap = run("read", table.read, lambda df: (df.count(), df), parent)
        pip = run(
            "point_in_polygon_join",
            lambda: spatial_join.point_in_polygon_join(
                snap.value.where(F.col("lat").isNotNull()), self.read(f"{d}/polygons.parquet"),
                res=(8, 13), salt=4),
            lambda df: (df.count(), None), parent)
        return UnitResult(pip.rows, pip.build_s + pip.action_s, pip.cpu_s,
                          dict(batch=i, extracted=n_extracted, snapshot=snap.rows, pairs=pip.rows))

    def expected(self, inp, upto: int):
        """(mentions per batch, snapshot mentions, snapshot PIP pairs) after
        batch ``upto``, from what the generator wrote."""
        coords, counts = {}, {}
        for batch in inp["batches"][:upto + 1]:
            coords.update(batch.coords)
            counts.update(batch.n_mentions)
        pts = np.concatenate(list(coords.values()))
        batch = inp["batches"][upto]
        return (sum(batch.n_mentions.values()), sum(counts.values()),
                oracles.pip_count(inp["polys"].rings, pts[:, 0], pts[:, 1]))

    def check(self, inp, res: UnitResult) -> int:
        o = res.outputs
        want = self.expected(inp, o["batch"])
        return int((o["extracted"], o["snapshot"], o["pairs"]) != want)


WORKLOADS = {w.name: w for w in (BulkGeojoin, IncrementalIngest)}
