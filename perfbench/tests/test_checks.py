"""The output checks of ``bulk_geojoin``, fed with outputs built from the
oracles (so no Spark session is needed)."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oracles
from workloads import BulkGeojoin, UnitResult


@pytest.fixture(scope="module")
def answer(tmp_path_factory):
    """Tiny generated inputs and a correct set of outputs for them."""
    tmp = str(tmp_path_factory.mktemp("bulk"))
    wl = BulkGeojoin(None, tmp, scale=0.004)
    inp = wl.generate(5, "in", 1)
    lon, lat, polys = inp["lon"], inp["lat"], inp["polys"]
    pairs = oracles.pip_pairs(polys.rings, polys.ids, lon, lat)
    pip = [(i, g) for i, gs in enumerate(pairs) for g in gs]
    kc = inp["knn_sample"]
    knn = oracles.knn_ids(lon[kc], lat[kc], np.arange(len(inp["poi_lon"])), inp["poi_lon"],
                          inp["poi_lat"], wl.k)
    tiles = {"pt_id": np.arange(len(lon))}
    for z in wl.zooms:
        tiles[f"tile_x_{z}"], tiles[f"tile_y_{z}"] = oracles.slippy_tile(lon, lat, z)
    out = os.path.join(tmp, "out")
    os.makedirs(out)
    pq.write_table(pa.table({"pt_id": [p for p, _ in pip], "polygon_id": [g for _, g in pip]}),
                   f"{out}/pip.parquet")
    pq.write_table(pa.table({"pt_id": np.repeat(kc, wl.k), "rank": np.tile(np.arange(1, wl.k + 1),
                                                                          len(kc)),
                             "poi_id": np.concatenate(knn)}), f"{out}/knn.parquet")
    pq.write_table(pa.table(tiles), f"{out}/tiles.parquet")
    return wl, inp, pip, out


def result(out, pip_path, rows):
    return UnitResult(rows, 1.0, 1.0, dict(pip=pip_path, knn=f"{out}/knn.parquet",
                                      tiles=f"{out}/tiles.parquet"))


def test_correct_outputs_pass(answer):
    wl, inp, pip, out = answer
    assert len(pip) > 0
    assert wl.check(inp, result(out, f"{out}/pip.parquet", len(pip))) == 0


def test_duplicate_pip_pair_fails(answer, tmp_path):
    wl, inp, pip, out = answer
    dup = pip + [pip[0]]
    pq.write_table(pa.table({"pt_id": [p for p, _ in dup], "polygon_id": [g for _, g in dup]}),
                   tmp_path / "pip.parquet")
    assert wl.check(inp, result(out, str(tmp_path / "pip.parquet"), len(dup))) == 1


def test_missing_pip_pair_fails(answer, tmp_path):
    wl, inp, pip, out = answer
    kept = pip[1:]
    pq.write_table(pa.table({"pt_id": [p for p, _ in kept], "polygon_id": [g for _, g in kept]}),
                   tmp_path / "pip.parquet")
    assert wl.check(inp, result(out, str(tmp_path / "pip.parquet"), len(kept))) == 1
