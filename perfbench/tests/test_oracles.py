import numpy as np

import inputs
import oracles


def test_contains_even_odd_square_with_points_in_and_out():
    ring = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], dtype=float)
    lon = np.array([1.0, 3.0, 1.0, -0.5])
    lat = np.array([1.0, 1.0, 2.5, 1.0])
    assert oracles.contains(ring, lon, lat).tolist() == [True, False, False, False]


def test_pip_pairs_and_count_agree():
    rng = np.random.default_rng(0)
    polys = inputs.star_polygons(rng, 20)
    lon, lat = inputs.skewed_points(rng, 3000)
    pairs = oracles.pip_pairs(polys.rings, polys.ids, lon, lat)
    assert sum(len(p) for p in pairs) == oracles.pip_count(polys.rings, lon, lat)
    # every city-cell point is inside the first polygon, which covers the cell
    x0, y0, x1, y1 = inputs.city_cell_box()
    in_city = (lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)
    assert in_city.mean() >= 0.3
    assert all(0 in pairs[i] for i in np.flatnonzero(in_city))


def test_slippy_tile_known_values():
    x, y = oracles.slippy_tile(np.array([0.0, -180.0, 13.4]), np.array([0.0, 85.0, 52.5]), 1)
    assert x.tolist() == [1, 0, 1] and y.tolist() == [1, 0, 0]


def test_knn_ids_orders_by_distance_then_id():
    poi_ids = np.array([5, 3, 9])
    ids = oracles.knn_ids(np.array([0.0]), np.array([0.0]), poi_ids,
                          np.array([1.0, 1.0, 0.5]), np.array([0.0, 0.0, 0.0]), 3)
    assert ids == [[9, 3, 5]]


def test_generators_repeat_for_a_seed():
    a = inputs.page_batch(np.random.default_rng(7), np.arange(5), 0)
    b = inputs.page_batch(np.random.default_rng(7), np.arange(5), 0)
    assert a.html == b.html and a.n_mentions == b.n_mentions
