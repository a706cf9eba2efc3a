"""Cell-index invariants: grid quadkey packing + S2 encoder."""

import numpy as np
import pytest

from sophox_spark.cells import grid, s2

rng = np.random.default_rng(42)
LONS = rng.uniform(-180, 180, 2000)
LATS = rng.uniform(-90, 90, 2000)


class TestGrid:
    def test_roundtrip_bounds(self):
        for res in (3, 10, 15, 20):
            c = grid.encode(LONS, LATS, res)
            lon0, lat0, lon1, lat1 = grid.cell_bounds(c)
            assert np.all(lon0 <= LONS) and np.all(LONS <= lon1)
            assert np.all(lat0 <= LATS) and np.all(LATS <= lat1)

    def test_invalid_coords_marked(self):
        c = grid.encode([200.0, np.nan, 0.0], [0.0, 0.0, 91.0], 10)
        assert list(c) == [-1, -1, -1]

    def test_parent_contains(self):
        c = grid.encode(LONS, LATS, 18)
        p = grid.parent(c, 12)
        assert np.array_equal(p, grid.encode(LONS, LATS, 12))

    def test_children_partition_parent(self):
        c = int(grid.encode([7.1], [50.2], 9)[0])
        kids = grid.children(c)
        assert len(set(kids.tolist())) == 4
        assert np.all(grid.parent(kids, 9) == c)

    def test_kring_size_and_symmetry(self):
        c = grid.encode([13.4], [52.5], 12)
        src, ring = grid.k_ring(c, 1)
        assert len(ring) == 9 and int(c[0]) in ring.tolist()
        # symmetry: a is in ring(b) iff b is in ring(a)
        for other in ring:
            _, back = grid.k_ring(np.array([other]), 1)
            assert int(c[0]) in back.tolist()

    def test_kring_lon_wrap(self):
        c = grid.encode([179.99], [0.0], 8)
        _, ring = grid.k_ring(c, 1)
        assert len(ring) == 9  # wraps the antimeridian, no cells lost
        lon0, _, lon1, _ = grid.cell_bounds(ring)
        assert lon0.min() < -179.0  # neighbor on the other side

    def test_kring_lat_clamp(self):
        c = grid.encode([0.0], [89.99], 8)
        _, ring = grid.k_ring(c, 1)
        assert len(ring) == 6  # top row clipped at the pole

    def test_cover_bbox_superset(self):
        src, cells = grid.cover_bbox([10.0], [50.0], [10.5], [50.3], 12)
        # every random point inside the bbox must fall in a covered cell
        pl = rng.uniform(10.0, 10.5, 200)
        pb = rng.uniform(50.0, 50.3, 200)
        pc = grid.encode(pl, pb, 12)
        assert set(pc.tolist()) <= set(cells.tolist())

    def test_parent_of_fine_cell_is_coarse_encode(self):
        # the PIP covering's occupied-cell pruning relies on this: a
        # point's cell at res r is the parent of its res-13 cell, also on
        # the clamped edges lon = ±180 and lat = ±90
        lon = np.concatenate([LONS, [-180.0, 180.0, -180.0, 180.0, 0.0, 0.0]])
        lat = np.concatenate([LATS, [-90.0, 90.0, 90.0, -90.0, -90.0, 90.0]])
        fine = grid.encode(lon, lat, 13)
        for r in range(8, 14):
            assert np.array_equal(grid.parent(fine, r), grid.encode(lon, lat, r))

    def test_prefix_bucket_stability(self):
        c = grid.encode(LONS, LATS, 15)
        b = grid.prefix_bucket(c, bits=8)
        assert b.min() >= 0 and len(np.unique(b)) > 16


class TestS2:
    def test_leaf_lsb(self):
        c = s2.encode(LONS, LATS, 30).astype(np.uint64)
        assert np.all(c & np.uint64(1) == 1)

    def test_level_of(self):
        for lvl in (5, 12, 20, 30):
            c = s2.encode(LONS[:100], LATS[:100], lvl)
            assert np.all(s2.level_of(c) == lvl)

    def test_parent_hierarchy(self):
        leaf = s2.encode(LONS, LATS, 30)
        p10 = s2.parent(leaf, 10)
        assert np.array_equal(p10, s2.encode(LONS, LATS, 10))
        # parent-of-parent == direct coarse encode
        assert np.array_equal(s2.parent(p10, 4), s2.encode(LONS, LATS, 4))

    def test_distinct_points_distinct_leaves(self):
        c = s2.encode(LONS, LATS, 30)
        assert len(np.unique(c)) == len(c)

    def test_roundtrip_center(self):
        # decode the leaf center, re-encode → same leaf
        c = s2.encode(LONS[:300], LATS[:300], 30)
        lon, lat = s2.decode_center(c)
        c2 = s2.encode(lon, lat, 30)
        assert np.array_equal(c, c2)

    def test_decode_center_near_input(self):
        c = s2.encode(LONS[:300], LATS[:300], 20)
        lon, lat = s2.decode_center(c)
        # level-20 cells are ~100 m; centers must be close to the input
        assert np.all(np.abs(lat - LATS[:300]) < 0.01)
        dlon = np.abs(lon - LONS[:300])
        dlon = np.minimum(dlon, 360 - dlon)
        assert np.all(dlon * np.cos(np.radians(LATS[:300])) < 0.01)

    def test_face_centers(self):
        # face centers encode to the 6 distinct faces
        lons = [0.0, 90.0, 0.0, 180.0, -90.0, 0.0]
        lats = [0.0, 0.0, 90.0, 0.0, 0.0, -90.0]
        c = s2.encode(lons, lats, 30).astype(np.uint64)
        faces = (c >> np.uint64(s2.POS_BITS)).astype(int)
        assert sorted(faces.tolist()) == [0, 1, 2, 3, 4, 5]

    def test_invalid_maps_to_zero(self):
        assert int(s2.encode([999.0], [0.0], 30)[0]) == 0


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
