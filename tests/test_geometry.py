"""Geometry kernel goldens: WKB codec, ray-cast PIP, STRtree, covering,
simplification. Oracles are independent brute-force reimplementations
inside the test (different code path from the kernels)."""

import numpy as np
import pytest

from sophox_spark.cells import grid
from sophox_spark.geometry import core, cover, simplify, strtree, wkb
from sophox_spark.geometry.pip import PreparedPolygons, point_in_rings

rng = np.random.default_rng(7)


def square(cx, cy, half):
    return np.array(
        [
            [cx - half, cy - half],
            [cx + half, cy - half],
            [cx + half, cy + half],
            [cx - half, cy + half],
            [cx - half, cy - half],
        ]
    )


def star(cx, cy, r_out, r_in, n=5):
    ang = np.linspace(0, 2 * np.pi, 2 * n, endpoint=False)
    r = np.where(np.arange(2 * n) % 2 == 0, r_out, r_in)
    pts = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([pts, pts[:1]])


DONUT = wkb.polygon_wkb([square(0, 0, 10), square(0, 0, 3)])  # hole in middle
STAR = wkb.polygon_wkb([star(50, 20, 8, 3)])
MULTI = wkb.multipolygon_wkb([[square(-50, -50, 5)], [square(-30, -50, 2)]])


class TestWkb:
    def test_point_roundtrip(self):
        g = wkb.decode_one(wkb.point_wkb(12.5, -3.25))
        assert g[0][0].tolist() == [[12.5, -3.25]]

    def test_polygon_roundtrip(self):
        g = wkb.decode_one(DONUT)
        assert len(g) == 1 and len(g[0]) == 2
        assert np.array_equal(g[0][0], square(0, 0, 10))

    def test_multipolygon_pack(self):
        packed = wkb.pack([DONUT, STAR, MULTI, None])
        assert packed.n_geoms == 4
        assert packed.ring_poly.tolist() == [0, 0, 1, 2, 2]
        assert packed.ring_is_hole.tolist() == [False, True, False, False, False]
        # bbox of the donut
        assert packed.bbox[0].tolist() == [-10, -10, 10, 10]
        # missing geometry → empty bbox
        assert not np.isfinite(packed.bbox[3, 0])


class TestPip:
    def test_against_scalar_oracle(self):
        packed = wkb.pack([DONUT, STAR, MULTI])
        prep = PreparedPolygons(packed)
        px = rng.uniform(-60, 60, 3000)
        py = rng.uniform(-60, 60, 3000)
        for gi in range(3):
            rings = list(packed.rings_of(gi))
            got = prep.contains(px, py, np.full(px.size, gi))
            want = np.array([point_in_rings(x, y, rings) for x, y in zip(px, py)])
            assert np.array_equal(got, want)

    def test_donut_hole_excluded(self):
        packed = wkb.pack([DONUT])
        prep = PreparedPolygons(packed)
        got = prep.contains([0.0, 5.0, 20.0], [0.0, 5.0, 0.0], [0, 0, 0])
        assert got.tolist() == [False, True, False]  # hole, ring body, outside

    def test_covers_boundary(self):
        packed = wkb.pack([square_wkb := wkb.polygon_wkb([square(0, 0, 1)])])
        prep = PreparedPolygons(packed)
        # exactly on the edge and on a vertex
        on_edge = prep.contains([1.0, 1.0], [0.0, 1.0], [0, 0], covers=True)
        assert on_edge.tolist() == [True, True]
        strict = prep.contains([1.0], [0.0], [0])
        assert not strict[0]


class TestStrtree:
    def test_point_candidates_match_bruteforce(self):
        boxes = np.column_stack(
            [
                rng.uniform(-100, 100, 500),
                rng.uniform(-100, 100, 500),
                np.zeros(500),
                np.zeros(500),
            ]
        )
        boxes[:, 2] = boxes[:, 0] + rng.uniform(0.1, 20, 500)
        boxes[:, 3] = boxes[:, 1] + rng.uniform(0.1, 20, 500)
        tree = strtree.STRtree(boxes)
        px = rng.uniform(-110, 110, 400)
        py = rng.uniform(-110, 110, 400)
        qi, bi = tree.query_points(px, py)
        got = set(zip(qi.tolist(), bi.tolist()))
        want = set()
        for i in range(400):
            hits = np.flatnonzero(
                (boxes[:, 0] <= px[i]) & (px[i] <= boxes[:, 2])
                & (boxes[:, 1] <= py[i]) & (py[i] <= boxes[:, 3])
            )
            want |= {(i, int(h)) for h in hits}
        assert got == want

    def test_bbox_query_matches_bruteforce(self):
        boxes = np.column_stack(
            [
                rng.uniform(-50, 50, 300),
                rng.uniform(-50, 50, 300),
                np.zeros(300),
                np.zeros(300),
            ]
        )
        boxes[:, 2] = boxes[:, 0] + rng.uniform(0.1, 10, 300)
        boxes[:, 3] = boxes[:, 1] + rng.uniform(0.1, 10, 300)
        tree = strtree.STRtree(boxes)
        q = np.array([[-5.0, -5.0, 5.0, 5.0], [40.0, 40.0, 60.0, 60.0]])
        qi, bi = tree.query_bbox(q)
        got = set(zip(qi.tolist(), bi.tolist()))
        want = set()
        for i, (x0, y0, x1, y1) in enumerate(q):
            hits = np.flatnonzero(
                (boxes[:, 0] <= x1) & (boxes[:, 2] >= x0)
                & (boxes[:, 1] <= y1) & (boxes[:, 3] >= y0)
            )
            want |= {(i, int(h)) for h in hits}
        assert got == want

    def test_empty_tree(self):
        tree = strtree.STRtree(np.empty((0, 4)))
        qi, bi = tree.query_points([1.0], [1.0])
        assert qi.size == 0 and bi.size == 0


class TestCore:
    def test_signed_area_orientation(self):
        ccw = square(0, 0, 1)[::-1]  # square() is CW (y-down order); reversed = CCW
        assert core.ring_signed_area(ccw) == pytest.approx(-core.ring_signed_area(square(0, 0, 1)))
        assert abs(core.ring_signed_area(square(0, 0, 1))) == pytest.approx(4.0)

    def test_force_rhr(self):
        rings = core.force_rhr([square(0, 0, 2), square(0, 0, 1)])
        assert not core.is_ccw(rings[0]) and core.is_ccw(rings[1])

    def test_centroid_donut(self):
        packed = wkb.pack([DONUT])
        a, cx, cy = core.rings_area_centroid(list(packed.rings_of(0)))
        assert a == pytest.approx(400 - 36)
        assert cx == pytest.approx(0.0) and cy == pytest.approx(0.0)

    def test_representative_point_inside(self):
        for blob in (DONUT, STAR, MULTI):
            packed = wkb.pack([blob])
            rings = list(packed.rings_of(0))
            x, y = core.polygon_representative_point(rings)
            assert point_in_rings(x, y, rings)

    def test_is_closed(self):
        assert core.is_closed(square(0, 0, 1))
        assert not core.is_closed(square(0, 0, 1)[:-1])

    def test_haversine_known(self):
        # quarter meridian ≈ 10,007.5 km
        d = core.haversine_m([0.0], [0.0], [0.0], [90.0])
        assert d[0] == pytest.approx(np.pi / 2 * core.EARTH_RADIUS_M, rel=1e-9)


class TestCover:
    def test_cover_superset_and_refine_consistency(self):
        packed = wkb.pack([DONUT, STAR])
        prep = PreparedPolygons(packed)
        res = 12
        poly_idx, cells, full = cover.cover_polygons_adaptive(packed, res, res)
        cellset = {(int(p), int(c)) for p, c in zip(poly_idx, cells)}
        # random points inside each polygon must land in a covered cell
        px = rng.uniform(-12, 60, 5000)
        py = rng.uniform(-12, 30, 5000)
        for gi in range(2):
            inside = prep.contains(px, py, np.full(px.size, gi))
            pc = grid.encode(px[inside], py[inside], res)
            for c in pc.tolist():
                assert (gi, c) in cellset
        # fully_contained cells: every corner must be inside
        for p, c, f in zip(poly_idx, cells, full):
            if f:
                lon0, lat0, lon1, lat1 = (float(v[0]) for v in grid.cell_bounds([c]))
                got = prep.contains(
                    [lon0, lon1, lon0, lon1], [lat0, lat0, lat1, lat1], [p] * 4
                )
                assert got.all()

    def test_hole_cells_dropped(self):
        packed = wkb.pack([DONUT])
        _, cells, _ = cover.cover_polygons_adaptive(packed, 12, 12)
        # the very center of the hole must not be covered
        center_cell = int(grid.encode([0.0], [0.0], 12)[0])
        assert center_cell not in set(cells.tolist())


class TestSimplify:
    def test_effective_area_monotone_filterable(self):
        ring = star(0, 0, 10, 4, n=12)
        eff = simplify.presimplify(ring, spherical=False)
        assert np.isinf(eff[0]) and np.isinf(eff[-1])
        # simplifying at increasing thresholds yields nested vertex sets
        t1 = simplify.area_quantile(eff, 0.3)
        t2 = simplify.area_quantile(eff, 0.7)
        k1 = set(np.flatnonzero(eff >= t1).tolist())
        k2 = set(np.flatnonzero(eff >= t2).tolist())
        assert k2 <= k1

    def test_collinear_removed_first(self):
        ring = np.array([[0, 0], [1, 0], [2, 0], [2, 2], [0, 2], [0, 0]], dtype=float)
        eff = simplify.presimplify(ring, spherical=False)
        assert eff[1] == 0.0  # collinear vertex has zero triangle area
        out = simplify.simplify_ring(ring, eff, 1e-12, min_vertices=4)
        assert len(out) == 5

    def test_quantize_roundtrip_grid(self):
        coords = rng.uniform(0, 1, (100, 2))
        q = simplify.quantize(coords, (0, 0, 1, 1), 10_000)
        assert q.min() >= 0 and q.max() <= 9999
        back = q / 9999.0
        assert np.abs(back - coords).max() < 1e-4 + 1e-9

    def test_tile_xyz_known(self):
        # lon 0, lat 0 at z=1 → tile (1, 1); Berlin at z=10 → known tile
        x, y = simplify.tile_xyz([0.0], [0.0], 1)
        assert (int(x[0]), int(y[0])) == (1, 1)
        x, y = simplify.tile_xyz([13.4], [52.52], 10)
        assert (int(x[0]), int(y[0])) == (550, 335)

    def test_spherical_area_octant(self):
        # the (0,0),(90,0),(0,90) triangle is 1/8 of the sphere = π/2 sr
        a = simplify.triangle_area_spherical([0, 0], [90, 0], [0, 90])
        assert a == pytest.approx(np.pi / 2, rel=1e-9)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


class TestClip:
    """Greiner–Hormann boolean ops (geometry/clip.py) — goldens vs exact
    rect arithmetic plus an INDEPENDENT oracle: point-classification
    equivalence against the even-odd ray-cast (geometry/pip.py), which
    shares no code with the clipper."""

    @staticmethod
    def _sq(x0, y0, s):
        return np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]], float)

    @staticmethod
    def _area(parts):
        return sum(
            abs(core.ring_signed_area(r)) * (-1 if hole else 1) for r, hole in parts
        )

    def test_square_goldens(self):
        from sophox_spark.geometry import clip

        A, B = self._sq(0, 0, 1), self._sq(0.5, 0.5, 1)
        assert self._area(clip.clip_rings(A, B, "intersection")) == pytest.approx(0.25)
        u = clip.clip_rings(A, B, "union")
        assert len(u) == 1 and self._area(u) == pytest.approx(1.75)
        assert self._area(clip.clip_rings(A, B, "difference")) == pytest.approx(0.75)

    def test_containment_cases(self):
        from sophox_spark.geometry import clip

        A, C = self._sq(0, 0, 1), self._sq(0.3, 0.3, 0.2)
        d = clip.clip_rings(A, C, "difference")
        assert [h for _, h in d] == [False, True]  # hole created
        assert self._area(d) == pytest.approx(1 - 0.04)
        assert clip.clip_rings(C, A, "difference") == []
        u = clip.clip_rings(A, C, "union")
        assert len(u) == 1 and self._area(u) == pytest.approx(1.0)
        i = clip.clip_rings(A, C, "intersection")
        assert self._area(i) == pytest.approx(0.04)
        # fully disjoint
        D = self._sq(5, 5, 1)
        assert len(clip.clip_rings(A, D, "union")) == 2
        assert clip.clip_rings(A, D, "intersection") == []

    def test_degenerate_raises(self):
        from sophox_spark.geometry import clip

        A = self._sq(0, 0, 1)
        with pytest.raises(clip.DegenerateGeometry):
            clip.clip_rings(A, self._sq(1, 0, 1), "union")  # shared edge
        with pytest.raises(clip.DegenerateGeometry):
            clip.clip_rings(A, self._sq(1, 1, 1), "union")  # shared vertex

    def test_classification_equivalence_random_stars(self):
        """p ∈ op(A,B) must equal op(p∈A, p∈B) for every sampled point —
        the ray-cast is the independent implementation."""
        from sophox_spark.geometry import clip

        rng = np.random.default_rng(3)

        def star(cx, cy, rm, n=12):
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            rad = rng.uniform(0.4, 1.0, n) * rm
            return np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)

        closed = lambda r: np.vstack([r, r[:1]])  # noqa: E731
        preds = {
            "intersection": lambda a, b: a and b,
            "union": lambda a, b: a or b,
            "difference": lambda a, b: a and not b,
        }
        tested = 0
        for _ in range(12):
            P = star(0, 0, 1.0)
            Q = star(rng.uniform(-0.8, 0.8), rng.uniform(-0.8, 0.8), 1.0)
            for op, pred in preds.items():
                try:
                    parts = clip.clip_rings(P, Q, op)
                except clip.DegenerateGeometry:
                    continue
                for x, y in rng.uniform(-2, 2, (250, 2)):
                    a = point_in_rings(x, y, [(closed(P), False)])
                    b = point_in_rings(x, y, [(closed(Q), False)])
                    assert point_in_rings(x, y, parts) == pred(a, b)
                    tested += 1
        assert tested > 5000

    def test_union_parts_chain_and_fallback(self):
        from sophox_spark.geometry import clip

        # overlapping diagonal chain dissolves to ONE part (transitive
        # merge; axis-aligned same-row squares would share collinear
        # edges — correctly degenerate)
        chain = [[self._sq(i * 0.6, i * 0.3, 1)] for i in range(4)]
        merged, fb = clip.union_parts(chain)
        assert len(merged) == 1 and fb == 0
        # inclusion-exclusion: pairwise overlaps are disjoint rects
        assert abs(core.ring_signed_area(merged[0][0])) == pytest.approx(4 - 3 * 0.28)
        # disjoint parts stay multipart
        merged, fb = clip.union_parts([[self._sq(0, 0, 1)], [self._sq(3, 3, 1)]])
        assert len(merged) == 2 and fb == 0
        # identical parts: degenerate contact, but the perturbation retry
        # now dissolves them into ONE part (PostGIS ST_Union behavior);
        # area stays the square's own area to within the 1e-9 nudge
        merged, fb = clip.union_parts([[self._sq(0, 0, 1)], [self._sq(0, 0, 1)]])
        assert len(merged) == 1 and fb == 0
        assert abs(core.ring_signed_area(merged[0][0])) == pytest.approx(1.0, abs=1e-6)

    def test_difference_with_holes(self):
        from sophox_spark.geometry import clip

        A = self._sq(0, 0, 4)
        hole = self._sq(1, 1, 0.5)
        poly = [A, hole]
        # clipper crossing the exterior boundary, away from the hole
        out = clip.difference_with_holes(poly, self._sq(3.5, 3.5, 1))
        assert len(out) == 1
        ext, holes = out[0][0], out[0][1:]
        assert len(holes) == 1  # original hole carried through
        got = abs(core.ring_signed_area(ext)) - abs(core.ring_signed_area(holes[0]))
        assert got == pytest.approx(16 - 0.25 - 0.25)
        # clipper strictly inside the hole: no-op
        out2 = clip.difference_with_holes(poly, self._sq(1.1, 1.1, 0.2))
        assert len(out2) == 1 and len(out2[0]) == 2

    def test_difference_full_water_holes_stay_land(self):
        """region − holed water: ST_Difference keeps islands inside
        lakes as LAND — the water hole re-adds region ∩ hole."""
        from sophox_spark.geometry import clip

        region = [self._sq(0, 0, 4)]
        lake = [self._sq(1, 1, 2), self._sq(1.5, 1.5, 0.5)]  # island hole
        parts, n_fb = clip.difference_full(region, lake)
        assert n_fb == 0
        area = 0.0
        for p in parts:
            area += abs(core.ring_signed_area(p[0]))
            for h in p[1:]:
                area -= abs(core.ring_signed_area(h))
        # 16 − (4 − 0.25): the 0.5×0.5 island stays land
        assert area == pytest.approx(16 - 4 + 0.25)
        # point checks: land = inside some part's exterior but none of
        # its holes
        def is_land(x, y):
            return any(
                point_in_rings(x, y, [(p[0], False)])
                and not any(point_in_rings(x, y, [(h, False)]) for h in p[1:])
                for p in parts
            )

        assert is_land(1.75, 1.75)      # island interior = land
        assert not is_land(1.2, 1.2)    # lake water = not land
        assert is_land(0.5, 0.5)        # region outside lake = land


class TestRobustClip:
    """Degenerate contacts (shared edges/vertices) must clip via the
    deterministic perturbation retry instead of falling back."""

    def test_shared_edge_union(self):
        import numpy as np

        from sophox_spark.geometry import clip

        a = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)
        b = np.array([[2, 0], [4, 0], [4, 2], [2, 2], [2, 0]], float)  # shares edge x=2
        import pytest

        with pytest.raises(clip.DegenerateGeometry):
            clip.clip_rings(a, b, "union")
        res = clip.clip_rings_robust(a, b, "union")
        assert len(res) == 1 and not res[0][1]
        from sophox_spark.geometry.core import ring_signed_area

        # 2x2 + 2x2 squares sharing an edge -> 4x2 rectangle, area 8
        assert abs(abs(ring_signed_area(res[0][0])) - 8.0) < 1e-6

    def test_shared_vertex_difference(self):
        import numpy as np

        from sophox_spark.geometry import clip
        from sophox_spark.geometry.core import ring_signed_area

        a = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
        # clipper's corner exactly ON the subject's edge midpoint
        b = np.array([[2, 0], [3, -1], [1, -1], [2, 0]], float)
        res = clip.clip_rings_robust(a, b, "difference")
        area = sum(abs(ring_signed_area(r)) for r, h in res if not h)
        assert abs(area - 16.0) < 1e-6  # clipper below: subject unchanged

    def test_determinism(self):
        import numpy as np

        from sophox_spark.geometry import clip

        a = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)
        b = np.array([[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]], float)
        b[0] = [2, 2]  # vertex-on-vertex contact
        b[-1] = [2, 2]
        r1 = clip.clip_rings_robust(a, b, "union")
        r2 = clip.clip_rings_robust(a, b, "union")
        assert len(r1) == len(r2)
        for (x, _), (y, _) in zip(r1, r2):
            np.testing.assert_array_equal(x, y)

    def test_union_parts_shared_edges_now_merge(self):
        import numpy as np

        from sophox_spark.geometry import clip

        # a strip of squares, each sharing an edge with the next
        parts = [
            [np.array([[i, 0], [i + 1, 0], [i + 1, 1], [i, 1], [i, 0]], float)]
            for i in range(5)
        ]
        merged, n_fb = clip.union_parts(parts)
        assert n_fb == 0
        assert len(merged) == 1
