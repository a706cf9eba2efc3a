"""Property-based hardening (hypothesis): cell indexes, PIP kernels and
the kNN join under adversarial coordinates — poles, antimeridian,
degenerate polygons, tiny cells, distance ties."""

import functools

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F

from sophox_spark.cells import grid, s2
from sophox_spark.geometry import wkb
from sophox_spark.geometry.pip import PreparedPolygons, point_in_rings

lons = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
lats = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
res_s = st.integers(min_value=0, max_value=grid.MAX_RES)


class TestGridProperties:
    @given(lons, lats, res_s)
    @settings(max_examples=300, deadline=None)
    def test_encode_contains_point(self, lon, lat, res):
        c = grid.encode([lon], [lat], res)
        assert c[0] >= 0
        lon0, lat0, lon1, lat1 = grid.cell_bounds(c)
        # ±1e-9: (lon+180) absorbs sub-ulp values at the 180 boundary —
        # deterministic and identical in numpy / Spark / DuckDB, so the
        # engine-wide guarantee is determinism, not strict containment
        # at ulp distances from cell edges
        assert lon0[0] - 1e-9 <= lon <= lon1[0] + 1e-9
        assert lat0[0] - 1e-9 <= lat <= lat1[0] + 1e-9

    @given(lons, lats, st.integers(2, grid.MAX_RES), st.integers(0, 10))
    @settings(max_examples=200, deadline=None)
    def test_parent_consistency(self, lon, lat, res, up):
        pres = max(res - up, 0)
        c = grid.encode([lon], [lat], res)
        assert grid.parent(c, pres)[0] == grid.encode([lon], [lat], pres)[0]

    @given(lons, lats, st.integers(2, 20), st.integers(1, 3))
    @settings(max_examples=100, deadline=None)
    def test_kring_contains_self_and_unique(self, lon, lat, res, k):
        c = grid.encode([lon], [lat], res)
        src, ring = grid.k_ring(c, k)
        ring_list = ring.tolist()
        assert int(c[0]) in ring_list
        assert len(ring_list) == len(set(ring_list))  # no duplicate cells
        assert len(ring_list) <= (2 * k + 1) ** 2


class TestS2Properties:
    # |lat| < 89.9999999: within ~10 cm of the poles (z = sin(lat) rounds to exactly 1.0 in float64) the decoded leaf
    # center saturates to exactly ±90° in float and re-encodes into the
    # adjacent corner leaf — a one-leaf artifact, not a hierarchy bug
    @given(lons, st.floats(min_value=-89.9999, max_value=89.9999, allow_nan=False))
    @settings(max_examples=300, deadline=None)
    def test_leaf_roundtrip(self, lon, lat):
        c = s2.encode([lon], [lat], 30)
        assert int(c[0]) != 0
        assert s2.level_of(c)[0] == 30
        rl, rt = s2.decode_center(c)
        c2 = s2.encode(rl, rt, 30)
        assert c2[0] == c[0]

    @given(lons, lats, st.integers(0, 29))
    @settings(max_examples=200, deadline=None)
    def test_parent_prefix(self, lon, lat, level):
        leaf = s2.encode([lon], [lat], 30)
        assert s2.parent(leaf, level)[0] == s2.encode([lon], [lat], level)[0]


@st.composite
def star_polygons(draw):
    cx = draw(st.floats(-170, 170, allow_nan=False))
    cy = draw(st.floats(-80, 80, allow_nan=False))
    nv = draw(st.integers(3, 12))
    rng = np.random.default_rng(draw(st.integers(0, 10_000)))
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    # ensure distinct angles (degenerate repeats allowed by sort are ok)
    r = rng.uniform(0.1, 3.0, nv)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


class TestPipProperties:
    @given(star_polygons(), st.integers(0, 5_000))
    @settings(max_examples=100, deadline=None)
    def test_vectorized_matches_scalar(self, ring, seed):
        packed = wkb.pack([wkb.polygon_wkb([ring])])
        prep = PreparedPolygons(packed)
        rng = np.random.default_rng(seed)
        bb = packed.bbox[0]
        px = rng.uniform(bb[0] - 1, bb[2] + 1, 64)
        py = rng.uniform(bb[1] - 1, bb[3] + 1, 64)
        got = prep.contains(px, py, np.zeros(64, np.int64))
        rings = list(packed.rings_of(0))
        want = np.array([point_in_rings(x, y, rings) for x, y in zip(px, py)])
        assert np.array_equal(got, want)

    @given(star_polygons())
    @settings(max_examples=60, deadline=None)
    def test_cover_superset_random_polygons(self, ring):
        from sophox_spark.geometry import cover

        packed = wkb.pack([wkb.polygon_wkb([ring])])
        prep = PreparedPolygons(packed)
        res = 8
        poly_idx, cells, full = cover.cover_polygons_adaptive(packed, res, res)
        cellset = set(cells.tolist())
        rng = np.random.default_rng(1)
        bb = packed.bbox[0]
        px = rng.uniform(bb[0], bb[2], 200)
        py = rng.uniform(bb[1], bb[3], 200)
        inside = prep.contains(px, py, np.zeros(200, np.int64))
        pc = grid.encode(px[inside], py[inside], res)
        assert set(pc.tolist()) <= cellset

    @given(star_polygons(), st.integers(0, 10_000), st.integers(1, 200))
    @settings(max_examples=60, deadline=None)
    def test_pruned_cover_is_filtered_full_cover(self, ring, seed, n_pts):
        """Occupied-cell pruning keeps exactly the full covering's rows
        whose cell is an ancestor-or-self of an occupied cell: same
        cells, same flags, same order — multi-res and single-res."""
        from sophox_spark.geometry import cover

        packed = wkb.pack([wkb.polygon_wkb([ring])])
        rng = np.random.default_rng(seed)
        bb = packed.bbox[0]
        px = rng.uniform(bb[0] - 0.5, bb[2] + 0.5, n_pts)
        py = rng.uniform(bb[1] - 0.5, bb[3] + 0.5, n_pts)

        res_min, res_max = 6, 11
        occ = np.unique(grid.encode(px, py, res_max))
        reach = np.unique(
            np.concatenate([grid.parent(occ, r) for r in range(res_min, res_max + 1)])
        )
        full = cover.cover_polygons_adaptive(packed, res_min, res_max)
        pruned = cover.cover_polygons_adaptive(packed, res_min, res_max, occupied=occ)
        keep = np.isin(full[1], reach)
        for a, b in zip(full, pruned):
            assert np.array_equal(a[keep], b)

        occ = np.unique(grid.encode(px, py, 10))
        full = cover.cover_polygons_adaptive(packed, 10, 10)
        pruned = cover.cover_polygons_adaptive(packed, 10, 10, occupied=occ)
        keep = np.isin(full[1], occ)
        for a, b in zip(full, pruned):
            assert np.array_equal(a[keep], b)


@st.composite
def ancestor_inputs(draw):
    """(res_min, res_max, rows): random coordinates plus the grid's hard
    cases — lon ±180 / lat ±90 and their nextafter neighbours on both
    sides, an exact res_max cell edge and its neighbours, NaN and NULL."""
    res_max = draw(st.integers(0, grid.MAX_RES))
    res_min = draw(st.integers(0, res_max))
    i = draw(st.integers(0, 1 << res_max))

    def hard(bound, edge):
        vals = [0.0, -bound, bound, edge]
        return vals + [float(np.nextafter(v, d)) for v in vals[1:] for d in (-np.inf, np.inf)]

    hard_lon = hard(180.0, i / (1 << res_max) * 360.0 - 180.0)
    hard_lat = hard(90.0, i / (1 << res_max) * 180.0 - 90.0)
    rows = [(x, y) for x in hard_lon for y in hard_lat]
    rows += draw(st.lists(st.tuples(lons, lats), max_size=20))
    rows += [(float("nan"), 1.0), (1.0, float("nan")), (None, 1.0), (1.0, None)]
    return res_min, res_max, rows


class TestAncestorCellProperties:
    """``ancestor_cells`` (one clamped x, y at res_max, coarser cells by
    shifts) equals ``grid.encode`` at every res in res_min..res_max."""

    @given(ancestor_inputs())
    @settings(max_examples=20, deadline=None)
    def test_matches_encode(self, spark, inp):
        from sophox_spark.operators.spatial_join import ancestor_cells

        res_min, res_max, rows = inp
        df = spark.createDataFrame(rows, "lon double, lat double")
        got = np.array(
            [r[0] for r in df.select(ancestor_cells("lon", "lat", res_min, res_max)).collect()]
        )
        lon = np.array([np.nan if x is None else x for x, _ in rows])
        lat = np.array([np.nan if y is None else y for _, y in rows])
        want = np.stack(
            [grid.encode(lon, lat, r) for r in range(res_min, res_max + 1)], axis=1
        )
        assert np.array_equal(got, want)


@st.composite
def pip_route_inputs(draw):
    """(star rings, point rows) for the PIP route-equivalence test: the
    points sit on the rings' vertices, on their edge midpoints and at
    random spots around them, plus rows with NaN and NULL coordinates."""
    rings = draw(st.lists(star_polygons(), min_size=1, max_size=3))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    xy = []
    for ring in rings:
        xy += [ring[:-1], (ring[:-1] + ring[1:]) / 2.0,
               rng.uniform(ring.min(0) - 0.5, ring.max(0) + 0.5, (30, 2))]
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(np.concatenate(xy))]
    n = len(pts)
    pts += [(n, float("nan"), 1.0), (n + 1, 1.0, float("nan")),
            (n + 2, None, 1.0), (n + 3, None, None)]
    return rings, pts


class TestPipRouteProperties:
    """Every route of ``point_in_polygon_join`` returns the brute-force
    ``PreparedPolygons.contains`` rows, each pair exactly once: the
    broadcast route and the shuffle route (``broadcast_max_bytes=0``),
    both refined by the one JVM filter, ``covers`` False and True,
    ``res`` 13 and (8, 13), with the covering derived or (at (8, 13))
    supplied by the caller. The supplied covering also carries a stale
    polygon id: its boundary cells must drop, and its fully-contained
    cell is trusted as the covering states."""

    STALE = 10_000

    @given(pip_route_inputs())
    @settings(max_examples=3, deadline=None)
    def test_routes_match_brute_force(self, spark, inp):
        from sophox_spark.geometry import cover
        from sophox_spark.operators import spatial_join

        rings, pts = inp
        blobs = [wkb.polygon_wkb([r]) for r in rings]
        ids = np.arange(len(rings), dtype=np.int64) * 7 + 3
        polys = spark.createDataFrame(
            pd.DataFrame({"polygon_id": ids, "geom": blobs}), "polygon_id long, geom binary"
        )
        pts_df = spark.createDataFrame(pts, "pt_id long, lon double, lat double")
        pt_ids = np.array([p[0] for p in pts])
        px = np.array([np.nan if p[1] is None else p[1] for p in pts])
        py = np.array([np.nan if p[2] is None else p[2] for p in pts])
        packed = wkb.pack(blobs)
        prep = PreparedPolygons(packed)
        valid = np.flatnonzero(np.isfinite(px) & np.isfinite(py))

        def brute(covers):
            return [
                (int(pt), int(pid))
                for gi, pid in enumerate(ids)
                for pt in pt_ids[prep.contains(px, py, np.full(px.size, gi), covers=covers)]
            ]

        runs, wants = [], []
        for res in (13, (8, 13)):
            lo, hi = res if isinstance(res, tuple) else (res, res)
            pcells = [(None, [])]
            if lo < hi:
                pi, cells, full = cover.cover_polygons_adaptive(packed, lo, hi)
                # stale id: boundary rows on the cells of the first three
                # valid points, one fully-contained row on the fourth's
                fine = grid.encode(px[valid], py[valid], hi)
                supplied = spark.createDataFrame(
                    [(int(c), int(p), bool(f)) for c, p, f in zip(cells, ids[pi], full)]
                    + [(int(c), self.STALE, i == 3) for i, c in enumerate(fine[:4])],
                    "cell long, polygon_id long, fully_contained boolean",
                )
                trusted = [(int(pt), self.STALE) for pt in pt_ids[valid][fine == fine[3]]]
                pcells.append((supplied, trusted))
            for covers in (False, True):
                for budget in (64 << 20, 0):
                    for supplied, extra in pcells:
                        runs.append(spatial_join.point_in_polygon_join(
                            pts_df, polys, res=res, covers=covers,
                            polygon_cells_df=supplied, broadcast_max_bytes=budget,
                        ).select(F.lit(len(wants)).alias("run"), "pt_id", "polygon_id"))
                        wants.append(((res, covers, budget, supplied is not None),
                                      sorted(brute(covers) + extra)))
        # one action for all runs: each run's plan is built as the
        # caller's would be; only the job launch is shared
        rows = functools.reduce(DataFrame.unionAll, runs).collect()
        for i, (label, want) in enumerate(wants):
            got = sorted((r.pt_id, r.polygon_id) for r in rows if r.run == i)
            assert got == want, label


KNN_SHAPES = ("clustered", "worldwide", "antimeridian", "colocated",
              "k_over_pois", "empty_pois")


@st.composite
def knn_inputs(draw, shape):
    """(points, pois, k) rows for one kNN shape. POI keys are unique and
    drawn out of coordinate order, so the key tie-break is exercised."""
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n_pts, n_pois = draw(st.integers(1, 30)), draw(st.integers(1, 25))
    k = draw(st.integers(1, 4))
    if shape == "k_over_pois":
        n_pois, k = draw(st.integers(1, 3)), draw(st.integers(4, 6))
    elif shape == "empty_pois":
        n_pois = 0
    # the res-13 grid cell holding a drawn coordinate
    cw, ch = 360.0 / (1 << 13), 180.0 / (1 << 13)
    x0 = np.floor((draw(st.floats(-179, 179)) + 180.0) / cw) * cw - 180.0
    y0 = np.floor((draw(st.floats(-80, 80)) + 90.0) / ch) * ch - 90.0

    def scatter(n):
        if shape == "clustered":  # all inside that one cell
            return (rng.uniform(x0 + 0.1 * cw, x0 + 0.9 * cw, n),
                    rng.uniform(y0 + 0.1 * ch, y0 + 0.9 * ch, n))
        if shape == "antimeridian":  # within 1.5° on either side of ±180
            u = rng.uniform(0.0, 1.5, n)
            side = rng.random(n) < 0.5
            return np.where(side, 180.0 - u, u - 180.0), rng.uniform(-60, 60, n)
        if shape == "colocated":
            return rng.uniform(-12, 12, n), rng.uniform(38, 52, n)
        return rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)

    lon, lat = scatter(n_pts)
    if shape == "colocated":  # POIs stacked on 3 sites: exact distance ties
        site = rng.integers(0, 3, n_pois)
        plon, plat = rng.uniform(-10, 10, 3)[site], rng.uniform(40, 50, 3)[site]
    else:
        plon, plat = scatter(n_pois)
    keys = rng.choice(10_000, n_pois, replace=False)
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
    pois = [(int(c), float(x), float(y)) for c, x, y in zip(keys, plon, plat)]
    return pts, pois, k


class TestKnnProperties:
    """The one kNN algorithm equals the brute-force cross join row for
    row: same (pt, poi, rank) rows, each exactly once."""

    @pytest.mark.parametrize("shape", KNN_SHAPES)
    @given(data=st.data())
    @settings(max_examples=3, deadline=None)
    def test_matches_brute_force(self, spark, shape, data):
        from sophox_spark.operators import knn

        pts, pois, k = data.draw(knn_inputs(shape))
        pts_df = spark.createDataFrame(pts, "pt_id long, lon double, lat double")
        pois_df = spark.createDataFrame(pois, "poi_id long, lon double, lat double")

        def rows(df):
            return sorted((r.pt_id, r.poi_id, r.rank) for r in df.collect())

        want = rows(knn.brute_force_knn(pts_df, pois_df, k, point_key="pt_id"))
        assert len(want) == len(pts) * min(k, len(pois))
        assert rows(knn.knn_join(pts_df, pois_df, k, point_key="pt_id")) == want


class TestCodecProperties:
    """Property-based roundtrips for the binary/XML container codecs."""

    @given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                    min_size=0, max_size=50))
    @settings(max_examples=300, deadline=None)
    def test_pbf_packed_varint_roundtrip(self, vals):
        from sophox_spark.functions import protobuf

        payload = b"".join(protobuf.varint(v) for v in vals)
        got = protobuf.decode_packed_u64(payload)
        assert got.tolist() == [v & (2**64 - 1) for v in vals]

    @given(st.lists(st.integers(min_value=-(2**62), max_value=2**62),
                    min_size=1, max_size=40))
    @settings(max_examples=300, deadline=None)
    def test_pbf_signed_delta_roundtrip(self, vals):
        from sophox_spark.functions import protobuf
        from sophox_spark.sources import pbf

        # encode as delta+zigzag the way the writer does, decode via the
        # reader's combined path (covers both the tiny and numpy branches)
        payload = protobuf.packed(1, vals, signed=True, delta=True)
        # strip the field key + length prefix
        view = memoryview(payload)
        _, pos = protobuf.read_varint(view, 0)
        n, pos = protobuf.read_varint(view, pos)
        got = pbf._packed_i64(view[pos:pos + n], signed=True, delta=True)
        assert got.tolist() == vals

    # XML 1.0 cannot represent C0 control chars (except \t\n\r) at all,
    # escaped or not — the OSM API rejects them too, so the codec's
    # contract is "XML-legal text", which this strategy generates
    _xml_text = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",),
            blacklist_characters="".join(
                chr(c) for c in range(0x20) if c not in (0x09, 0x0A, 0x0D)
            ),
        ),
        max_size=40,
    )

    @given(st.dictionaries(
        _xml_text.filter(lambda s: 1 <= len(s) <= 20 and s.strip()),
        _xml_text, max_size=5))
    @settings(max_examples=150, deadline=None)
    def test_osc_tag_escaping_roundtrip(self, tags):
        import pandas as pd

        from sophox_spark.sources import osc

        import os
        import tempfile

        pdf = pd.DataFrame([{
            "action": "modify", "kind": "node", "id": 1, "version": 1,
            "ts_s": "2024-01-01T00:00:00Z", "changeset": 1, "uid": 1,
            "user": "u", "lat_s": "1.0000001", "lon_s": "2.0000001",
            "tags": tags, "refs": None, "members": None,
        }])
        path = os.path.join(tempfile.mkdtemp(), "t.osc")
        osc.write_osc(path, pdf, compress=False)
        out = osc.parse_osc_bytes(open(path, "rb").read())
        assert out.iloc[0]["tags"] == tags

    @given(st.binary(min_size=0, max_size=500))
    @settings(max_examples=150, deadline=None)
    def test_warc_binary_body_roundtrip(self, body):
        import gzip

        import pandas as pd

        from sophox_spark.sources import warc
        import tempfile, os

        path = os.path.join(tempfile.mkdtemp(), "w.warc.gz")
        pages = pd.DataFrame({
            "url": ["https://x.test/a"],
            "ts_s": ["2024-01-01T00:00:00Z"],
            "html": [body],
        })
        spans = warc.write_warc(path, pages, with_index=False)
        data = open(path, "rb").read()
        s = spans[0]
        rec = gzip.decompress(data[s["offset"]: s["offset"] + s["length"]])
        row = warc.parse_warc_record(rec)
        assert row["html"] == body
