"""Polygon → grid-cell covering (the "polyfill" step).

Produces the ``polygon_cells(cell, polygon_id, fully_contained)`` dim
table that turns the spatial join into a cell equi-join (SURVEY §4
"spatial filter-then-refine"). Guarantees:

  * superset — every cell whose area intersects the polygon interior is
    emitted (a point can never be lost by the coarse join);
  * ``fully_contained=True`` only when the whole cell is provably inside
    (no boundary edge touches the cell) — those pairs skip exact
    refinement entirely, which is most of the area of large admin
    polygons.

The reference has no equivalent (PostGIS GiST does candidate generation
per query); precomputing the covering is what makes the join
*distributable* and lets the polygon side be range-partitioned by cell
prefix (north_rule).
"""

from __future__ import annotations

import numpy as np

from ..cells import grid
from .pip import PreparedPolygons
from .wkb import PackedPolygons


def _seg_rect_hit(prep, e, pair, lon0, lat0, lon1, lat1):
    """EXACT segment×cell-rect intersection for expanded (cell, edge)
    pairs — separating-axis test: bbox overlap (axes x, y) plus "rect
    corners not all strictly on one side of the segment's line" (the
    segment-normal axis). Replaces the seg-bbox-overlap approximation,
    which over-kept O(edge_span²) cells for long diagonal edges (a
    near-45° edge's bbox covers the full square it spans while the
    segment itself crosses only ~2·span cells — measured 354k → 46k
    covering cells on the 60-star admin dim at res 8..13). Still a
    superset: corners exactly ON the line count as straddling."""
    ex1, ey1, ex2, ey2 = prep.x1[e], prep.y1[e], prep.x2[e], prep.y2[e]
    bbox = (
        (np.minimum(ex1, ex2) <= lon1[pair]) & (np.maximum(ex1, ex2) >= lon0[pair])
        & (np.minimum(ey1, ey2) <= lat1[pair]) & (np.maximum(ey1, ey2) >= lat0[pair])
    )
    hit = np.zeros(e.size, dtype=bool)
    bi = np.flatnonzero(bbox)
    if bi.size == 0:
        return hit
    dx = ex2[bi] - ex1[bi]
    dy = ey2[bi] - ey1[bi]
    x0b, x1b = lon0[pair[bi]], lon1[pair[bi]]
    y0b, y1b = lat0[pair[bi]], lat1[pair[bi]]
    c00 = dx * (y0b - ey1[bi]) - dy * (x0b - ex1[bi])
    c01 = dx * (y0b - ey1[bi]) - dy * (x1b - ex1[bi])
    c10 = dx * (y1b - ey1[bi]) - dy * (x0b - ex1[bi])
    c11 = dx * (y1b - ey1[bi]) - dy * (x1b - ex1[bi])
    all_pos = (c00 > 0) & (c01 > 0) & (c10 > 0) & (c11 > 0)
    all_neg = (c00 < 0) & (c01 < 0) & (c10 < 0) & (c11 < 0)
    hit[bi] = ~(all_pos | all_neg)
    return hit


def _classify_cells(prep: PreparedPolygons, poly_idx, cells):
    """(touched_by_boundary, interior) flags for candidate cells."""
    lon0, lat0, lon1, lat1 = grid.cell_bounds(cells)
    counts = prep.edge_count[poly_idx]
    total = int(counts.sum())
    touched = np.zeros(cells.size, dtype=bool)
    if total:
        pair = np.repeat(np.arange(cells.size, dtype=np.int64), counts)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        local = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
        e = np.repeat(prep.edge_start[poly_idx], counts) + local
        hit = _seg_rect_hit(prep, e, pair, lon0, lat0, lon1, lat1)
        touched = np.bincount(pair[hit], minlength=cells.size) > 0
    interior = np.zeros(cells.size, dtype=bool)
    un = ~touched
    if un.any():
        ui = np.flatnonzero(un)
        cx, cy = grid.cell_center(cells[ui])
        interior[ui] = prep.contains(cx, cy, poly_idx[ui])
    return touched, interior


def _reachable(cells, occupied, res):
    """Mask of ``cells`` (all at ``res``) that are an ancestor-or-self
    of some ``occupied`` cell — the only covering cells a point in
    ``occupied`` can join on (a point's cell at a coarser res is the
    bit-shifted parent of its finer cell, ``grid.parent``)."""
    return np.isin(cells, np.unique(grid.parent(occupied, res)))


def cover_polygons_adaptive(
    packed: PackedPolygons,
    res_min: int,
    res_max: int,
    max_cells_per_poly: int = 262_144,
    occupied: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Quadtree covering: start at ``res_min``, emit fully-interior
    cells as soon as they classify (coarse), split boundary-touched
    cells into their 4 children, recurse to ``res_max`` where remaining
    boundary cells are emitted with fully_contained=False.

    Compared to single-res covering at ``res_max``: the dim table
    shrinks from O(area/fine_cell) to O(perimeter/fine_cell) rows, and
    interior acceptance happens at the coarsest possible level. Same
    superset + interior-correctness guarantees. ``res_min == res_max``
    is that single-res covering: the bbox cells at ``res_max`` that a
    boundary edge touches or whose center is inside.

    ``occupied`` (cells at ``res_max``, optional) prunes the quadtree
    to where the points are: see ``refine_cells``.

    Returns (poly_idx, cell, fully_contained).
    """
    bb = packed.bbox
    valid = np.flatnonzero(np.isfinite(bb[:, 0]))
    if valid.size == 0:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0, bool),)
    src, cells = grid.cover_bbox(
        bb[valid, 0], bb[valid, 1], bb[valid, 2], bb[valid, 3], res_min,
        max_cells=max_cells_per_poly * max(valid.size, 1),
    )
    return refine_cells(packed, valid[src], cells, res_min, res_max, occupied)


def refine_cells(
    packed: PackedPolygons,
    poly_idx: np.ndarray,
    cells: np.ndarray,
    res_min: int,
    res_max: int,
    occupied: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Quadtree refinement from given SEED cells at ``res_min``: the
    per-level classify/split loop of ``cover_polygons_adaptive``,
    callable on any (poly_idx, cell) subset — each seed cell refines
    independently, which is what lets the distributed builder spread
    one huge polygon's covering across the cluster.

    OCCUPIED-CELL PRUNING: with ``occupied`` (the cells at ``res_max``
    that the join's points fall in), each level first drops the
    (poly, cell) pairs whose cell is no ancestor-or-self of an occupied
    cell, before any classification. Every pair a point can join on is
    kept with the same ``fully_contained`` flag, so candidate pairs and
    join output are unchanged; only unreachable subtrees go away."""
    prep = PreparedPolygons(packed)
    poly_idx = np.asarray(poly_idx, np.int64)
    cells = np.asarray(cells, np.int64)
    out_p: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    out_f: list[np.ndarray] = []
    for res in range(res_min, res_max + 1):
        if occupied is not None:
            keep = _reachable(cells, occupied, res)
            poly_idx, cells = poly_idx[keep], cells[keep]
        touched, interior = _classify_cells(prep, poly_idx, cells)
        if interior.any():
            out_p.append(poly_idx[interior])
            out_c.append(cells[interior])
            out_f.append(np.ones(int(interior.sum()), dtype=bool))
        if res == res_max:
            if touched.any():
                out_p.append(poly_idx[touched])
                out_c.append(cells[touched])
                out_f.append(np.zeros(int(touched.sum()), dtype=bool))
            break
        # split touched cells into children
        ti = np.flatnonzero(touched)
        if ti.size == 0:
            break
        r_arr, x, y = grid.decode(cells[ti])
        cx = x << 1
        cy = y << 1
        child_x = np.concatenate([cx, cx + 1, cx, cx + 1])
        child_y = np.concatenate([cy, cy, cy + 1, cy + 1])
        poly_idx = np.tile(poly_idx[ti], 4)
        cells = grid.from_xy(child_x, child_y, res + 1)
    if not out_c:
        return (np.empty(0, np.int64),) * 2 + (np.empty(0, bool),)
    return np.concatenate(out_p), np.concatenate(out_c), np.concatenate(out_f)

