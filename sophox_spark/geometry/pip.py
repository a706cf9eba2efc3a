"""Point-in-polygon ray casting, vectorized over candidate pairs.

This is the *refine* half of the engine's filter-then-refine spatial
join (SURVEY §2.3 J7/J8): the coarse half is a cell-id equi-join that
Catalyst executes as an ordinary (broadcastable) hash join; the pairs
that survive are checked exactly here, inside an Arrow batch.

The reference gets this from PostGIS (``ST_Intersects`` backed by GiST,
/root/reference/osm-regions-server/osm-regions/wd_only_sql.js:23-28) —
a nested-loop spatial join on one node. Ours distributes: candidate
generation scales with the cluster (hash join on cell), refinement cost
is proportional to surviving pairs only.

Boundary policy: ``contains`` is open-set parity (points exactly on an
edge are *not* contained); ``covers`` additionally accepts boundary
points within ``eps``. Fixture geometry pins the policy in tests.
"""

from __future__ import annotations

import numpy as np

from .wkb import PackedPolygons

# ``covers`` boundary tolerance, shared with the JVM refine of
# operators.spatial_join (both must accept the same points)
COVERS_EPS = 1e-12


def point_in_rings(px: float, py: float, rings) -> bool:
    """Scalar parity test against (ring, is_hole) pairs (test helper)."""
    inside = 0
    for ring, _ in rings:
        x, y = ring[:, 0], ring[:, 1]
        xn, yn = np.roll(x, -1), np.roll(y, -1)
        m = (y > py) != (yn > py)
        if m.any():
            t = (py - y[m]) / (yn[m] - y[m])
            inside += int(np.sum(px < x[m] + t * (xn[m] - x[m])))
    return inside % 2 == 1


class PreparedPolygons:
    """Edge-table form of PackedPolygons, built once per Arrow batch /
    broadcast and probed for many candidate pairs (the reference's GiST
    "prepared geometry" analog)."""

    __slots__ = ("x1", "y1", "x2", "y2", "edge_start", "edge_count", "bbox", "n_geoms")

    def __init__(self, packed: PackedPolygons):
        starts = packed.ring_offsets[:-1]
        ends = packed.ring_offsets[1:]
        nv = ends - starts
        # edges: vertex i → i+1 within each ring (rings carry the closing
        # vertex, so the last vertex of a ring emits no edge)
        keep = np.ones(len(packed.coords), dtype=bool)
        keep[ends - 1] = False
        idx = np.flatnonzero(keep)
        self.x1 = packed.coords[idx, 0]
        self.y1 = packed.coords[idx, 1]
        self.x2 = packed.coords[idx + 1, 0]
        self.y2 = packed.coords[idx + 1, 1]
        edge_poly = np.repeat(packed.ring_poly, nv - 1)
        # edges are emitted in ring order which is geometry order, so the
        # per-geometry edge ranges are contiguous
        self.edge_count = np.bincount(edge_poly, minlength=packed.n_geoms).astype(np.int64)
        self.edge_start = np.concatenate(([0], np.cumsum(self.edge_count)[:-1]))
        self.bbox = packed.bbox
        self.n_geoms = packed.n_geoms

    def contains(self, px, py, poly_idx, covers: bool = False, eps: float = COVERS_EPS):
        """Vectorized parity test for M candidate pairs.

        px, py : (M,) point coords; poly_idx : (M,) geometry index.
        Returns bool (M,). Expands each pair to its polygon's edges —
        memory ∝ Σ edges(poly_idx), so callers batch (Arrow batches are
        already bounded by spark.sql.execution.arrow.maxRecordsPerBatch).
        """
        px = np.asarray(px, np.float64)
        py = np.asarray(py, np.float64)
        poly_idx = np.asarray(poly_idx, np.int64)
        m = px.size
        if m == 0:
            return np.zeros(0, dtype=bool)
        # cheap bbox reject first
        bb = self.bbox[poly_idx]
        alive = (px >= bb[:, 0]) & (px <= bb[:, 2]) & (py >= bb[:, 1]) & (py <= bb[:, 3])
        out = np.zeros(m, dtype=bool)
        if not alive.any():
            return out
        ai = np.flatnonzero(alive)
        apx, apy, apoly = px[ai], py[ai], poly_idx[ai]
        counts = self.edge_count[apoly]
        total = int(counts.sum())
        if total == 0:
            return out
        pair_of_edge = np.repeat(np.arange(ai.size, dtype=np.int64), counts)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        local = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
        e = np.repeat(self.edge_start[apoly], counts) + local
        ex1, ey1, ex2, ey2 = self.x1[e], self.y1[e], self.x2[e], self.y2[e]
        ppx, ppy = apx[pair_of_edge], apy[pair_of_edge]
        crosses = (ey1 > ppy) != (ey2 > ppy)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(crosses, (ppy - ey1) / np.where(ey2 == ey1, np.inf, ey2 - ey1), 0.0)
            xint = ex1 + t * (ex2 - ex1)
        hit = crosses & (ppx < xint)
        parity = np.bincount(pair_of_edge[hit], minlength=ai.size) % 2 == 1
        if covers:
            onb = self._on_boundary(apx, apy, apoly, counts, pair_of_edge, e, eps)
            parity |= onb
        out[ai] = parity
        return out

    def _on_boundary(self, px, py, poly_idx, counts, pair_of_edge, e, eps):
        ex1, ey1, ex2, ey2 = self.x1[e], self.y1[e], self.x2[e], self.y2[e]
        ppx, ppy = px[pair_of_edge], py[pair_of_edge]
        dx, dy = ex2 - ex1, ey2 - ey1
        cross = (ppx - ex1) * dy - (ppy - ey1) * dx
        seg_len2 = dx * dx + dy * dy
        dot = (ppx - ex1) * dx + (ppy - ey1) * dy
        on = (np.abs(cross) <= eps * np.maximum(seg_len2, 1.0)) & (dot >= -eps) & (
            dot <= seg_len2 + eps
        )
        return np.bincount(pair_of_edge[on], minlength=px.size) > 0
