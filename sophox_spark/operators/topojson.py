"""TopoJSON arc topology for the regions service.

The reference's ``/regions/topojson`` response runs ``topojson.topology``
in-process over the selected region shapes
(/root/reference/osm-regions-server/server.js:198-210): shared borders
between adjacent regions are extracted ONCE as arcs and referenced by
index (ones'-complement ``~i`` when traversed backwards). This module is
a from-scratch implementation of the public TopoJSON topology algorithm
(junction detection by neighbor-pair mismatch → ring cutting → arc
dedup → delta encoding; Bostock's published topojson spec/algorithm):

  * the heavy geometry work (dissolve, Visvalingam simplification,
    collection-grid quantization) stays DISTRIBUTED (one task per key);
  * the topology assembly itself is a single task over the ≤1000-id
    response set — exactly the reference's in-process step, and bounded
    by the same API limit (server.js:134).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..geometry import simplify as simp, wkb
from .dissolve import dissolve


def _junctions(rings: list[list[tuple]]) -> set:
    """A point is a junction when it occurs with two different
    (unordered) neighbor pairs across all ring traversals — interior
    points of a border shared by two rings walked in opposite directions
    have IDENTICAL neighbor pairs and stay arc-interior."""
    neighbors: dict = {}
    junc: set = set()
    for ring in rings:
        n = len(ring)
        for i, p in enumerate(ring):
            pair = frozenset((ring[i - 1], ring[(i + 1) % n]))
            prev = neighbors.get(p)
            if prev is None:
                neighbors[p] = pair
            elif prev != pair:
                junc.add(p)
    return junc


def _cut_ring(ring: list[tuple], junc: set) -> list[list[tuple]]:
    """Split one open ring into arcs between junctions (endpoints
    inclusive). A junction-free ring is a single closed arc."""
    idxs = [i for i, p in enumerate(ring) if p in junc]
    if not idxs:
        return [ring + [ring[0]]]
    k = idxs[0]
    rot = ring[k:] + ring[:k]
    jpos = [i - k for i in idxs] + [len(ring)]
    arcs = []
    for a, b in zip(jpos, jpos[1:]):
        arcs.append(rot[a : b + 1] if b < len(ring) else rot[a:] + [rot[0]])
    return arcs


def _delta(arc: list[tuple]) -> list[list[int]]:
    out = [[int(arc[0][0]), int(arc[0][1])]]
    for (x0, y0), (x1, y1) in zip(arc, arc[1:]):
        out.append([int(x1 - x0), int(y1 - y0)])
    return out


def build_topology(
    features: list[tuple], transform_scale=None, transform_translate=None
) -> dict:
    """features: list of (feature_id, polys) where polys =
    list-of-polygons, each a list of OPEN quantized integer rings
    (list[(x, y)]). Returns the TopoJSON Topology dict: deduped
    delta-encoded arcs (reversed shares use the ``~i`` ones'-complement
    convention) + MultiPolygon objects referencing them."""
    all_rings = [
        ring for _, polys in features for rings in polys for ring in rings
    ]
    junc = _junctions(all_rings)
    arc_index: dict[tuple, int] = {}
    arcs: list[list[tuple]] = []

    def arc_ref(arc: list[tuple]) -> int:
        key = tuple(arc)
        got = arc_index.get(key)
        if got is not None:
            return got
        rev = tuple(reversed(arc))
        got = arc_index.get(rev)
        if got is not None:
            return ~got  # ones' complement: traverse backwards
        idx = len(arcs)
        arcs.append(arc)
        arc_index[key] = idx
        return idx

    geometries = []
    for fid, polys in features:
        obj_polys = []
        for rings in polys:
            obj_rings = []
            for ring in rings:
                obj_rings.append([arc_ref(a) for a in _cut_ring(ring, junc)])
            obj_polys.append(obj_rings)
        geometries.append({"type": "MultiPolygon", "id": fid, "arcs": obj_polys})
    topo = {
        "type": "Topology",
        "arcs": [_delta(a) for a in arcs],
        "objects": {
            "regions": {"type": "GeometryCollection", "geometries": geometries}
        },
    }
    if transform_scale is not None:
        topo["transform"] = {
            "scale": list(transform_scale),
            "translate": list(transform_translate),
        }
    return topo


def expand_ring(topo: dict, arc_refs: list[int]) -> list[tuple]:
    """Reconstruct one ring's quantized points from arc references
    (decoding check / test oracle): stitch arcs, dropping each junction
    repeated between consecutive arcs and the final closing point."""
    decoded = []
    for a in topo["arcs"]:
        pts = [tuple(a[0])]
        for dx, dy in a[1:]:
            pts.append((pts[-1][0] + dx, pts[-1][1] + dy))
        decoded.append(pts)
    ring: list[tuple] = []
    for ref in arc_refs:
        pts = decoded[ref] if ref >= 0 else list(reversed(decoded[~ref]))
        ring.extend(pts if not ring else pts[1:])
    if len(ring) > 1 and ring[0] == ring[-1]:
        ring = ring[:-1]
    return ring


def regions_topojson(
    polygons_df: DataFrame,
    ids_df: DataFrame,
    key: str = "wikidata",
    geom_col: str = "geom",
    spherical: bool = True,
    quantile_p: float = 0.07,
    quantize_q: int = 10_000,
) -> DataFrame:
    """The /regions?format=topojson flow (server.js:184-210): id
    semi-join → two-phase ``dissolve`` → per-key simplification (all
    distributed) →
    single-task topology over the bounded response set, quantized on the
    COLLECTION grid so shared borders between different ids dedupe into
    shared arcs.

    Output (one row): ``topology`` (TopoJSON string), ``n_features``,
    ``n_arcs``, ``n_shared_arcs`` (arcs referenced more than once).
    """
    selected = polygons_df.join(F.broadcast(ids_df), key, "left_semi")
    dissolved = dissolve(selected, key=key, geom_col=geom_col)

    def simplify_partial(batches):
        # distributed per-key simplification; quantization must wait for
        # the collection bbox, so ship simplified float rings as WKB
        for pdf in batches:
            out = {key: [], geom_col: []}
            for k, blob in zip(pdf[key], pdf[geom_col]):
                if blob is None:
                    continue
                polys = wkb.decode_one(bytes(blob))
                simplified = []
                ring_eff = [
                    [simp.presimplify(r, spherical=spherical) for r in rings]
                    for rings in polys
                ]
                pool = (
                    np.concatenate([e for eff in ring_eff for e in eff])
                    if ring_eff
                    else np.array([])
                )
                thr = simp.area_quantile(pool, quantile_p) if pool.size else 0.0
                for rings, effs in zip(polys, ring_eff):
                    simplified.append(
                        [simp.simplify_ring(r, e, thr) for r, e in zip(rings, effs)]
                    )
                out[key].append(k)
                out[geom_col].append(wkb.multipolygon_wkb(simplified))
            yield pd.DataFrame(out)

    simplified = dissolved.mapInPandas(simplify_partial, f"{key} string, {geom_col} binary")

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        feats = []
        all_coords = []
        for k, blob in zip(pdf[key], pdf[geom_col]):
            polys = wkb.decode_one(bytes(blob))
            feats.append((k, polys))
            for rings in polys:
                for r in rings:
                    all_coords.append(r)
        if not feats:
            return pd.DataFrame(
                columns=["topology", "n_features", "n_arcs", "n_shared_arcs"]
            )
        allc = np.concatenate(all_coords)
        bbox = (
            float(allc[:, 0].min()), float(allc[:, 1].min()),
            float(allc[:, 0].max()), float(allc[:, 1].max()),
        )
        q_feats = []
        for k, polys in feats:
            q_polys = []
            for rings in polys:
                q_rings = []
                for r in rings:
                    qr = simp.dedup_consecutive(simp.quantize(r, bbox, quantize_q))
                    # open the ring (quantize keeps the closing dup)
                    pts = [tuple(p) for p in qr.tolist()]
                    if len(pts) > 1 and pts[0] == pts[-1]:
                        pts = pts[:-1]
                    if len(pts) >= 3:
                        q_rings.append(pts)
                if q_rings:
                    q_polys.append(q_rings)
            if q_polys:
                q_feats.append((k, q_polys))
        scale = (
            (bbox[2] - bbox[0]) / (quantize_q - 1) or 1.0,
            (bbox[3] - bbox[1]) / (quantize_q - 1) or 1.0,
        )
        topo = build_topology(q_feats, scale, (bbox[0], bbox[1]))
        n_arcs = len(topo["arcs"])
        refs: dict[int, int] = {}
        for g in topo["objects"]["regions"]["geometries"]:
            for poly in g["arcs"]:
                for ring in poly:
                    for ref in ring:
                        i = ref if ref >= 0 else ~ref
                        refs[i] = refs.get(i, 0) + 1
        n_shared = sum(1 for c in refs.values() if c > 1)
        return pd.DataFrame(
            [
                (
                    json.dumps(topo, separators=(",", ":"), sort_keys=True),
                    len(q_feats),
                    n_arcs,
                    n_shared,
                )
            ],
            columns=["topology", "n_features", "n_arcs", "n_shared_arcs"],
        )

    return (
        simplified.withColumn("__one", F.lit(1))
        .groupBy("__one")
        .applyInPandas(
            lambda pdf: assemble(pdf),
            "topology string, n_features long, n_arcs long, n_shared_arcs long",
        )
    )
