"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow and independent of the engine:
the engine only ever sees the parquet files these functions write, and
the oracles in ``oracles.py`` check its outputs against the arrays kept
here. The same seed always yields the same bytes.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# points and polygons live in a Europe-sized box; the dense "city" is one
# res-13 grid cell (the engine's H3 res-7 analog), so ≥30% of the points
# share a single cell id — the FIXTURES.md skew rule
WORLD = (-25.0, 30.0, 45.0, 65.0)
CITY_LON, CITY_LAT = 13.40, 52.50
CITY_RES = 13
CITY_SHARE = 0.35


def city_cell_box(res: int = CITY_RES) -> tuple[float, float, float, float]:
    """(lon0, lat0, lon1, lat1) of the grid cell holding the city centre,
    using the grid's documented packing (x over 360°, y over 180°)."""
    n = 1 << res
    x = np.floor((CITY_LON + 180.0) / 360.0 * n)
    y = np.floor((CITY_LAT + 90.0) / 180.0 * n)
    return (x / n * 360.0 - 180.0, y / n * 180.0 - 90.0,
            (x + 1) / n * 360.0 - 180.0, (y + 1) / n * 180.0 - 90.0)


def skewed_points(rng: np.random.Generator, n: int,
                  share: float = CITY_SHARE) -> tuple[np.ndarray, np.ndarray]:
    """``share`` of the points uniform inside the city cell (kept off
    its edges), the rest uniform over the world box; 6 decimals."""
    n_city = int(n * share)
    x0, y0, x1, y1 = city_cell_box()
    mx, my = (x1 - x0) * 0.05, (y1 - y0) * 0.05
    lon = np.concatenate([rng.uniform(x0 + mx, x1 - mx, n_city),
                          rng.uniform(WORLD[0], WORLD[2], n - n_city)])
    lat = np.concatenate([rng.uniform(y0 + my, y1 - my, n_city),
                          rng.uniform(WORLD[1], WORLD[3], n - n_city)])
    perm = rng.permutation(n)
    return np.round(lon[perm], 6), np.round(lat[perm], 6)


def star_ring(rng: np.random.Generator, cx: float, cy: float, r_mean: float) -> np.ndarray:
    """Closed star-shaped ring of 6–19 vertices. Angles are stratified, so
    the ring is simple and contains the disc of radius ``0.2 * r_mean``
    around its centre (no gap between vertices exceeds 120°)."""
    nv = int(rng.integers(6, 20))
    ang = (np.arange(nv) + rng.uniform(0.0, 1.0, nv)) * (2.0 * np.pi / nv)
    r = rng.uniform(0.4 * r_mean, 1.6 * r_mean, nv)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian OGC WKB Polygon with one ring."""
    return (struct.pack("<BIII", 1, 3, 1, len(ring))
            + np.ascontiguousarray(ring, dtype="<f8").tobytes())


@dataclass
class Polygons:
    ids: np.ndarray
    rings: list[np.ndarray]

    @property
    def wkb_bytes(self) -> int:
        return sum(13 + 16 * len(r) for r in self.rings)


def star_polygons(rng: np.random.Generator, n: int) -> Polygons:
    """``n`` star polygons. The first two (a city and its region) contain
    the whole dense city cell; no other polygon comes near it, so every
    seed gives the hot cell the same two candidate polygons."""
    x0, y0, x1, y1 = city_cell_box()
    mx, my = (x0 + x1) / 2, (y0 + y1) / 2
    rings = [star_ring(rng, mx, my, 0.15), star_ring(rng, mx + 0.1, my, 1.0)]
    # stratified radii: the seed moves and reshapes polygons but keeps
    # their total area (and so the join's output size) nearly fixed
    for r in rng.permutation(np.linspace(0.2, 2.5, n - 2)):
        while True:
            cx = rng.uniform(WORLD[0] + 2, WORLD[2] - 2)
            cy = rng.uniform(WORLD[1] + 2, WORLD[3] - 2)
            reach = 1.6 * r  # a star ring never leaves this box around its centre
            if cx + reach < x0 or cx - reach > x1 or cy + reach < y0 or cy - reach > y1:
                break
        rings.append(star_ring(rng, cx, cy, float(r)))
    return Polygons(np.arange(n, dtype=np.int64), rings)


def write_table(path: str, columns: dict[str, pa.Array | np.ndarray | list],
                row_group_rows: int | None = None) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path, row_group_size=row_group_rows)
    return os.path.getsize(path)


def write_polygons(path: str, polys: Polygons) -> int:
    return write_table(path, {
        "polygon_id": pa.array(polys.ids, pa.int64()),
        "geom": pa.array([polygon_wkb(r) for r in polys.rings], pa.binary()),
    })


# ---- pages with embedded geo mentions (incremental_ingest) ----------------

_PAGE = """<html><head>
<title>Report {url_id}</title>
{metas}</head><body>
<h1>Field notes {url_id} &amp; more</h1>
<p>{body}</p>
{links}
<p>{tags}</p>
</body></html>"""


@dataclass
class PageBatch:
    """One micro-batch: the pages as written, plus what the generator
    put in them (per url: coordinate mentions and total mention count)."""
    urls: list[str]
    html: list[bytes]
    coords: dict[str, np.ndarray]  # url -> (k, 2) lon/lat of coordinate mentions
    n_mentions: dict[str, int]


def page_batch(rng: np.random.Generator, url_ids: np.ndarray, version: int) -> PageBatch:
    """Pages for ``url_ids``; every page carries ≥1 coordinate mention
    (so a re-crawl always replaces, never leaves, its old mentions)."""
    urls, html, coords, counts = [], [], {}, {}
    for uid in url_ids:
        url = f"https://example.org/p/{int(uid):07d}"
        # many coordinates per page: the PIP output of a small snapshot then
        # holds enough points that its pair count hardly moves with the seed
        k = int(rng.integers(8, 16))
        lon, lat = skewed_points(rng, k)
        metas, body, links, tags = [], [], [], []
        for lo, la in zip(lon, lat):
            style = int(rng.integers(0, 3))
            if style == 0:
                metas.append(f'<meta name="geo.position" content="{la:.6f};{lo:.6f}">\n')
            elif style == 1:
                metas.append(f'<meta name="ICBM" content="{la:.6f}, {lo:.6f}">\n')
            else:
                body.append(f"Seen at {la:.6f}, {lo:.6f} on visit {version}.")
        n = k
        if rng.random() < 0.4:
            links.append(f'<a href="https://www.openstreetmap.org/node/{int(rng.integers(1, 10**6))}">n</a>')
            n += 1
        if rng.random() < 0.3:
            tags.append(f"wikidata=Q{int(rng.integers(1, 10**6))}")
            n += 1
        page = _PAGE.format(url_id=int(uid), metas="".join(metas),
                            body=" ".join(body) or "No text coordinates.",
                            links=" ".join(links), tags=" ".join(tags))
        urls.append(url)
        html.append(page.encode())
        coords[url] = np.column_stack([lon, lat])
        counts[url] = n
    return PageBatch(urls, html, coords, counts)


def write_pages(path: str, batch: PageBatch) -> int:
    return write_table(path, {"url": pa.array(batch.urls, pa.string()),
                              "html": pa.array(batch.html, pa.binary())})


def dir_bytes(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path`` (0, 0 if absent)."""
    files = total = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            files += 1
            total += os.path.getsize(os.path.join(dirpath, name))
    return files, total
