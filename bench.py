"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "spatial_join_rows_per_sec": ..., "joined_rows": ...}

The headline metric (BASELINE.json) is spatial-join throughput in
joined rows/sec — measured on the flagship PIP pipeline (cell-cover
equi-join + salted skew lanes + JVM ray-cast refine) over the skewed
derived point set. Scaling-efficiency evidence (N vs 4N cores) is a
separate two-process run: tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from sophox_spark.plans import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "q01_pricing_agg",
    "q03_join_topk",
    "q_window_topk",
    "q_minhash_signatures",
    "q_simhash",
    "q_embedding_cosine_topk",
    "q_geo_pip_rects",
    "q_geo_knn",
    "q_geo_tiles",
    "q_pip_engine",
    "q_regions_geojson",
    "q_rasterize_tiles",
    "q_vector_tiles",
    "q_regions_clipped",
    "q_page_mentions",
]


def main() -> None:
    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=CPUS)
    qs = entry_mod.queries()
    # warm the JVM/Arrow path so query timings measure the engine
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        counts[name] = qs[name](spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 3)

    # codec side-metric: parallel PBF decode throughput (read path only —
    # the fixture is written once outside the clock). Not in `queries`
    # so the headline total stays comparable across rounds.
    import tempfile

    from sophox_spark.sources import pbf as pbf_src

    nodes, ways = entry_mod._pbf_fixture_frames(SF_DIR)
    pbf_path = os.path.join(tempfile.mkdtemp(prefix="bench_pbf_"), "b.osm.pbf")
    pbf_src.write_pbf(pbf_path, nodes, ways, block_size=2000)
    t0 = time.perf_counter()
    n_el = pbf_src.read_pbf(spark, pbf_path).count()
    pbf_sec = time.perf_counter() - t0

    # codec side-metric #2: PNG unfilter throughput on an all-Paeth
    # 512x512 RGB image (the common real-crawl filter) — tracks the
    # wavefront unfilter path, driver-side numpy only
    import numpy as np

    from sophox_spark.functions import png as png_codec

    import struct
    import zlib

    rng = np.random.default_rng(12)
    h, w, c = 512, 512, 3
    img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    # forward Paeth filtering reads only RAW neighbors — vectorized
    flat = img.reshape(h, w * c).astype(np.int16)
    left = np.zeros_like(flat)
    left[:, c:] = flat[:, :-c]
    up = np.zeros_like(flat)
    up[1:] = flat[:-1]
    ul = np.zeros_like(flat)
    ul[1:, c:] = flat[:-1, :-c]
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
    scan = np.concatenate(
        [np.full((h, 1), 4, np.uint8),
         ((flat - pred) & 0xFF).astype(np.uint8)], axis=1
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    enc = (
        b"\x89PNG\r\n\x1a\n"
        + png_codec._chunk(b"IHDR", ihdr)
        + png_codec._chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + png_codec._chunk(b"IEND", b"")
    )
    assert np.array_equal(png_codec.decode(enc), img)  # warm + correct
    t0 = time.perf_counter()
    n_dec = 5
    for _ in range(n_dec):
        png_codec.decode(enc)
    png_sec = time.perf_counter() - t0
    png_mb = n_dec * img.nbytes / (1 << 20)

    # codec side-metric #3: baseline JPEG decode (4:2:0, the dominant
    # real-crawl image format) — smooth gradient, 512x512 RGB
    from sophox_spark.functions import jpeg as jpeg_codec

    gx, gy = np.meshgrid(np.arange(512), np.arange(512))
    jimg = np.stack(
        [((gx + gy) % 200 + 20), (gx % 180 + 30), (gy % 150 + 50)],
        axis=-1,
    ).astype(np.uint8)
    jenc = jpeg_codec.encode(jimg, "420")
    jpeg_codec.decode(jenc)  # warm
    t0 = time.perf_counter()
    for _ in range(3):
        jpeg_codec.decode(jenc)
    jpeg_sec = time.perf_counter() - t0
    jpeg_mb = 3 * jimg.nbytes / (1 << 20)

    # codec side-metric #4: progressive (SOF2) decode — the dominant
    # real-crawl JPEG variant (spectral selection + successive
    # approximation; refinement scans are the extra cost vs baseline)
    jenc_p = jpeg_codec.encode(jimg, "420", progressive=True)
    jpeg_codec.decode(jenc_p)  # warm
    t0 = time.perf_counter()
    for _ in range(3):
        jpeg_codec.decode(jenc_p)
    jpeg_prog_sec = time.perf_counter() - t0

    # corpus-pipeline side metrics (round 6): exact-substring dedup and
    # bigram-LM perplexity over the full documents table — not in
    # `queries` so the headline total stays comparable across rounds
    from sophox_spark.functions import lm as lm_mod
    from sophox_spark.operators import dedup as dedup_mod

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    t0 = time.perf_counter()
    dedup_mod.strip_duplicated_spans(docs, k=13).count()
    substr_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    lm_model = lm_mod.train_bigram_lm(docs.where("doc_id % 10 = 0"))
    lm_mod.perplexity(docs.where("doc_id % 10 <> 0"), lm_model).count()
    lm_sec = time.perf_counter() - t0

    joined_rows = counts["q_pip_engine"]
    pip_sec = timings["q_pip_engine"]
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "spatial-join throughput (joined rows/sec) over skewed points",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "joined_rows": joined_rows,
        "spatial_join_rows_per_sec": round(joined_rows / pip_sec, 1) if pip_sec else None,
        "pbf_decode_elements_per_sec": round(n_el / pbf_sec, 1) if pbf_sec else None,
        "png_decode_mb_per_sec": round(png_mb / png_sec, 1) if png_sec else None,
        "jpeg_decode_mb_per_sec": round(jpeg_mb / jpeg_sec, 1) if jpeg_sec else None,
        "jpeg_progressive_mb_per_sec": round(jpeg_mb / jpeg_prog_sec, 1) if jpeg_prog_sec else None,
        "substr_dedup_docs_per_sec": round(n_docs / substr_sec, 1) if substr_sec else None,
        "lm_perplexity_docs_per_sec": round(n_docs / lm_sec, 1) if lm_sec else None,
        "cpus": CPUS,
    }
    # attach the N->4N scaling evidence (tools/bench_scaling.py):
    # `scaling_efficiency` is the FRESHEST measured pair (the last
    # history entry — what this round's host actually delivered);
    # `scaling_efficiency_best` is the best-ever pair on this host
    # (capability headline, kept separate so the two can't be conflated)
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            s = json.load(f)
        hist = s.get("history") or []
        fresh = hist[-1] if hist else s
        out["scaling_efficiency"] = fresh.get("scaling_efficiency")
        out["scaling_efficiency_best"] = s.get("scaling_efficiency")
        out["steady_state_rows_per_sec_4n"] = fresh.get("rows_per_sec_big")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
