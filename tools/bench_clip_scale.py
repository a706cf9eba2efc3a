"""Scale probe for the distributed clipped_regions path.

Round-2 verdict flagged the broadcast-only clip as a 100× hazard; this
probe runs the DISTRIBUTED cell-candidate path on a 10^4-polygon water
dim × 2·10^3 regions (far past any driver-broadcast comfort) and
reports clip throughput. Results land in BENCH/BASELINE.md.

Usage: python tools/bench_clip_scale.py [n_water] [n_regions]
"""

from __future__ import annotations

import sys
import time

import numpy as np
import pandas as pd


def rect(x0, y0, w, h):
    return np.array(
        [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]], float
    )


def main() -> None:
    sys.path.insert(0, "/root/repo")
    from sophox_spark.geometry import wkb
    from sophox_spark.operators import dissolve
    from sophox_spark.plans import get_spark, route

    n_water = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    n_regions = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    spark = get_spark("clip-scale", cpus=16, shuffle_partitions=32)

    rng = np.random.default_rng(7)
    # regions: ~1.5° squares scattered over a 120°×60° window
    rx = rng.uniform(-60, 58, n_regions)
    ry = rng.uniform(-30, 28, n_regions)
    regions = spark.createDataFrame(
        pd.DataFrame(
            {
                "polygon_id": np.arange(n_regions, dtype=np.int64),
                "geom": [
                    wkb.polygon_wkb([rect(x, y, 1.5, 1.5)])
                    for x, y in zip(rx, ry)
                ],
            }
        ),
        "polygon_id long, geom binary",
    ).repartition(32).localCheckpoint()
    # water: small 0.1° ponds, 10% with an island hole
    wx = rng.uniform(-60, 59, n_water)
    wy = rng.uniform(-30, 29, n_water)
    blobs = []
    for i, (x, y) in enumerate(zip(wx, wy)):
        rings = [rect(x, y, 0.1, 0.1)]
        if i % 10 == 0:
            rings.append(rect(x + 0.03, y + 0.03, 0.03, 0.03))
        blobs.append(wkb.polygon_wkb(rings))
    water = spark.createDataFrame(
        pd.DataFrame({"geom": blobs}), "geom binary"
    ).repartition(32).localCheckpoint()

    t0 = time.time()
    route.MAX_COLLECT_BYTES = 0  # force the distributed path
    out = dissolve.clipped_regions(regions, water)
    agg = out.agg(
        {"area": "sum", "n_fallbacks": "sum", "polygon_id": "count"}
    ).collect()[0]
    dt = time.time() - t0
    n_rows = agg["count(polygon_id)"]
    print(
        f"distributed clip: {n_water} water x {n_regions} regions -> "
        f"{n_rows} rows in {dt:.1f}s = {n_rows / dt:.0f} regions/s, "
        f"sum_area={agg['sum(area)']:.2f}, n_fallbacks={agg['sum(n_fallbacks)']}"
    )


if __name__ == "__main__":
    main()
