"""The one driver-collect seam of the broadcast routes.

Every operator with a broadcast route (``point_in_polygon_join``,
``ann_topk``, ``ivf_topk``, ``cosine_dup_pairs(mode="exact")``,
``clipped_regions``) gets its driver-side copy of the small side from
:func:`bounded_collect`, under the one budget ``MAX_COLLECT_BYTES``:
the rows arrive as one Arrow table when they fit, and the operator
takes its distributed route when they do not. Each call logs one DEBUG
record on ``sophox_spark.route`` (:func:`log`) with the op, the route,
the bytes seen and the budget; a route that reuses an earlier call's
collect (the PIP join's prepared-dim memo) logs ``route="memo"``
through the same function instead.
"""

from __future__ import annotations

import logging

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame

#: driver bytes any one broadcast route may collect
MAX_COLLECT_BYTES = 64 << 20

# rows sized by the one-job probe; a bigger input streams its sizes
_PROBE_ROWS = 4096

_log = logging.getLogger("sophox_spark.route")


def bounded_collect(
    df: DataFrame, nbytes: int | Column, op: str, max_bytes: int | None = None
) -> pa.Table | None:
    """All rows of ``df`` as one Arrow table when their bytes fit
    ``max_bytes`` (default ``MAX_COLLECT_BYTES``), else None.

    ``nbytes`` is the size of a row: an int for fixed-width rows, which
    ``limit(cap + 1)`` alone bounds, or a Column for rows of varying
    size (WKB). Those are sized on the executors before any payload
    reaches the driver: one job sizes the first ``_PROBE_ROWS`` + 1
    rows, and an input with more rows streams its sizes partition by
    partition and is abandoned once past the budget, so a dim of a few
    huge rows is never collected and a planet-scale one is read only
    to the budget plus one partition. EAGER: this runs Spark jobs at
    plan construction, and the caller's action reads ``df`` again."""
    budget = MAX_COLLECT_BYTES if max_bytes is None else max_bytes
    table = None
    if isinstance(nbytes, int):
        cap = budget // nbytes
        got = df.limit(cap + 1).toArrow()
        seen = got.num_rows * nbytes
        if got.num_rows <= cap:
            table = got
    else:
        sizes = df.select(nbytes.alias("n")).limit(_PROBE_ROWS + 1).toArrow().column("n")
        seen = pc.sum(sizes).as_py() or 0
        if len(sizes) > _PROBE_ROWS and seen <= budget:
            seen = 0
            for row in df.select(nbytes).toLocalIterator():
                seen += row[0] or 0
                if seen > budget:
                    break
        if seen <= budget:
            table = df.toArrow()
    log(op, "distributed" if table is None else "collect", seen, budget)
    return table


def log(op: str, route: str, nbytes: int, budget: int) -> None:
    """The one DEBUG record of a routed call on ``sophox_spark.route``."""
    _log.debug(
        "%s: route=%s bytes=%d budget=%d", op, route, nbytes, budget,
        extra={"op": op, "route": route, "bytes": nbytes, "budget": budget},
    )
