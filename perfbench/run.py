"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_geojoin --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run starts the engine's session
sized to this host, generates the workload's inputs from ``--seed`` as
parquet, warms up on inputs from another seed, then times a fixed
quota of units (about ``--seconds`` of work on a 4-core host) and
checks every output against independent numpy answers.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
quota twice, untraced and traced (a span and the Spark footprint of
every engine call) with their units interleaved, prints the per-layer
metrics, and writes the spans to ``.perfbench_out/``. The last stdout line is the result JSON; the
line before it is a report with the regime and the derived metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid
from dataclasses import dataclass, field

import harness

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit, all lower-is-better. Times are CPU seconds of the run's
# processes, not wall time: the host takes CPU from this machine in
# bursts (steal), and wall time carries those bursts into every figure.
END_TO_END = {"setup_s": "s", "unit_cpu_s": "s", "peak_rss_mb": "MB"}
ALL_OPS = ("point_in_polygon_join", "knn_join", "assign_point_tiles", "extract_mentions",
           "commit_batch", "read")
PY_OPS = ("extract_mentions",)
# commit_batch is eager: all of its work happens before it returns, so
# its action fields are always zero and are left out
DROPPED = {"commit_batch.action_s", "commit_batch.action_jobs"}
EXTRA_LAYER = {
    "point_in_polygon_join.candidate_pairs": "rows",
    "point_in_polygon_join.refine_accept_ratio": "ratio",
    "commit_batch.buckets_touched_ratio": "ratio",
    "commit_batch.bytes_written": "B",
    "manifest.files": "count",
    "manifest.bytes": "B",
    "streaming.stored_bytes_per_input_byte": "ratio",
    "sources.scan_bytes": "B",
    "plans.session_start_s": "s",
    "trace_overhead_s": "s",
}
SETUP_REPEATS = 3
WARM_SEED_OFFSET = 7919


def field_unit(field: str) -> str:
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes") or field.startswith("py_bytes") or field == "cached_bytes_left":
        return "B"
    if field == "rows_out":
        return "rows"
    return "count"


def per_layer_units() -> dict[str, str]:
    from harness import OP_FIELDS, PY_FIELDS

    units = {}
    for op in ALL_OPS:
        for f in OP_FIELDS + (PY_FIELDS if op in PY_OPS else ()):
            if f"{op}.{f}" not in DROPPED:
                units[f"{op}.{f}"] = field_unit(f)
    units.update(EXTRA_LAYER)
    return units


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest percentile with
    at least ten samples beyond it, or the maximum when there are not
    enough samples for any."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


@dataclass
class Phase:
    """One replay of the unit quota, untraced or traced."""
    state: dict
    runner: object
    tracer: object = None
    wall_s: float = 0.0                           # summed time of its units
    results: list = field(default_factory=list)   # UnitResult per completed unit
    latencies: list = field(default_factory=list)
    cpu: list = field(default_factory=list)       # CPU seconds per completed unit
    steal: list = field(default_factory=list)     # hypervisor-taken seconds per completed unit
    raised: int = 0                               # ops of units that raised
    peak_mem: int = 0
    storage: dict | None = None


def run_phases(wl, inp, units: range, phases: list[Phase], clock) -> None:
    """Run unit ``i`` of every phase before unit ``i + 1`` (one client,
    closed loop), so an untraced and a traced replay see the same
    warm-up state and their difference is the tracing overhead."""
    for i in units:
        for ph in phases:
            span = ph.tracer.start("unit", None, workload=wl.name, index=i) if ph.tracer else None
            c0, s0, u0 = clock(), harness.steal_seconds(), time.perf_counter()
            try:
                res = wl.unit(ph.runner, inp, ph.state, i, span)
            except Exception:  # an engine failure is a failed op, reported, not fatal
                traceback.print_exc(file=sys.stderr)
                res = None
            dt = time.perf_counter() - u0
            dc, ds = clock() - c0, harness.steal_seconds() - s0
            if span is not None:
                ph.tracer.end(span)
            ph.wall_s += dt
            if res is None:
                ph.raised += wl.ops_per_unit
            else:
                ph.latencies.append(dt)
                ph.cpu.append(dc)
                ph.steal.append(ds)
                ph.results.append(res)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny scale)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sophox_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from harness import CpuClock, MemorySampler, OpRunner, median, start_session, stop_session
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.perf_counter()
    spark = start_session(ROOT, work)
    session_s = time.perf_counter() - t0
    clock = CpuClock()
    session_cpu = clock()
    phases: list[Phase] = []
    try:
        wl = WORKLOADS[args.workload](spark, work, args.scale)
        quota = wl.quota(args.seconds)
        gen_s, gen_cpu = [], []
        for r in range(SETUP_REPEATS):
            c0, g0 = clock(), time.perf_counter()
            inp = wl.generate(args.seed, f"in{r}", quota)
            gen_s.append(time.perf_counter() - g0)
            gen_cpu.append(clock() - c0)
        c0, w0 = clock(), time.perf_counter()
        warm_wl = type(wl)(spark, work, args.scale)
        warm = warm_wl.generate(args.seed + WARM_SEED_OFFSET, "warm", wl.warm_units)
        run_phases(warm_wl, warm, range(wl.warm_units),
                   [Phase(warm_wl.start(warm, "warm"), OpRunner(spark, clock, None))], clock)
        warm_s, warm_cpu = time.perf_counter() - w0, clock() - c0

        phases.append(Phase(wl.start(inp, "untraced"), OpRunner(spark, clock, None)))
        if args.trace:
            tracer = Tracer(uuid.uuid4().hex[:12])
            phases.append(Phase(wl.start(inp, "traced"), OpRunner(spark, clock, tracer), tracer))
        # each replay's primed units run untraced and untimed, but are checked
        primes = [Phase(ph.state, OpRunner(spark, clock, None)) for ph in phases]
        run_phases(wl, inp, range(wl.primed), primes, clock)
        prime_cpu = sum(primes[0].cpu)
        # set-up cost: session start (the interpreter and the JVM from
        # their start), one input generation (median of the repeats),
        # the warm-up and the first replay's primed units
        setup_cpu = session_cpu + median(gen_cpu) + warm_cpu + prime_cpu
        setup_wall_s = session_s + median(gen_s) + warm_s + primes[0].wall_s
        regime = wl.regime(inp)

        with MemorySampler(spark) as mem:
            run_phases(wl, inp, range(wl.primed, wl.primed + quota), phases, clock)
        for ph in phases:
            ph.peak_mem, ph.storage = mem.peak, wl.storage(ph.state)
    finally:
        stop_session(spark)

    attempted = failed = 0
    for ph in phases + primes:
        attempted += ph.raised + wl.ops_per_unit * len(ph.results)
        failed += ph.raised + sum(wl.check(inp, res) for res in ph.results)

    plain = phases[0]
    join_rows = sum(r.join_rows for r in plain.results)
    join_cpu = sum(r.join_cpu_s for r in plain.results)
    join_s = sum(r.join_s for r in plain.results)
    e2e = {
        "setup_s": setup_cpu,
        "unit_cpu_s": sum(plain.cpu) / len(plain.cpu) if plain.cpu else 0.0,
        "peak_rss_mb": plain.peak_mem / 2**20,
    }
    cpu_tail, cpu_pct, cpu_beyond = tail(plain.cpu) if plain.cpu else (0.0, 0.0, 0)
    lat_tail, lat_pct, lat_beyond = tail(plain.latencies) if plain.latencies else (0.0, 0.0, 0)
    wall = dict(wall_s=plain.wall_s, latency_p50_s=median(plain.latencies),
                latency_tail_s=lat_tail, latency_tail_percentile=lat_pct,
                latency_samples_beyond_tail=lat_beyond, ops_per_s=wl.ops_per_unit * len(plain.results)
                / plain.wall_s if plain.wall_s else 0.0,
                join_rows_per_s=join_rows / join_s if join_s else 0.0,
                unit_s=plain.latencies, steal_s=sum(plain.steal), setup_wall_s=setup_wall_s)
    report = dict(e2e, workload=wl.name, seed=args.seed, units=quota, regime=regime,
                  failed_ratio=failed / attempted, peak_anon_rss_mb=mem.peak_rss / 2**20,
                  unit_cpu=plain.cpu, unit_cpu_p50_s=median(plain.cpu), unit_cpu_tail_s=cpu_tail,
                  unit_cpu_tail_percentile=cpu_pct, unit_samples_beyond_tail=cpu_beyond,
                  join_rows_per_cpu_s=join_rows / join_cpu if join_cpu else 0.0,
                  wall_clock=wall,
                  setup_cpu_parts=dict(session_start_s=session_cpu,
                                       generate_write_s=median(gen_cpu),
                                       warm_up_s=warm_cpu, primed_s=prime_cpu))
    if plain.storage:
        report.update(plain.storage)

    if args.trace:
        metrics, units = layer_metrics(phases, session_s), per_layer_units()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.jsonl")
        phases[1].tracer.write(trace_path)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics, units = e2e, END_TO_END
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }), flush=True)
    return 0


def layer_metrics(phases: list[Phase], session_s: float) -> dict[str, float]:
    """Per-layer values of the traced phase: medians per call of each op
    (zero for ops the workload never calls), plus storage counters."""
    from harness import median

    traced = phases[1]
    records = traced.runner.records
    out: dict[str, float] = {}
    for name in per_layer_units():
        op, _, f = name.partition(".")
        if op in ALL_OPS:
            out[name] = median(r.get(f, 0.0) for r in records.get(op, []))
    pip = records.get("point_in_polygon_join", [])
    out["point_in_polygon_join.candidate_pairs"] = median(r["cell_join_rows"] for r in pip)
    out["point_in_polygon_join.refine_accept_ratio"] = median(
        r["rows_out"] / r["cell_join_rows"] for r in pip if r["cell_join_rows"])
    unit_scan: dict[int, float] = {}
    for s in traced.tracer.spans:
        if s.parent is not None and "scan_bytes" in s.attrs:
            unit_scan[s.parent] = unit_scan.get(s.parent, 0.0) + s.attrs["scan_bytes"]
    out["sources.scan_bytes"] = median(unit_scan.values())
    storage = traced.storage or {}
    out["manifest.files"] = storage.get("manifest_files", 0.0)
    out["manifest.bytes"] = storage.get("manifest_bytes", 0.0)
    out["streaming.stored_bytes_per_input_byte"] = storage.get("stored_bytes_per_input_byte", 0.0)
    out["plans.session_start_s"] = session_s
    out["trace_overhead_s"] = traced.wall_s - phases[0].wall_s
    return out


if __name__ == "__main__":
    sys.exit(main())
