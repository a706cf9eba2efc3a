"""Spans around each call into an engine layer, and the Spark status
readers that attribute jobs, stages and SQL metrics to them.

Everything is read from outside the engine through Spark's own status
stores, which work with ``spark.ui.enabled=false``: job groups from the
status tracker, per-stage task metrics from
``statusStore().lastStageAttempt(id)``, and per-node SQL metrics from
the SQL status store (``executionsList`` / ``planGraph`` /
``executionMetrics``). Spans are kept in memory and written out once,
when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# SQL metric names of the Python-runner nodes (MapInPandas,
# FlatMapGroupsInPandas, ArrowEvalPython, ...) → per-layer field
PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}


def parse_metric(text) -> float | None:
    """One SQL-metric display string → a number in base units (bytes,
    seconds or a count). Accepts the py4j rendering of a Scala Option
    (``Some(60)``, ``None``) and the multi-task form whose first line is
    ``total (min, med, max ...)`` and whose total leads the next line."""
    if text is None:
        return None
    s = str(text).strip()
    if s == "None":
        return None
    if s.startswith("Some(") and s.endswith(")"):
        s = s[5:-1].strip()
    if s.startswith("total"):
        s = s.split("\n", 1)[1] if "\n" in s else s
    m = _VALUE.match(s.strip())
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


@dataclass
class Span:
    run_id: str
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval that children cover
    (overlapping children count once; parts outside the span don't)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(c.start, span.start), min(c.end, span.end)) for c in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


class Tracer:
    """In-memory span store for one run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []

    def start(self, name: str, parent: Span | None = None, **attrs) -> Span:
        span = Span(self.run_id, len(self.spans), None if parent is None else parent.span_id,
                    name, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(span)
        return span

    def end(self, span: Span, **attrs) -> Span:
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        return span

    def records(self) -> list[dict]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return [dict(asdict(s), self_s=self_time(s, kids.get(s.span_id, []))) for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.records():
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    """Reads one op's Spark footprint after it ran under known job
    groups and between two SQL execution-count marks."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def sync(self) -> None:
        """Block until the listener bus has delivered every event, so the
        stores reflect the jobs that just finished."""
        self.jsc.listenerBus().waitUntilEmpty()

    def execution_mark(self) -> int:
        return int(self.sql_store.executionsCount())

    def jobs(self, group: str) -> list[int]:
        return sorted(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids) -> dict:
        out = dict(stages=0, stages_skipped=0, task_s=0.0, cpu_s=0.0, input_bytes=0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["stages"] += 1
                out["task_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled()
        return out

    def sql_nodes(self, mark0: int, mark1: int):
        """(node name, node description, {metric name: value}) for every
        plan node of the SQL executions started between two marks."""
        if mark1 <= mark0:
            return
        for ex in _scala_iter(self.sql_store.executionsList(mark0, mark1 - mark0)):
            eid = ex.executionId()
            values = self.sql_store.executionMetrics(eid)
            for node in _scala_iter(self.sql_store.planGraph(eid).allNodes()):
                metrics = {m.name(): parse_metric(values.get(m.accumulatorId()))
                           for m in _scala_iter(node.metrics())}
                yield node.name(), node.desc(), metrics

    def cached_bytes(self) -> int:
        return sum(int(r.memSize()) + int(r.diskSize()) for r in self.jsc.getRDDStorageInfo())
