"""Session launch, op timing with cache hygiene, optional tracing, and
process-memory sampling for one benchmark run."""

from __future__ import annotations

import collections
import os
import statistics
import threading
import time
from typing import NamedTuple

from tracing import PY_METRICS, StatusReader, Tracer

OP_FIELDS = ("build_s", "action_s", "proc_cpu_s", "build_jobs", "action_jobs", "stages",
             "stages_skipped", "task_s", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "rows_out", "cached_bytes_left")
PY_FIELDS = tuple(PY_METRICS.values())


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, clamped to 1–4 GiB. The JVM grows
    its heap only as far as the work needs, and on these inputs that
    stays below the cap, so peak RSS follows the program, not the cap."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kib // 4 // 1024))}m"


def start_session(root: str, work: str):
    """Start the engine's session sized to this host, with the Python
    workers able to import the package from the checkout and every
    scratch file kept under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # JVMs write /tmp/hsperfdata_<user> regardless of java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from sophox_spark.plans import get_spark

    return get_spark("perfbench", cpus=host_cpus(), extra_conf={
        "spark.executorEnv.PYTHONPATH": root,
        "spark.driver.memory": driver_memory(),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def process_tree(roots) -> set[int]:
    """``roots`` and every live descendant of them."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    seen, todo = set(), list(roots)
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return seen


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids) -> float:
    """CPU time (user + system, of every thread, plus that of reaped
    children) the processes ``pids`` have been given so far."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class CpuClock:
    """CPU seconds used by the run: the driver Python, the JVM and the
    JVM's descendants (the Python workers)."""

    def __init__(self):
        self.roots = [p for p in (os.getpid(), jvm_pid()) if p]

    def __call__(self) -> float:
        return cpu_seconds(process_tree(self.roots))


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.pid


class MemorySampler:
    """Peak memory the driver Python, the JVM and the Python workers (the
    JVM's descendants) hold, sampled every ``interval`` seconds. A Python
    process counts its anonymous RSS (heap, malloc, stacks; not mapped
    files). The JVM counts its non-heap pools (metaspace, code cache)
    plus its heap in use after the latest garbage collection: the heap's
    RSS follows the collector's sizing, which grows toward the cap
    whatever the program keeps, while the heap left after a collection
    is what the program holds. The peak is taken over a rolling median of
    ``window`` samples, so memory held for about a second counts and a
    lone sub-second spike does not. ``peak_rss`` is the same over the
    plain anonymous RSS of every process, JVM included."""

    def __init__(self, spark, interval: float = 0.1, window: int = 9):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.memory = mf.getMemoryMXBean()
        self.collectors = list(mf.getGarbageCollectorMXBeans())
        self.heap_pools = [p.getName() for p in mf.getMemoryPoolMXBeans()
                           if p.getType().toString() == "HEAP"]
        self.jvm_pid = jvm_pid()
        self.roots = [p for p in (os.getpid(), self.jvm_pid) if p]
        self.interval = interval
        self.recent: collections.deque[int] = collections.deque(maxlen=window)
        self.recent_rss: collections.deque[int] = collections.deque(maxlen=window)
        self.peak = self.peak_rss = 0
        self._gc_counts: list[int] = []
        self._heap_after_gc = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def heap_after_gc(self) -> int:
        """Heap bytes in use right after the most recent collection (read
        again only when a collector's count has moved)."""
        counts = [int(c.getCollectionCount()) for c in self.collectors]
        if counts != self._gc_counts:
            self._gc_counts = counts
            infos = [c.getLastGcInfo() for c in self.collectors]
            infos = [i for i in infos if i is not None]
            if infos:
                last = max(infos, key=lambda i: i.getEndTime())
                after = last.getMemoryUsageAfterGc()
                self._heap_after_gc = sum(int(after.get(p).getUsed()) for p in self.heap_pools)
        return self._heap_after_gc

    def sample(self) -> None:
        python = jvm = 0
        for pid in process_tree(self.roots):
            try:
                with open(f"/proc/{pid}/status") as f:
                    kib = next(int(line.split()[1]) for line in f if line.startswith("RssAnon:"))
            except (OSError, StopIteration, IndexError, ValueError):
                continue
            if pid == self.jvm_pid:
                jvm = kib * 1024
            else:
                python += kib * 1024
        held = (python + int(self.memory.getNonHeapMemoryUsage().getCommitted())
                + self.heap_after_gc())
        self.recent.append(held)
        self.recent_rss.append(python + jvm)
        self.peak = max(self.peak, int(statistics.median(self.recent)))
        self.peak_rss = max(self.peak_rss, int(statistics.median(self.recent_rss)))

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


class Call(NamedTuple):
    value: object
    rows: int
    build_s: float
    action_s: float
    cpu_s: float               # CPU seconds of the run's processes during build + action


class OpRunner:
    """Runs one engine call as build (the public function returning a
    DataFrame) then action, after clearing Spark's cache. With a tracer
    it also records a span per call and the call's Spark footprint."""

    def __init__(self, spark, clock: CpuClock, tracer: Tracer | None):
        self.spark = spark
        self.clock = clock
        self.tracer = tracer
        self.reader = StatusReader(spark) if tracer is not None else None
        self.records: dict[str, list[dict]] = {}

    def __call__(self, op: str, build, action, parent=None) -> Call:
        """``action(df)`` returns ``(rows_out, value)``."""
        self.spark.catalog.clearCache()
        if self.tracer is None:
            c0, t0 = self.clock(), time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            rows, value = action(df)
            t2 = time.perf_counter()
            return Call(value, rows, t1 - t0, t2 - t1, self.clock() - c0)
        return self._traced(op, build, action, parent)

    def _traced(self, op, build, action, parent):
        sc = self.spark.sparkContext
        tracer, reader = self.tracer, self.reader
        c0 = self.clock()
        span = tracer.start(op, parent)
        group = f"{tracer.run_id}/{span.span_id}"
        mark0 = reader.execution_mark()
        sc.setJobGroup(f"{group}/build", op)
        b = tracer.start("build", span)
        df = build()
        tracer.end(b)
        sc.setJobGroup(f"{group}/action", op)
        a = tracer.start("action", span)
        rows, value = action(df)
        tracer.end(a)
        sc._jsc.clearJobGroup()
        tracer.end(span)
        cpu_s = self.clock() - c0
        reader.sync()
        build_jobs, action_jobs = reader.jobs(f"{group}/build"), reader.jobs(f"{group}/action")
        rec = dict(build_s=b.duration, action_s=a.duration, build_jobs=len(build_jobs),
                   action_jobs=len(action_jobs), rows_out=rows, proc_cpu_s=cpu_s,
                   cached_bytes_left=reader.cached_bytes())
        rec.update(reader.stage_totals(build_jobs + action_jobs))
        for f in PY_FIELDS:
            rec[f] = 0.0
        rec["scan_bytes"] = 0.0
        rec["cell_join_rows"] = 0.0
        for name, desc, metrics in reader.sql_nodes(mark0, reader.execution_mark()):
            for mname, field in PY_METRICS.items():
                rec[field] += metrics.get(mname) or 0.0
            if name.startswith("Scan"):
                rec["scan_bytes"] += metrics.get("size of files read") or 0.0
            if "Join" in name and "__cell" in desc:
                rec["cell_join_rows"] += metrics.get("number of output rows") or 0.0
        span.attrs.update(rec)
        self.records.setdefault(op, []).append(rec)
        return Call(value, rows, b.duration, a.duration, cpu_s)


def median(values, default=0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default
