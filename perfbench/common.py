"""Shared pieces of the benchmark: environment pinning, statistics,
peak-RSS sampling, in-memory spans and JVM-side counters."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --- environment -------------------------------------------------------------


def pin_environment(work_dir: str) -> dict:
    """Keep every file the run writes inside ``work_dir`` and pin the
    CPU budget to the machine (``local[nproc]``) unless the caller set
    ``SPARK_GRAFT_CPUS``. Must run before the JVM starts."""
    os.makedirs(work_dir, exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    return {
        "warehouse": os.path.join(work_dir, "warehouse"),
        "java_tmp": tmp,
    }


def spark_session(work_dir: str):
    """The engine's canonical session (``session.get_spark``), with the
    run's scratch locations kept inside ``work_dir``."""
    from automatic_etl_spark.session import get_spark

    paths = pin_environment(work_dir)
    # Heap size and collector stay the engine's own, so peak RSS and GC
    # time follow what the engine allocates.
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": paths["warehouse"],
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths['java_tmp']}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def noop_write(df) -> None:
    """Execute a lazy plan to the end without writing anything: the
    traced run's way to force a layer boundary inside a plan."""
    df.write.format("noop").mode("overwrite").save()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from ``/proc/stat``: the share
    of time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_share(since: tuple[int, int]) -> float:
    """Steal share of all CPU time since an earlier :func:`cpu_ticks`."""
    steal1, total1 = cpu_ticks()
    steal0, total0 = since
    return (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0


# --- statistics --------------------------------------------------------------

TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """The highest reportable tail percentile for ``n`` samples: one
    with at least 10 samples beyond it (p90 needs ≥100 samples)."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(samples: list[float]) -> dict:
    """Median plus the highest tail percentile the count supports."""
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None}
    p = tail_percentile(len(samples))
    if p is not None:
        out[f"p{p:g}"] = percentile(samples, p)
    return out


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


# --- peak RSS over the process tree ------------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            kids = [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakRss:
    """Peak resident set (``VmHWM``) summed over this process and all
    its descendants — the JVM and the Python workers it forks. Each
    pid's high-water mark is kept after it exits, so short-lived
    workers still count. Samples on a daemon thread."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self._peak_kb: dict[int, int] = {}
        self._names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            kb = _vm_hwm_kb(pid)
            if kb is not None:
                self._peak_kb[pid] = max(kb, self._peak_kb.get(pid, 0))
                if pid not in self._names:
                    self._names[pid] = _comm(pid)
            todo.extend(_children(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def mb(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0

    def by_process(self) -> dict[str, float]:
        """Peak MB per process name, summed over processes sharing it."""
        out: dict[str, float] = {}
        for pid, kb in self._peak_kb.items():
            name = self._names.get(pid, "?")
            out[name] = out.get(name, 0.0) + kb / 1024.0
        return out


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    detail: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans: name, start, end, parent span and operation id.
    Disabled tracers record nothing and cost one branch per call."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, op: str | None = None, detail: str | None = None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        start = time.perf_counter()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, start, start, parent, op, detail))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "detail": s.detail,
                }) + "\n")


# --- JVM-side counters -------------------------------------------------------


def jvm_gc_ms(spark) -> int:
    """Total collection time over the JVM's GC MXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType() == heap]


def reset_heap_peak(spark) -> None:
    """Start a new peak-usage interval on every heap memory pool."""
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """Peak used heap since :func:`reset_heap_peak`, summed over the
    heap pools (an upper bound: pools peak at different moments)."""
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


def live_heap_mb(spark) -> float:
    """Heap still reachable after a full collection: the state the
    engine retains between operations."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def jvm_version(spark) -> str:
    return spark._jvm.java.lang.System.getProperty("java.version")


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group, from statusTracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks
