"""The contract every workload implements, and the timed window."""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.common import Tracer


@dataclass
class Window:
    """What one timed window observed.

    ``samples`` maps a latency name (``latency``, ``read_latency``) to
    per-operation seconds. ``busy_s`` is the window's wall time minus
    the time spent checking results, so throughput covers the whole
    window but never the checks. ``layers`` maps per-layer metric
    names to per-operation values (traced windows only). ``steal`` is
    the hypervisor's share of CPU time during each operation, recorded
    so that a slow operation can be attributed.
    """

    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    work_units: int = 0
    busy_s: float = 0.0
    gc_ms: int = 0
    layers: dict[str, list[float]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    steal: list[float] = field(default_factory=list)

    def add(self, name: str, seconds: float) -> None:
        self.samples.setdefault(name, []).append(seconds)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class Workload:
    """One benchmark workload over the engine's public functions.

    ``setup`` generates the seeded inputs and prepares state;
    ``warm_pass`` runs the workload's own operation mix once (setup
    repeats it until passes converge); ``window`` runs operations until
    ``seconds`` have passed and checks every result. Setting
    ``corrupt_first`` perturbs the next checked result, so tests can show
    that a wrong answer lowers ``success_ratio``.
    """

    name = ""
    work_unit = ""  # what throughput_per_s counts
    warm_min = 3  # warm passes before the window may open
    corrupt_first = False

    def __init__(self, spark, work_dir: str, seed: int, scale: str = "full") -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self._corrupted = False
        self._ops = 0

    def _next_op(self) -> str:
        """A run-unique operation id; it doubles as the Spark job group.
        Not thread-safe: concurrent callers hold their own lock."""
        self._ops += 1
        return f"{self.name}-{self._ops}"

    def _corrupt_now(self) -> bool:
        """True exactly once, for the next check, when corrupting."""
        if self.corrupt_first and not self._corrupted:
            self._corrupted = True
            return True
        return False

    def setup(self) -> None:
        raise NotImplementedError

    def warm_pass(self) -> None:
        raise NotImplementedError

    def window(self, seconds: float, tracer: Tracer) -> Window:
        raise NotImplementedError

    def close(self) -> None:
        pass


class Clock:
    """Window bookkeeping: wall time minus time spent in checks."""

    def __init__(self, seconds: float) -> None:
        self.start = time.perf_counter()
        self.deadline = self.start + seconds
        self.check_s = 0.0

    def open(self) -> bool:
        return time.perf_counter() < self.deadline

    @contextmanager
    def checking(self):
        """Time spent inside is left out of ``busy_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def busy_s(self) -> float:
        return time.perf_counter() - self.start - self.check_s
