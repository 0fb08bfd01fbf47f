"""Pipeline orchestration: phase DAG with dependencies, retries and
validators (SURVEY.md §2.9/§3.1 — reference
tools/master_orchestrator.py:60-229,552-630).

The reference runs phases as subprocesses in containers with
per-phase timeouts, retries (≤3) and validation scripts. Here a phase
is a Python callable over a SparkSession; a phase starts once its
dependencies have finished; failures isolate per phase (RecoverableError →
retry, anything else → mark failed, skip dependents) — the same
fault-tolerance policy as ingest_runner's per-table isolation
(tools/ingest_runner.py:1749-1759,2211-2224).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field


class RecoverableError(Exception):
    """Transient failure — retry the phase (reference
    tools/ingest_runner.py:190-197)."""


@dataclass
class Phase:
    name: str
    run: Callable[..., object]
    depends_on: tuple[str, ...] = ()
    validate: Callable[[object], bool] | None = None
    # maximum TOTAL attempts (>= 1); a granted repair adds one more.
    # Named for the reference's retry loop — max_retries=3 means "up
    # to 3 attempts", not "1 run + 3 retries".
    max_retries: int = 3
    critical: bool = True  # failed critical phase skips dependents

    def __post_init__(self) -> None:
        if self.max_retries < 1:
            raise ValueError(
                f"Phase {self.name!r}: max_retries={self.max_retries} "
                "would never run the phase (it is the maximum TOTAL "
                "attempt count, minimum 1)"
            )
    # Self-repair hook (reference tools/multi_database_ingest.py:173-219
    # — failed ingest → fix schemas → retry ONCE): called on a
    # non-recoverable failure with (context, error); returning True
    # grants exactly one more attempt. Never called twice.
    repair: Callable[[object, str], bool] | None = None


@dataclass
class PhaseResult:
    name: str
    status: str  # 'success' | 'failed' | 'skipped'
    attempts: int = 0
    elapsed_sec: float = 0.0
    error: str | None = None
    output: object = None
    repaired: bool = False


@dataclass
class Orchestrator:
    phases: list[Phase] = field(default_factory=list)

    def add(self, phase: Phase) -> "Orchestrator":
        self.phases.append(phase)
        return self

    def _check_dag(self) -> None:
        """Raise ValueError on an unknown dependency or a cycle."""
        by_name = {p.name: p for p in self.phases}
        seen: dict[str, int] = {}  # 0=visiting, 1=done

        def visit(name: str) -> None:
            state = seen.get(name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"dependency cycle at {name}")
            seen[name] = 0
            for dep in by_name[name].depends_on:
                if dep not in by_name:
                    raise ValueError(f"unknown dependency {dep} of {name}")
                visit(dep)
            seen[name] = 1

        for p in self.phases:
            visit(p.name)

    def run(
        self, context: object = None, max_workers: int = 1
    ) -> dict[str, PhaseResult]:
        """Execute the DAG: every phase whose dependencies have finished
        goes, in declaration order, to a pool of ``max_workers`` driver
        threads. ``max_workers > 1`` runs INDEPENDENT phases
        concurrently (the reference is strictly sequential,
        tools/master_orchestrator.py; Spark happily runs concurrent
        jobs from driver threads, so e.g. per-table ingest phases
        overlap their scans/writes); ``1`` runs one phase at a time."""
        self._check_dag()
        by_name = {p.name: p for p in self.phases}
        results: dict[str, PhaseResult] = {}
        pending = list(by_name)
        futures = {}
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            while pending or futures:
                ready = [
                    n
                    for n in pending
                    if all(d in results for d in by_name[n].depends_on)
                ]
                for n in ready:
                    pending.remove(n)
                    # a failed NON-critical dependency does not block
                    # dependents (critical=False marks optional enrichment)
                    if any(
                        results[d].status != "success"
                        and by_name[d].critical
                        for d in by_name[n].depends_on
                    ):
                        results[n] = PhaseResult(n, "skipped")
                        continue
                    futures[pool.submit(self._run_phase, by_name[n], context)] = n
                if not futures:
                    continue
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = futures.pop(fut)
                    results[name] = fut.result()
        return {n: results[n] for n in by_name}

    def _run_phase(self, phase: Phase, context: object) -> PhaseResult:
        start = time.perf_counter()
        last_error: str | None = None
        repaired = False
        attempt = 0
        while attempt < phase.max_retries + (1 if repaired else 0):
            attempt += 1
            try:
                output = phase.run(context)
                if phase.validate is not None and not phase.validate(output):
                    last_error = "validation failed"
                    continue
                return PhaseResult(
                    phase.name,
                    "success",
                    attempts=attempt,
                    elapsed_sec=time.perf_counter() - start,
                    output=output,
                    repaired=repaired,
                )
            except RecoverableError as exc:
                last_error = str(exc)
                continue
            except Exception as exc:
                last_error = str(exc)
                if phase.repair is not None and not repaired:
                    try:
                        if phase.repair(context, last_error):
                            repaired = True
                            continue
                    except Exception as rexc:  # noqa: BLE001 — contained
                        last_error = f"{last_error}; repair failed: {rexc}"
                break
        return PhaseResult(
            phase.name,
            "failed",
            attempts=attempt,
            elapsed_sec=time.perf_counter() - start,
            error=last_error,
            repaired=repaired,
        )


def status_report(results: dict[str, PhaseResult]) -> dict:
    """Q6 status JSON shape (reference tools/ingest_runner.py:2250-2268)."""
    return {
        "success": all(r.status == "success" for r in results.values()),
        "phases": {
            name: {
                "status": r.status,
                "attempts": r.attempts,
                "elapsed_sec": round(r.elapsed_sec, 3),
                "error": r.error,
            }
            for name, r in results.items()
        },
    }
