"""Run one benchmark workload in a fresh JVM and print its metrics.

    python3 perfbench/run.py --workload batch_ingest --seed 1 --seconds 12 --trace 0

Each run builds the engine's canonical SparkSession on local[nproc],
generates the workload's inputs from ``--seed``, warms up on the
workload's own operation mix until two consecutive passes agree, then
runs operations for ``--seconds`` and checks every result.

Standard output carries one JSON line per run record (environment,
load average, warm-up passes, raw per-operation samples, every metric
with its unit and sample count) and, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs an untraced and a traced
half-window and reports the per-layer metrics and the tracing overhead.
Spans of a traced run are written to the work directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Warm-up: at least the workload's ``warm_min`` passes, then stop once
# the last two passes agree within CONVERGED (a share of the later one),
# or after MAX passes. JIT warm-up on these workloads keeps improving
# for 30+ operations, so a tight threshold stops at a different point of
# that curve in every run (pass noise decides when two passes first
# agree); a minimum after which the passes nearly always agree within
# the latency bound starts every window at the same point.
WARM_MAX, WARM_CONVERGED = 8, 0.25

END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "read_latency_p50_ms": "ms",
    "live_heap_mb": "MB",
    "success_ratio": "ratio",
}

# Printed in the run record beside the end-to-end metrics, not gated:
# peak RSS follows the collector's heap-growth decisions more than the
# program (see DESIGN.md), so it varies too much between runs to bound.
RECORD_UNITS = {"peak_rss_mb": "MB"}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "setup.warmup_s": "s",
    "jvm.gc_ms": "ms",
    "jvm.heap_peak_mb": "MB",
    "sources.scan_s": "s",
    "cleaning.clean_table_s": "s",
    "cleaning.rows_per_s": "1/s",
    "dedup.latest_version_s": "s",
    "dedup.rows_kept_ratio": "ratio",
    "ingest.write_s": "s",
    "ingest.audit_s": "s",
    "orchestrator.phase_s": "s",
    "orchestrator.attempts_per_phase": "count",
    "cdc.parse_unwrap_s": "s",
    "cdc.upsert_apply_s": "s",
    "cdc.partitions_touched_per_batch": "count",
    "cdc.bytes_written_per_event": "B",
    "cdc.silver_files": "count",
    "cdc.rows_dropped": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.discovery_wait_ms": "ms",
    "plans.build_ms": "ms",
    "plans.execute_ms": "ms",
    "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "trace.overhead_pct": "%",
}


WORKLOADS = ("batch_ingest", "cdc_upsert")


def _workload_class(name: str):
    if name == "batch_ingest":
        from perfbench.batch_ingest import BatchIngest as cls
    else:
        from perfbench.cdc_upsert import CdcUpsert as cls
    return cls


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def warm_up(workload) -> list[float]:
    """Run warm passes until the last two agree; returns every pass time."""
    passes: list[float] = []
    while len(passes) < WARM_MAX:
        t0 = time.perf_counter()
        workload.warm_pass()
        passes.append(time.perf_counter() - t0)
        if len(passes) >= workload.warm_min:
            a, b = passes[-2], passes[-1]
            if abs(a - b) <= WARM_CONVERGED * b:
                break
    return passes


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(win, setup_s: float, live_mb: float, attempted: int, failed: int) -> dict:
    from perfbench.common import summarize

    lat = summarize(win.samples.get("latency", []))
    read = summarize(win.samples.get("read_latency", []))
    out = {
        "setup_s": (setup_s, 1),
        "throughput_per_s": (win.work_units / win.busy_s if win.busy_s else 0.0, win.attempted),
        "latency_p50_ms": (lat["p50"] * 1e3, lat["n"]),
        "read_latency_p50_ms": (read["p50"] * 1e3, read["n"]),
        "live_heap_mb": (live_mb, 1),
        "success_ratio": ((attempted - failed) / attempted, attempted),
    }
    return out


def tails(win) -> dict:
    """Tail percentiles the sample count supports (≥10 samples beyond),
    recorded beside the gated metrics."""
    from perfbench.common import summarize

    out = {}
    for name, xs in win.samples.items():
        for key, v in summarize(xs).items():
            if key not in ("n", "p50"):
                out[f"{name}_{key}_ms"] = (v * 1e3, len(xs))
    return out


def _wall_per_op(win) -> float:
    ops = len(win.samples.get("latency", []))
    return win.busy_s / ops if ops else 0.0


def per_layer(win, base, session_s: float, warm_s: float, heap_mb: float) -> dict:
    out = {name: (0.0, 0) for name in PER_LAYER_UNITS}
    out["session.get_spark_s"] = (session_s, 1)
    out["setup.warmup_s"] = (warm_s, 1)
    out["jvm.gc_ms"] = (win.gc_ms / win.attempted if win.attempted else 0.0, win.attempted)
    out["jvm.heap_peak_mb"] = (heap_mb, 1)
    for name, xs in win.layers.items():
        if name not in PER_LAYER_UNITS:
            raise KeyError(f"undeclared per-layer metric {name}")
        out[name] = (_median(xs), len(xs))
    # Window wall time per operation, traced against untraced: it holds
    # the tracing work itself (prefix writes, counts, span bookkeeping),
    # which a latency interval may not.
    traced, untraced = _wall_per_op(win), _wall_per_op(base)
    if untraced:
        out["trace.overhead_pct"] = (100.0 * (traced - untraced) / untraced, len(win.samples["latency"]))
    return out


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # Import from the checkout root, never from this script's directory:
    # ``perfbench/tests`` would shadow the repository's ``tests`` package.
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    # Fails (non-zero exit, no result line) when the engine is absent.
    import pyspark

    import automatic_etl_spark  # noqa: F401
    from perfbench.common import (
        PeakRss, Tracer, cpu_ticks, heap_peak_mb, jvm_version, live_heap_mb, loadavg,
        reset_heap_peak, spark_session, steal_share, stop_spark,
    )

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load_start = loadavg()
    ticks0 = cpu_ticks()
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = spark_session(work)
            session_s = time.perf_counter() - t0
            wl = _workload_class(args.workload)(spark, work, args.seed, scale=args.scale)
            try:
                t1 = time.perf_counter()
                wl.setup()
                inputs_s = time.perf_counter() - t1
                passes = warm_up(wl)
                setup_s = time.perf_counter() - PROCESS_START
                reset_heap_peak(spark)
                if args.trace:
                    half = args.seconds / 2
                    windows = [wl.window(half, Tracer(False))]
                    tracer = Tracer(True)
                    windows.append(wl.window(half, tracer))
                    tracer.dump(os.path.join(work, "spans.jsonl"))
                else:
                    windows = [wl.window(args.seconds, Tracer(False))]
                heap_mb = heap_peak_mb(spark)
                live_mb = live_heap_mb(spark)
            finally:
                wl.close()
        win = windows[-1]
        attempted = sum(w.attempted for w in windows)
        failed = sum(w.failed for w in windows)
        e2e = end_to_end(win, setup_s, live_mb, attempted, failed)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "scale": args.scale,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__,
            "jvm": jvm_version(spark),
            "loadavg_start": load_start,
            "loadavg_end": loadavg(),
            "cpu_steal_share": steal_share(ticks0),
            "setup_parts_s": {
                "imports": t0 - PROCESS_START, "session": session_s, "inputs": inputs_s,
                "warmup": sum(passes),
            },
            "warmup_passes_s": passes,
            "peak_rss_mb_by_process": rss.by_process(),
            "heap_peak_mb": heap_mb,
            "work_unit": wl.work_unit,
            "samples_s": win.samples,
            "cpu_steal_share_by_op": win.steal,
            "errors": [e for w in windows for e in w.errors][:20],
            "metrics": {k: {"value": v, "unit": {**END_TO_END_UNITS, **RECORD_UNITS}[k], "n": n}
                        for k, (v, n) in {**e2e, "peak_rss_mb": (rss.mb, 1)}.items()},
            "tails": {k: {"value": v, "unit": "ms", "n": n} for k, (v, n) in tails(win).items()},
        }
        if args.trace:
            layers = per_layer(win, windows[0], session_s, sum(passes), heap_mb)
            record["per_layer"] = {
                k: {"value": v, "unit": PER_LAYER_UNITS[k], "n": n} for k, (v, n) in layers.items()
            }
            metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, (v, _n) in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, (v, _n) in e2e.items()}
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
