"""Run a workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload cdc_upsert --seeds 1-10 --seconds 12

For every metric of the result line, prints the median over the runs
and the quartile spread ``(Q3 - Q1) / median`` with quartiles as
``statistics.quantiles(n=4)``, next to the metric's bound from
``BENCHMARK.json``, and the wall time of a run, set-up included. Runs
are sequential, one fresh process each; every run's result line is
appended to ``--out`` (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def _spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default=None, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    spec = _spec()
    seconds = args.seconds or str(spec.get("run_seconds", 10))

    values: dict[str, list[float]] = {}
    walls: list[float] = []
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", seconds, "--trace", args.trace]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"seed": seed, "record": json.loads(lines[-2]), "result": result}) + "\n")
        brief = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {walls[-1]:.1f} s correct={result['correct']} "
              f"attempted={result['attempted']} {brief}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}
    print(f"{'metric':<34}{'median':>14}{'spread':>10}{'bound':>8}")
    for k, xs in values.items():
        med = statistics.median(xs)
        spread = quartile_spread(xs) if len(xs) >= 2 and med else float("nan")
        bound = bounds.get(k)
        print(f"{k:<34}{med:>14.4f}{spread:>10.4f}{'' if bound is None else bound:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
