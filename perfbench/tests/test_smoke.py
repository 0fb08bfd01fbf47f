"""Tiny-scale smoke runs: every workload passes its own checks, a
corrupted result lowers ``success_ratio``, and the command line keeps
the result-line contract of ``BENCHMARK.json``.

Run with ``python3 -m pytest perfbench/tests -q``; needs a local JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.batch_ingest import BatchIngest
from perfbench.cdc_upsert import CdcUpsert
from perfbench.common import Tracer, spark_session, stop_spark

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = spark_session(str(tmp_path_factory.mktemp("perfbench-session")))
    yield session
    stop_spark(session)


@pytest.mark.parametrize("cls", [BatchIngest, CdcUpsert], ids=lambda c: c.name)
def test_workload_checks_and_corruption(spark, tmp_path, cls):
    wl = cls(spark, str(tmp_path), seed=1, scale="tiny")
    try:
        wl.setup()
        wl.warm_pass()
        clean = wl.window(1.0, Tracer(False))
        assert clean.attempted >= 1
        assert clean.failed == 0, clean.errors
        assert clean.samples["latency"] and clean.busy_s > 0

        wl.corrupt_first = True
        tracer = Tracer(True)
        bad = wl.window(1.0, tracer)
        assert bad.failed >= 1
        assert (bad.attempted - bad.failed) / bad.attempted < 1.0
        assert bad.layers and tracer.spans
    finally:
        wl.close()


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
def test_command_line_result_contract(trace):
    spec = _spec()
    workload = spec["workloads"][0]["name"]
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "2",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = _result(proc.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"] for m in wanted} == set(out["metrics"])
    for m in wanted:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    record = json.loads(proc.stdout.strip().splitlines()[-2])["record"]
    assert record["seed"] == 3 and record["warmup_passes_s"]


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
