"""``batch_ingest``: full snapshot reloads of a synthetic MySQL database,
each followed by a refresh of the BI surface's Metabase cards.

One operation is one reload round: ``ingest.ingest_many`` over the 4
tables (scan → ``clean_table`` → ``latest_version`` → atomic overwrite →
per-key count audit, four tables at a time), then one refresh of the
four Metabase per-table cards (registry plans, one client thread each;
see ``perfbench/cards.py``), as a dashboard refreshes after a load.
Every round overwrites the same targets, so the state stays flat
across the window. ``latency`` is the reload; ``read_latency`` the
median of the four cards' own medians.

Checks (outside the timed work): the status report succeeds, every
audit verdict is ``OK``, each table's sink row count equals the
generator's distinct-key count, a current-state read of the largest
target agrees, and each card's value-hash equals its DuckDB oracle's.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from automatic_etl_spark import ingest, orchestrator
from automatic_etl_spark.functions.cleaning import clean_table
from automatic_etl_spark.operators.dedup import latest_version
from automatic_etl_spark.sources import parquet as parquet_source
from automatic_etl_spark.sources.schema import clean_specs_from_columns
from perfbench import gen
from perfbench.cards import CARDS, Cards
from perfbench.common import Tracer, cpu_ticks, jvm_gc_ms, noop_write, steal_share
from perfbench.workload import Clock, Window, Workload

SCALES = {"full": 20_000, "tiny": 3_000}  # raw source rows per snapshot
WORKERS = 4  # ingest_many's default, and the core count it was tuned for


class BatchIngest(Workload):
    name = "batch_ingest"
    work_unit = "source rows"
    # JIT warm-up here is long: after 3 passes a window's first reload
    # still ran 10-30 % above its last, and windows opened after 3 or
    # after 4 passes differed by 15 % in median reload time.
    warm_min = 5

    def setup(self) -> None:
        db_dir = os.path.join(self.work_dir, "mysql")
        self.tables = gen.mysql_snapshot(db_dir, self.seed, SCALES[self.scale])
        self.rows_per_round = sum(t.raw_rows for t in self.tables)
        self.largest = max(self.tables, key=lambda t: t.raw_rows)
        self.sources = {}
        for t in self.tables:
            spec = ingest.IngestSpec(
                clean_specs=clean_specs_from_columns(t.columns),
                dedup_keys=("id",),
                version_cols=("factualizacion",),
                # Versions collide (two NULL-cleaned dates of one key);
                # without a pinned tiebreaker the audit's recomputed
                # expected side may keep another row than the write did.
                tiebreaker=("id_agencia", "nombre"),
                audit_key="id_agencia",
            )
            df = parquet_source.table(self.spark, db_dir, t.name)
            target = os.path.join(self.work_dir, "silver", t.name)
            self.sources[t.name] = (df, target, spec)
        self.cards = Cards(self.spark, self.work_dir, self.seed, self.scale)

    def _reload(self) -> tuple[dict, float]:
        t0 = time.perf_counter()
        report = ingest.ingest_many(self.spark, self.sources, max_workers=WORKERS)
        return report, time.perf_counter() - t0

    def _read_largest(self) -> tuple[int, int]:
        target = self.sources[self.largest.name][1]
        row = (
            self.spark.read.parquet(target)
            .agg(F.count("*").alias("n"), F.countDistinct("id").alias("keys"))
            .first()
        )
        return row["n"], row["keys"]

    def _check(self, report: dict) -> list[str]:
        read = self._read_largest()
        if self._corrupt_now():
            read = (read[0] + 1, read[1])
        errors = []
        if not report.get("success"):
            errors.append(f"status report failed: {report.get('phases')}")
        for t in self.tables:
            rows = report.get("tables", {}).get(t.name, [])
            if not rows or any(r["verdict"] != "OK" for r in rows):
                errors.append(f"{t.name}: audit verdict not OK")
            sink = sum(r["snk_cnt"] or 0 for r in rows)
            if sink != t.distinct_keys:
                errors.append(f"{t.name}: sink {sink} rows, expected {t.distinct_keys}")
        if read != (self.largest.distinct_keys, self.largest.distinct_keys):
            errors.append(f"{self.largest.name}: read {read}, expected {self.largest.distinct_keys} keys")
        return errors

    def warm_pass(self) -> None:
        report, _ = self._reload()
        errors = self._check(report)
        for res in self.cards.refresh(self._next_op(), Tracer(False)):
            errors += self.cards.errors(res, False)
        if errors:
            raise RuntimeError(f"warm-up round failed its check: {errors[:3]}")

    def window(self, seconds: float, tracer: Tracer) -> Window:
        w = Window()
        clock = Clock(seconds)
        gc0 = jvm_gc_ms(self.spark)
        while clock.open():
            op = self._next_op()
            self.spark.sparkContext.setJobGroup(op, op)
            ticks = cpu_ticks()
            if tracer.enabled:
                self._trace_prefixes(tracer, op, w)
                with _IngestSpans(tracer, op):
                    report, dt = self._reload()
                self._trace_round(tracer, op, report, w)
            else:
                report, dt = self._reload()
            cards = self.cards.refresh(op, tracer)
            w.steal.append(steal_share(ticks))
            w.add("latency", dt)
            for res in cards:
                w.add(f"card.{res.card}", res.seconds)
            w.work_units += self.rows_per_round
            with clock.checking():
                errors = self._check(report)
                w.outcome(not errors, f"{op}: {errors[:3]}")
                for res in cards:
                    errors = self.cards.errors(res, self._corrupt_now())
                    w.outcome(not errors, f"{res.op}: {errors}")
                    if tracer.enabled:
                        self.cards.trace(res, w)
        w.busy_s = clock.busy_s()
        w.gc_ms = jvm_gc_ms(self.spark) - gc0
        # The cards differ in cost, so the median of their pooled samples
        # falls in the gap between two cards; the median of the per-card
        # medians does not.
        w.samples["read_latency"] = [statistics.median(w.samples[f"card.{q}"]) for q in CARDS]
        return w

    # --- traced run only ---------------------------------------------------

    def _trace_prefixes(self, tracer: Tracer, op: str, w: Window) -> None:
        """Force the lazy plan's layer boundaries with ``noop`` writes of
        each prefix — scan, scan+clean, scan+clean+dedup — one table at
        a time. Self time is the difference of consecutive prefixes."""
        scan = clean = dedup = 0.0
        self._prefix_s = {}
        for name, (df, _target, spec) in self.sources.items():
            cleaned = clean_table(df, spec.clean_specs)
            deduped = latest_version(
                cleaned, spec.dedup_keys, list(spec.version_cols), spec.tiebreaker
            )
            times = []
            for layer, plan in (
                ("sources.scan", df),
                ("cleaning.clean_table", cleaned),
                ("dedup.latest_version", deduped),
            ):
                t0 = time.perf_counter()
                with tracer.span(layer, op, detail=name):
                    noop_write(plan)
                times.append(time.perf_counter() - t0)
            scan += times[0]
            clean += max(0.0, times[1] - times[0])
            dedup += max(0.0, times[2] - times[1])
            self._prefix_s[name] = times[2]
        w.layer("sources.scan_s", scan)
        w.layer("cleaning.clean_table_s", clean)
        w.layer("cleaning.rows_per_s", self.rows_per_round / clean if clean else 0.0)
        w.layer("dedup.latest_version_s", dedup)

    def _trace_round(self, tracer: Tracer, op: str, report: dict, w: Window) -> None:
        spans = [s for s in tracer.spans if s.op == op]
        by_name = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        write = 0.0
        for s in by_name.get("ingest.ingest_table", []):
            write += max(0.0, s.seconds - self._prefix_s.get(s.detail, 0.0))
        many = sum(s.seconds for s in by_name.get("ingest.ingest_many", []))
        dag = sum(s.seconds for s in by_name.get("orchestrator.run", []))
        w.layer("ingest.write_s", write)
        w.layer("ingest.audit_s", max(0.0, many - dag))
        phases = report.get("phases", {}).values()
        if phases:
            w.layer("orchestrator.phase_s", sum(p["elapsed_sec"] for p in phases) / len(phases))
            w.layer("orchestrator.attempts_per_phase", sum(p["attempts"] for p in phases) / len(phases))
        src = sum(r["src_cnt"] or 0 for rows in report.get("tables", {}).values() for r in rows)
        snk = sum(r["snk_cnt"] or 0 for rows in report.get("tables", {}).values() for r in rows)
        w.layer("dedup.rows_kept_ratio", snk / src if src else 0.0)


class _IngestSpans:
    """Spans around the engine's own calls during one traced round:
    ``ingest_many``, the phase DAG (``Orchestrator.run``) and each
    ``ingest_table``. Wraps the module attributes from outside and
    restores them on exit; the engine's code is unchanged."""

    def __init__(self, tracer: Tracer, op: str) -> None:
        self.tracer, self.op = tracer, op

    def __enter__(self) -> None:
        tracer, op = self.tracer, self.op
        self._orig = (ingest.ingest_table, orchestrator.Orchestrator.run)
        orig_table, orig_run = self._orig

        def ingest_table(spark, source, target_path, spec):
            table = os.path.basename(target_path)
            with tracer.span("ingest.ingest_table", op, detail=table):
                return orig_table(spark, source, target_path, spec)

        def run(dag, context=None, max_workers=1):
            with tracer.span("orchestrator.run", op):
                return orig_run(dag, context, max_workers)

        ingest.ingest_table = ingest_table
        orchestrator.Orchestrator.run = run
        self._span = tracer.span("ingest.ingest_many", op)
        self._span.__enter__()

    def __exit__(self, *exc) -> None:
        self._span.__exit__(*exc)
        ingest.ingest_table, orchestrator.Orchestrator.run = self._orig

