"""The BI surface's Metabase per-table cards, refreshed by 4 clients.

A seeded warehouse (the ``lineitem`` and ``events`` tables the cards
read) is written at setup, and each card's DuckDB oracle value-hash is
computed once there. One refresh runs the four cards at once, one client
thread per card (the reference's 4 Superset Celery workers; equals
nproc): the registry function builds the plan, then ``collect``
executes it. Nothing is written. The cards are where registry plan
construction (``plans.build_ms``) dominates, so they measure the
``plans`` layer.

Checks: each result's value-hash must equal its oracle's, both
canonicalised the way ``tests/oracle_utils`` does.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from dataclasses import dataclass

from automatic_etl_spark.plans.all_plans import REGISTRY
from perfbench import gen
from perfbench.common import Tracer, job_counts
from tests.oracle_utils import canon_rows

CARDS = ("count_star", "recent_n", "sample_scan", "json_keys_freq")
SCALES = {"full": 40_000, "tiny": 3_000}  # lineitem rows
TABLES = ("lineitem", "events")


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    canon = canon_rows([c.lower() for c in columns], [tuple(r) for r in rows])
    return hashlib.sha256(repr(canon).encode()).hexdigest()


@dataclass
class CardResult:
    op: str
    card: str
    seconds: float
    build_s: float
    columns: list | None
    rows: list | None
    error: str | None


class Cards:
    def __init__(self, spark, work_dir: str, seed: int, scale: str) -> None:
        import duckdb

        self.spark = spark
        self.sf_dir = os.path.join(work_dir, "warehouse_sf")
        gen.bi_warehouse(self.sf_dir, seed, SCALES[scale])
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.oracle = {}
            for q in CARDS:
                rel = con.sql(REGISTRY[q][1])
                self.oracle[q] = value_hash(list(rel.columns), rel.fetchall())
        finally:
            con.close()

    def refresh(self, op: str, tracer: Tracer) -> list[CardResult]:
        """Run every card once, concurrently; ``op`` prefixes each card's
        operation id, which doubles as its Spark job group."""
        results: list[CardResult] = []
        lock = threading.Lock()

        def client(card: str) -> None:
            card_op = f"{op}-{card}"
            self.spark.sparkContext.setJobGroup(card_op, card_op)
            t0 = time.perf_counter()
            try:
                with tracer.span("plans.build", card_op, detail=card):
                    df = REGISTRY[card][0](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.span("plans.execute", card_op, detail=card):
                    rows = df.collect()
                t2 = time.perf_counter()
                res = CardResult(card_op, card, t2 - t0, t1 - t0, df.columns, rows, None)
            except Exception as exc:  # a failed card is a failed op
                res = CardResult(card_op, card, time.perf_counter() - t0, 0.0, None, None, repr(exc))
            with lock:
                results.append(res)

        threads = [threading.Thread(target=client, args=(c,), name=f"card-{c}") for c in CARDS]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted(results, key=lambda r: CARDS.index(r.card))

    def errors(self, res: CardResult, corrupt: bool) -> list[str]:
        if res.error is not None:
            return [f"{res.card}: {res.error}"]
        rows = res.rows
        if corrupt:
            rows = rows[1:] if rows else [("corrupt",)]
        if value_hash(res.columns, rows) != self.oracle[res.card]:
            return [f"{res.card}: value-hash differs from oracle"]
        return []

    def trace(self, res: CardResult, w) -> None:
        """Per-layer figures of one traced card."""
        w.layer("plans.build_ms", res.build_s * 1e3)
        w.layer("plans.execute_ms", (res.seconds - res.build_s) * 1e3)
        jobs, tasks = job_counts(self.spark, res.op)
        w.layer("plans.jobs_per_query", jobs)
        w.layer("plans.tasks_per_query", tasks)
