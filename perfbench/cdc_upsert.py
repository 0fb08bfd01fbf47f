"""``cdc_upsert``: Debezium change batches streamed into a silver table.

Setup pre-loads silver (partitioned by creation month) with the full
initial snapshot through the engine's own upsert, then starts one
long-running stream: text file source → ``parse_envelope`` →
``unwrap_envelope`` → ``foreach_batch_upsert_partitioned``. The loop is
closed: one producer stages a fixed-size JSON-lines batch, waits until
the merged silver is committed, runs one current-state query, checks
it, and only then stages the next batch. Creates equal deletes and
creates re-insert retired keys, so silver's row count stays flat.

One operation is one batch; a window runs for its seconds and at least
``MIN_BATCHES`` batches. ``latency`` is freshness (batch staged →
merged silver committed); ``read_latency`` is the current-state query.
Checks: each read equals the generator's key → latest-version model at
that batch; at the end, silver's total row count matches too.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import LongType, StringType, StructField, StructType

from automatic_etl_spark.operators.dedup import latest_version
from automatic_etl_spark.streaming import cdc
from perfbench import gen
from perfbench.common import Tracer, cpu_ticks, jvm_gc_ms, noop_write, steal_share
from perfbench.workload import Clock, Window, Workload

SCALES = {"full": (6_000, 400), "tiny": (1_000, 200)}  # (entities, events per batch)
WARM_BATCHES = 2  # batches per warm-up pass
MIN_BATCHES = 8  # per window, however short: enough for a steady median
COMMIT_TIMEOUT_S = 60.0
KEYS, VERSION, PART = ["id"], ["_ts_ms"], "mes"
PAYLOAD = StructType([
    StructField("id", LongType()),
    StructField("nombre", StringType()),
    StructField("tamano", LongType()),
    StructField("mes", StringType()),
])


class _Progress(StreamingQueryListener):
    """Keeps each micro-batch's ``durationMs`` from query progress."""

    def __init__(self) -> None:
        self.by_batch: dict[int, dict] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.by_batch[p.batchId] = dict(p.durationMs)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class CdcUpsert(Workload):
    name = "cdc_upsert"
    work_unit = "change events"

    def setup(self) -> None:
        entities, batch = SCALES[self.scale]
        root = os.path.join(self.work_dir, "cdc")
        self.stage_tmp = os.path.join(root, "staging")
        self.stage_in = os.path.join(root, "incoming")
        self.silver = os.path.join(root, "silver")
        for d in (self.stage_tmp, self.stage_in):
            os.makedirs(d, exist_ok=True)
        self.model = gen.CdcStream(self.seed, entities, batch)
        snap = os.path.join(root, "snapshot")
        os.makedirs(snap)
        gen.write_lines(self.model.snapshot(), os.path.join(snap, "snapshot.json"))
        self.upsert = cdc.foreach_batch_upsert_partitioned(self.silver, KEYS, VERSION, PART)
        self.upsert(self._unwrapped(self.spark.read.text(snap)), -1)
        errors = self._check_state(self._read(), self.model.expected_state())
        if errors:
            raise RuntimeError(f"silver pre-load failed its check: {errors}")

        self._cond = threading.Condition()
        self._commits: list[tuple[float, float]] = []
        self.progress = _Progress()
        self.spark.streams.addListener(self.progress)
        stream = self.spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(self.stage_in)
        self.query = (
            self._unwrapped(stream).writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )
        self.batches = 0

    @staticmethod
    def _unwrapped(raw):
        return cdc.unwrap_envelope(cdc.parse_envelope(raw, PAYLOAD))

    def _apply(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.upsert(batch_df, batch_id)
        t1 = time.perf_counter()
        with self._cond:
            self._commits.append((t0, t1))
            self._cond.notify_all()

    def _read(self) -> tuple[int, int]:
        row = (
            self.spark.read.parquet(self.silver)
            .where("NOT __deleted")
            .selectExpr("count(*) AS n", f"{gen.silver_checksum_expr()} AS s")
            .first()
        )
        return row["n"], row["s"]

    def _check_state(self, got: tuple, expected: tuple) -> list[str]:
        if self._corrupt_now():
            got = (got[0], got[1] + 1)
        return [] if got == expected else [f"silver (rows, checksum) {got}, model {expected}"]

    def _wait_commit(self, n: int) -> tuple[float, float]:
        deadline = time.perf_counter() + COMMIT_TIMEOUT_S
        with self._cond:
            while len(self._commits) < n:
                if not self.query.isActive:
                    raise RuntimeError(f"stream stopped: {self.query.exception()}")
                if time.perf_counter() > deadline:
                    raise TimeoutError(f"batch {n} not committed in {COMMIT_TIMEOUT_S} s")
                self._cond.wait(0.2)
            return self._commits[n - 1]

    def _batch(self, w: Window, tracer: Tracer, clock: Clock | None) -> None:
        """Stage one batch, wait for its commit, read and check silver."""
        lines = self.model.next_batch()
        expected = self.model.expected_state()
        self.batches += 1
        op = self._next_op()
        name = f"batch-{self.batches:06d}.json"
        tmp = os.path.join(self.stage_tmp, name)
        gen.write_lines(lines, tmp)
        if tracer.enabled:
            self._trace_before(tracer, op, tmp, lines, w)
        wall0 = time.time()
        ticks = cpu_ticks()
        staged = time.perf_counter()
        os.rename(tmp, os.path.join(self.stage_in, name))
        apply0, committed = self._wait_commit(self.batches)
        t0 = time.perf_counter()
        got = self._read()
        read_s = time.perf_counter() - t0
        w.steal.append(steal_share(ticks))
        w.add("latency", committed - staged)
        w.add("read_latency", read_s)
        w.work_units += len(lines)
        if tracer.enabled:
            self._trace_after(op, lines, apply0, committed, wall0, w)
        if clock is not None:
            with clock.checking():
                errors = self._check_state(got, expected)
        else:
            errors = self._check_state(got, expected)
        w.outcome(not errors, f"{op}: {errors}")

    def warm_pass(self) -> None:
        w = Window()
        for _ in range(WARM_BATCHES):
            self._batch(w, Tracer(False), None)
        if w.failed:
            raise RuntimeError(f"warm-up batch failed its check: {w.errors[:3]}")

    def window(self, seconds: float, tracer: Tracer) -> Window:
        w = Window()
        clock = Clock(seconds)
        gc0 = jvm_gc_ms(self.spark)
        while clock.open() or len(w.samples.get("latency", [])) < MIN_BATCHES:
            self._batch(w, tracer, clock)
        w.busy_s = clock.busy_s()
        w.gc_ms = jvm_gc_ms(self.spark) - gc0
        total = self.spark.read.parquet(self.silver).count()
        w.outcome(total == self.model.entities,
                  f"silver holds {total} rows, model {self.model.entities} keys")
        return w

    def close(self) -> None:
        query = getattr(self, "query", None)
        if query is not None:
            query.stop()
            self.spark.streams.removeListener(self.progress)

    # --- traced run only ---------------------------------------------------

    def _trace_before(self, tracer: Tracer, op: str, path: str, lines: list[str], w: Window) -> None:
        """Force the upsert's lazy boundaries on the staged batch before
        it is released: parse+unwrap, the batch dedup, and the merge
        dedup over the partitions the batch touches."""
        unwrapped = self._unwrapped(self.spark.read.text(path))
        t0 = time.perf_counter()
        with tracer.span("cdc.parse_unwrap", op):
            noop_write(unwrapped)
        t1 = time.perf_counter()
        with tracer.span("dedup.batch", op):
            deduped = cdc.cdc_microbatch_dedup(unwrapped, KEYS, VERSION)
            noop_write(deduped)
        t2 = time.perf_counter()
        months = sorted(self._touched(lines))
        union = (
            self.spark.read.parquet(self.silver)
            .filter(f"{PART} IN ({', '.join(repr(m) for m in months)})")
            .unionByName(deduped)
        )
        with tracer.span("dedup.merge_input", op):
            noop_write(union)
        t3 = time.perf_counter()
        with tracer.span("dedup.merge", op):
            noop_write(latest_version(union, KEYS, VERSION))
        t4 = time.perf_counter()
        kept = unwrapped.count()
        w.layer("cdc.parse_unwrap_s", t1 - t0)
        w.layer("dedup.latest_version_s", max(0.0, t2 - t1 - (t1 - t0)) + max(0.0, (t4 - t3) - (t3 - t2)))
        w.layer("dedup.rows_kept_ratio", deduped.count() / kept if kept else 0.0)
        w.layer("cdc.rows_dropped", len(lines) - kept)
        w.layer("cdc.partitions_touched_per_batch", len(months))

    @staticmethod
    def _touched(lines: list[str]) -> set[str]:
        months = set()
        for line in lines:
            try:
                env = json.loads(line)
            except json.JSONDecodeError:
                continue
            if env is None:
                continue
            rec = env["before"] if env["op"] == "d" else env["after"]
            months.add(rec["mes"])
        return months

    def _trace_after(self, op: str, lines: list[str], apply0: float, committed: float,
                     wall0: float, w: Window) -> None:
        w.layer("cdc.upsert_apply_s", committed - apply0)
        written = files = 0
        for root, _dirs, names in os.walk(self.silver):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    st = os.stat(os.path.join(root, n))
                    if st.st_mtime >= wall0:
                        written += st.st_size
        w.layer("cdc.bytes_written_per_event", written / len(lines))
        w.layer("cdc.silver_files", files)
        batch_id = self.batches - 1  # stream batch ids start at 0
        deadline = time.perf_counter() + 5
        while batch_id not in self.progress.by_batch and time.perf_counter() < deadline:
            time.sleep(0.01)
        d = self.progress.by_batch.get(batch_id)
        if d is None:
            return
        w.layer("stream.trigger_ms", d.get("triggerExecution", 0))
        w.layer("stream.add_batch_ms", d.get("addBatch", 0))
        w.layer("stream.planning_ms", d.get("queryPlanning", 0))
        w.layer("stream.wal_commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
        w.layer("stream.discovery_wait_ms", d.get("latestOffset", 0) + d.get("getBatch", 0))
