"""Structured Streaming tests: envelope unwrap semantics, schema
inference from sample, and an end-to-end foreachBatch upsert pipeline
(the reference's CDC path, SURVEY.md §3.2)."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from automatic_etl_spark.scratch import scratch_dir
from automatic_etl_spark.session import session_conf
from automatic_etl_spark.streaming import cdc

PAYLOAD = StructType(
    [
        StructField("id", LongType(), True),
        StructField("nombre", StringType(), True),
    ]
)


def _env(op, before, after, ts_ms):
    return json.dumps(
        {"before": before, "after": after, "source": {"table": "t"}, "op": op, "ts_ms": ts_ms}
    )


def test_unwrap_envelope_delete_rewrite(spark):
    rows = [
        (_env("c", None, {"id": 1, "nombre": "a"}, 100),),
        (_env("u", {"id": 1, "nombre": "a"}, {"id": 1, "nombre": "b"}, 200),),
        (_env("d", {"id": 1, "nombre": "b"}, None, 300),),
        (_env("r", None, {"id": 2, "nombre": "x"}, 50),),
    ]
    raw = spark.createDataFrame(rows, "value string")
    out = cdc.unwrap_envelope(cdc.parse_envelope(raw, PAYLOAD)).collect()
    by_op = {r["_op"]: r for r in out}
    assert by_op["d"]["__deleted"] is True
    assert by_op["d"]["nombre"] == "b"  # delete keeps the before-image
    assert by_op["u"]["__deleted"] is False and by_op["u"]["nombre"] == "b"
    assert by_op["r"]["id"] == 2


def test_cdc_last_writer_wins(spark):
    rows = [
        (_env("c", None, {"id": 1, "nombre": "v1"}, 100),),
        (_env("u", None, {"id": 1, "nombre": "v2"}, 200),),
        (_env("u", None, {"id": 2, "nombre": "w1"}, 150),),
    ]
    raw = spark.createDataFrame(rows, "value string")
    unwrapped = cdc.unwrap_envelope(cdc.parse_envelope(raw, PAYLOAD))
    latest = cdc.cdc_microbatch_dedup(unwrapped, ["id"], [F.col("_ts_ms")])
    state = {r.id: r.nombre for r in latest.collect()}
    assert state == {1: "v2", 2: "w1"}


def test_payload_schema_from_sample(spark):
    schema = cdc.payload_schema_from_sample(
        spark, '{"id": 3000000000, "nombre": "x", "tamano": 2.5}'
    )
    fields = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert fields["id"] == "bigint"
    assert fields["nombre"] == "string"
    assert fields["tamano"] == "double"


def test_streaming_foreach_batch_upsert(spark, sf_dir):
    """events replayed as a file stream → unwrap-less upsert: latest
    row per user lands in the silver table (T4/T6 end to end). Silver
    is partitioned on the key-stable bucket user_id % 8."""
    from automatic_etl_spark.operators.dedup import latest_version
    from automatic_etl_spark.plans.cdc_plans import _upsert_events_silver
    from automatic_etl_spark.sources.parquet import table

    silver = _upsert_events_silver(spark, sf_dir, "t_upsert")
    got = {r.user_id: r.event_id for r in spark.read.parquet(silver).collect()}
    expected = {
        r.user_id: r.event_id
        for r in latest_version(
            table(spark, sf_dir, "events"),
            ["user_id"],
            ["ts", "event_id"],
        ).collect()
    }
    assert got == expected


def test_foreach_batch_upsert_partitioned_prunes(spark):
    import glob
    import os

    target = scratch_dir("t_part_upsert") + "/silver"
    schema = "id long, nombre string, _ts_ms long, month string, __deleted boolean"
    base = spark.createDataFrame(
        [(1, "a1", 100, "2024-01", False), (2, "b1", 100, "2024-02", False)],
        schema,
    )
    apply_fn = cdc.foreach_batch_upsert_partitioned(
        target, keys=["id"], version_cols=["_ts_ms"], partition_col="month"
    )
    apply_fn(base, 0)

    jan_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{target}/month=2024-01/*.parquet")
    }
    feb_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{target}/month=2024-02/*.parquet")
    }
    assert jan_files and feb_files

    # second batch touches ONLY February, with in-batch duplicates: key
    # 2 older than silver's version and again newer, key 3 inserted and
    # then deleted
    batch2 = spark.createDataFrame(
        [
            (2, "b0", 50, "2024-02", False),
            (2, "b2", 200, "2024-02", False),
            (3, "c1", 150, "2024-02", False),
            (3, "c1", 160, "2024-02", True),
        ],
        schema,
    )
    apply_fn(batch2, 1)

    state = {
        r["id"]: (r["nombre"], r["_ts_ms"], r["__deleted"])
        for r in spark.read.parquet(target).collect()
    }
    # one LWW pass over silver and the raw batch: one row per key, the
    # highest version, the delete kept as a __deleted row
    assert state == {
        1: ("a1", 100, False),
        2: ("b2", 200, False),
        3: ("c1", 160, True),
    }

    # January partition untouched: same files, same mtimes
    jan_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{target}/month=2024-01/*.parquet")
    }
    assert jan_after == jan_files
    # February was rewritten
    feb_after = set(glob.glob(f"{target}/month=2024-02/*.parquet"))
    assert feb_after != set(feb_files)


def test_foreach_batch_upsert_partitioned_null_partition_merges(spark):
    """NULL partition keys are MERGED, not dropped or clobbered (r7
    advice): rows land in the default partition directory, and a later
    batch touching the NULL partition must last-writer-wins against the
    existing NULL-partition state instead of overwriting it blind. An
    all-NULL batch must not be silently skipped either."""
    target = scratch_dir("t_part_upsert_null") + "/silver"
    apply_fn = cdc.foreach_batch_upsert_partitioned(
        target, keys=["id"], version_cols=["_ts_ms"], partition_col="month"
    )
    # batch 0: one normal row, one NULL-partition row
    b0 = spark.createDataFrame(
        [(1, "a1", 100, "2024-01"), (9, "n1", 100, None)],
        "id long, nombre string, _ts_ms long, month string",
    )
    apply_fn(b0, 0)
    # batch 1: ALL rows NULL-partition — update id=9, insert id=10
    b1 = spark.createDataFrame(
        [(9, "n2", 200, None), (10, "m1", 150, None)],
        "id long, nombre string, _ts_ms long, month string",
    )
    apply_fn(b1, 1)
    state = {
        r["id"]: (r["nombre"], r["month"])
        for r in spark.read.parquet(target).collect()
    }
    assert state == {
        1: ("a1", "2024-01"),  # untouched partition survives
        9: ("n2", None),       # merged LWW inside the NULL partition
        10: ("m1", None),      # inserted alongside, not clobbering 9
    }


def _sink_batch(spark, month, ts_ms, extra=False):
    rows = [(i, f"n{ts_ms}", ts_ms, month) for i in range(4)]
    schema = "id long, nombre string, _ts_ms long, month string"
    df = spark.createDataFrame(rows, schema)
    return df.withColumn("extra", F.lit(1)) if extra else df


def test_upsert_sink_reads_silver_with_its_written_schema(spark, monkeypatch):
    """A later batch on an existing silver table reads silver with the
    schema of the sink's last merge write and runs one last-writer-wins
    window over silver and the raw batch: 4 Spark jobs, where a
    separate batch-only dedup made it 5 and inferring the schema 6. The
    touched month is still a directory-pruning PartitionFilter of the
    silver scan."""
    target = scratch_dir("t_part_upsert_schema") + "/silver"
    apply_fn = cdc.foreach_batch_upsert_partitioned(
        target, keys=["id"], version_cols=["_ts_ms"], partition_col="month"
    )
    apply_fn(_sink_batch(spark, "2024-01", 100), 0)
    apply_fn(_sink_batch(spark, "2024-02", 100), 1)

    unions = []
    frame_cls = type(spark.range(1))
    orig_union = frame_cls.unionByName

    def spy(self, other, *args, **kwargs):
        unions.append(self)
        return orig_union(self, other, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "unionByName", spy)
    sc = spark.sparkContext
    group = "cdc-sink-jobs"
    sc.setJobGroup(group, group)
    try:
        apply_fn(_sink_batch(spark, "2024-02", 200), 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4

    [existing] = unions
    plan = existing._jdf.queryExecution().executedPlan().toString()
    partition_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "month" in partition_filters and "2024-02" in partition_filters
    state = {
        (r["id"], r["month"]): r["_ts_ms"]
        for r in spark.read.parquet(target).collect()
    }
    assert state == {
        **{(i, "2024-01"): 100 for i in range(4)},
        **{(i, "2024-02"): 200 for i in range(4)},
    }


def test_upsert_sink_fails_a_batch_with_a_column_silver_lacks(spark):
    """The remembered schema never drops a column: a batch carrying a
    column silver lacks fails in ``unionByName`` and silver keeps its
    rows, both on the closure that wrote silver and on a fresh one that
    infers silver's schema."""
    target = scratch_dir("t_part_upsert_extra") + "/silver"
    writer = cdc.foreach_batch_upsert_partitioned(
        target, keys=["id"], version_cols=["_ts_ms"], partition_col="month"
    )
    writer(_sink_batch(spark, "2024-01", 100), 0)
    fresh = cdc.foreach_batch_upsert_partitioned(
        target, keys=["id"], version_cols=["_ts_ms"], partition_col="month"
    )
    for apply_fn in (writer, fresh):
        with pytest.raises(AnalysisException):
            apply_fn(_sink_batch(spark, "2024-01", 200, extra=True), 1)
    rows = spark.read.parquet(target).collect()
    assert sorted(r["_ts_ms"] for r in rows) == [100] * 4
    assert "extra" not in spark.read.parquet(target).columns


def test_stateful_queries_match_under_rocksdb_state_store(spark, sf_dir):
    """The RocksDB state store (what large-state production streams
    run — state spills to disk instead of living on the JVM heap) must
    produce byte-identical results to the default HDFS-backed store
    for our stateful streaming paths."""
    from automatic_etl_spark.plans.all_plans import REGISTRY

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    for name in ("streaming_watermark_dedup", "streaming_hourly_counts"):
        fn = REGISTRY[name][0]
        baseline = sorted(map(tuple, fn(spark, sf_dir).collect()))
        with session_conf(spark, {key: rocks}):
            with_rocks = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert with_rocks == baseline, name


def _stage_dq_files(spark, n_files=3):
    """n single-part parquet files, each 2 rows with exactly 1
    violation (value IS NULL), so cumulative totals are independent of
    the (unspecified) file-stream pickup order."""
    d = scratch_dir("t_dq_abort_src")
    for i in range(n_files):
        spark.createDataFrame(
            [(2 * i, None), (2 * i + 1, 5.0)], "event_id long, value double"
        ).coalesce(1).write.mode("append").parquet(d)
    return d


def test_dq_gate_abort_preserves_partial_totals(spark):
    """The fail-fast path (reference tools/master_orchestrator.py:552-630):
    a breached budget must RAISE — stream stops, remaining batches never
    run — and the partial totals up to the abort must survive on the
    exception."""
    import glob

    import pytest

    from automatic_etl_spark.streaming.dq import (
        DQBudgetExceeded,
        run_dq_gate,
    )

    src = _stage_dq_files(spark, n_files=3)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 3
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(DQBudgetExceeded) as ei:
        run_dq_gate(
            stream,
            checks={"null_value": F.col("value").isNull()},
            checkpoint=scratch_dir("t_dq_abort_ckpt"),
            budgets={"null_value": 1},
        )
    exc = ei.value
    # breach on the SECOND batch: 2 null rows seen, third file unread
    assert exc.check == "null_value"
    assert exc.budget == 1
    assert exc.violations == 2
    assert exc.totals == {"rows_scanned": 4, "null_value": 2}
    # the stream is dead, not draining in the background
    assert not spark.streams.active


def test_dq_gate_replay_guard_skips_seen_batch_id(spark):
    """Spark's foreachBatch contract is at-least-once: a failed
    micro-batch is re-executed WITH THE SAME batch_id. Accumulation
    must be idempotent per id (ADVICE r5: a double-counted batch
    silently diverges from the batch oracle)."""
    from automatic_etl_spark.streaming.dq import DQGate

    gate = DQGate(checks={"null_value": F.col("value").isNull()})
    b0 = spark.createDataFrame([(1, None), (2, 3.0)], "id long, value double")
    b1 = spark.createDataFrame([(3, None)], "id long, value double")
    gate(b0, 0)
    gate(b0, 0)  # replay of batch 0 — must not double-count
    gate(b1, 1)
    assert gate.totals == {"rows_scanned": 3, "null_value": 2}
    assert gate.seen == {0, 1}


def test_dq_gate_rejects_budget_for_unknown_check(spark):
    import pytest

    from automatic_etl_spark.streaming.dq import DQGate

    with pytest.raises(ValueError, match="unknown checks"):
        DQGate(
            checks={"null_value": F.col("value").isNull()},
            budgets={"typo_check": 1},
        )


def test_streaming_observe_metrics_reach_listener(spark):
    """Streaming observability: df.observe(...) metrics must surface
    per micro-batch in StreamingQueryProgress.observedMetrics — the
    zero-extra-pass way to run the DQ counters (Q3's observe pattern)
    on a live stream without a second aggregation job."""
    import time
    import uuid

    from pyspark.sql.streaming import StreamingQueryListener

    src = scratch_dir("t_observe_src")
    spark.createDataFrame(
        [(i, None if i % 5 == 0 else float(i)) for i in range(40)],
        "event_id long, value double",
    ).coalesce(2).write.mode("overwrite").parquet(src)

    seen: list[tuple[int, int]] = []

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            row = event.progress.observedMetrics.get("dq")
            if row is not None:
                seen.append((row["rows"], row["nulls"]))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema("event_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        observed = stream.observe(
            "dq",
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("value").isNull().cast("long")).alias("nulls"),
        )
        q = (
            observed.writeStream.format("memory")
            .queryName(f"obs_{uuid.uuid4().hex[:8]}")
            .outputMode("append")
            .option(
                "checkpointLocation", scratch_dir("t_obs_ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener delivery is async — poll briefly for the totals
        deadline = time.time() + 20
        while time.time() < deadline and sum(r for r, _ in seen) < 40:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    assert sum(r for r, _ in seen) == 40
    assert sum(n for _, n in seen) == 8  # i % 5 == 0 -> 8 planted nulls
    assert len(seen) >= 2  # maxFilesPerTrigger=1 over 2 files


def test_python_stream_source_replay_is_exact():
    """Recovery contract of the custom Python stream source: replaying
    any committed offset range (readBetweenOffsets) must reproduce the
    original rows byte-for-byte — rows are pure functions of the
    offset, so failure recovery can never diverge."""
    from automatic_etl_spark.sources.pydatasource import (
        _StreamReader,
        derive_row,
    )

    r = _StreamReader({"rows": "50", "batch": "20"})
    offset = r.initialOffset()
    seen = []
    while offset["pos"] < 50:
        rows, nxt = r.read(offset)
        batch = list(rows)
        # replay of the SAME window must match what read() produced
        assert list(r.readBetweenOffsets(offset, nxt)) == batch
        seen.extend(batch)
        offset = nxt
    assert seen == [derive_row(i) for i in range(50)]
    # exhausted source yields empty batches at a fixed point
    rows, nxt = r.read(offset)
    assert list(rows) == [] and nxt == offset


def test_stream_stream_join_batch_count(spark, sf_dir):
    """Pin the stream-stream join's micro-batch structure (VERDICT r6
    #3): coalesce(2) stages exactly 2 files per side and
    maxFilesPerTrigger=1 consumes one per side per trigger, so
    availableNow must run exactly 2 data batches plus 1 empty
    watermark-finalize batch. A drift here (more files staged, trigger
    option lost) would silently multiply per-batch state-store commit
    overhead — the r7 profile attributes ~2/3 of the query's wall time
    to state commits (4 join state stores x shuffle partitions per
    batch), so batch count IS the cost model."""
    from automatic_etl_spark.plans.cdc_plans import (
        stream_stream_join_with_progress,
    )

    df, info = stream_stream_join_with_progress(spark, sf_dir)
    progress = info["progress"]
    # one data batch per staged file on the WIDER side (each trigger
    # consumes one file from each source), plus one finalize batch
    expected_data = max(info["staged_files"].values())
    assert 1 <= expected_data <= 2  # coalesce(2) caps staging at 2
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == expected_data
    assert len(progress) == expected_data + 1
    # both sides buffer everything (watermark >> fixture span): state
    # rows after the last data batch equal total input rows
    last = data_batches[-1]
    assert last["stateOperators"][0]["numRowsTotal"] == sum(
        p["numInputRows"] for p in data_batches
    )
    assert df.count() > 0


def test_stream_state_partitions_sizing(tmp_path):
    """Volume-sized state partitions (r7): a stateful stream's
    shuffle/state partition count must track staged input volume —
    every partition costs a state-store open/commit PER BATCH, so a
    low-volume stream at the full CPU budget pays ~cpus× the commit
    overhead for zero parallelism win (the r7 stream_stream_join
    profile: ~2/3 of wall in state commits at 32 partitions)."""
    from automatic_etl_spark.session import (
        default_parallelism,
        stream_state_partitions,
    )

    d = tmp_path / "staged"
    d.mkdir()
    # empty staging -> minimum of 1 partition, never 0
    assert stream_state_partitions(str(d)) == 1
    (d / "part-0.parquet").write_bytes(b"x" * 1024)
    # metadata/hidden files must not count toward volume
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.parquet.crc").write_bytes(b"y" * 10_000_000)
    assert stream_state_partitions(str(d)) == 1
    assert stream_state_partitions(str(d), bytes_per_partition=512) == 2
    # rows floor for sources with no staged files (custom stream source)
    assert stream_state_partitions(rows=250_000) == 1
    assert stream_state_partitions(rows=250_001) == 2
    # volume beyond the CPU budget caps at the budget — on a cluster the
    # same call scales up with SPARK_GRAFT_CPUS
    assert (
        stream_state_partitions(str(d), rows=10**12) == default_parallelism()
    )
    # multiple staged dirs aggregate (stream-stream join: both sides)
    d2 = tmp_path / "staged2"
    d2.mkdir()
    (d2 / "part-0.parquet").write_bytes(b"x" * 1024)
    assert (
        stream_state_partitions(str(d), str(d2), bytes_per_partition=1024)
        == 2
    )


def test_unwrap_envelope_drops_tombstones(spark):
    """Debezium emits a NULL-value record after every delete
    (tombstones.on.delete default) and from_json yields NULL for
    unparseable payloads; both must be DROPPED — before r7 each became
    a ghost row with __deleted=NULL and all-null keys that survived
    the LWW dedup and accumulated in silver."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from automatic_etl_spark.streaming import cdc

    payload = StructType([StructField("id", LongType(), True)])
    rows = [
        (json.dumps({"before": None, "after": {"id": 1},
                     "source": {"table": "t"}, "op": "c", "ts_ms": 1}),),
        (None,),                 # tombstone
        ("{not json at all",),   # unparseable -> from_json NULL
    ]
    raw = spark.createDataFrame(rows, "value string")
    out = cdc.unwrap_envelope(cdc.parse_envelope(raw, payload)).collect()
    assert len(out) == 1
    assert out[0]["id"] == 1 and out[0]["__deleted"] is False


def test_upsert_path_probe_semantics(spark, tmp_path):
    """_path_exists: missing and EMPTY directories count as absent
    (nothing to merge, schema uninferable); a written table counts as
    present — and the probe goes through the Hadoop FS API so non-local
    filesystems behave identically (r7 review: os.path.isdir on S3/HDFS
    was always False, turning merges into destructive overwrites)."""
    from automatic_etl_spark.streaming.cdc import _path_exists

    missing = str(tmp_path / "nope")
    assert not _path_exists(spark, missing)
    empty = tmp_path / "empty"
    empty.mkdir()
    assert not _path_exists(spark, str(empty))
    written = str(tmp_path / "t")
    spark.range(3).write.parquet(written)
    assert _path_exists(spark, written)


def test_upsert_path_probe_skips_hidden_entries(spark, tmp_path):
    """A silver directory left by a crashed first write holds only
    entries Spark's file index skips (``.spark-staging-*``,
    ``_SUCCESS``): it counts as absent, so the first batch writes
    silver equal to the batch instead of failing every replay on an
    uninferable schema. A ``_p=1`` partition directory still counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from automatic_etl_spark.streaming.cdc import _path_exists

    target = tmp_path / "silver"
    staged = target / ".spark-staging-abc" / "month=2024-01"
    staged.mkdir(parents=True)
    pq.write_table(pa.table({"id": [1]}), str(staged / "part-0.parquet"))
    (target / "_SUCCESS").write_bytes(b"")
    assert not _path_exists(spark, str(target))

    apply_fn = cdc.foreach_batch_upsert_partitioned(
        str(target), keys=["id"], version_cols=["_ts_ms"], partition_col="month"
    )
    batch = _sink_batch(spark, "2024-01", 100)
    apply_fn(batch, 0)
    silver = spark.read.parquet(str(target)).select(*batch.columns)
    assert sorted(map(tuple, silver.collect())) == sorted(
        map(tuple, batch.collect())
    )

    partitioned = tmp_path / "underscore_partition"
    spark.range(1).write.parquet(str(partitioned / "_p=1"))
    assert _path_exists(spark, str(partitioned))
