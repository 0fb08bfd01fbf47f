"""Oracle-checked CDC plans (SURVEY.md §2.9, §3.2).

``cdc_unwrap_dedup`` drives the FULL envelope path in Spark — build
Debezium JSON, parse with from_json, SMT-style unwrap with delete
rewrite, last-writer-wins dedup — while the oracle computes the
expected END STATE directly from ``events`` (no JSON), proving the
roundtrip is lossless.

``streaming_hourly_counts`` is genuine Structured Streaming (file
source → watermark → tumbling window → memory sink, availableNow);
bounded input makes the result deterministic, so even the streaming
path gets a value-hash oracle instead of a rows-only check.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import qround
from automatic_etl_spark.scratch import scratch_dir
from automatic_etl_spark.session import (
    default_parallelism,
    session_conf,
    stream_state_partitions,
)
from automatic_etl_spark.sources.parquet import table
from automatic_etl_spark.streaming import cdc

_SHUFFLE = "spark.sql.shuffle.partitions"


def _stage(frame: DataFrame, site: str) -> str:
    """Write ``frame`` as (at most) two parquet files into the fresh
    scratch dir ``site`` and return it: the directory a file stream
    source reads. With ``maxFilesPerTrigger=1`` the two files are two
    micro-batches."""
    d = scratch_dir(site)
    frame.coalesce(2).write.mode("overwrite").parquet(d)
    return d


def stage_stream_dir(
    spark: SparkSession, sf_dir: str, name: str = "events"
) -> tuple[str, StructType]:
    """Spark's file stream source wants a DIRECTORY; stage the fixture
    through the normalized ``table()`` read (NOT a raw file copy) so
    timestamp-encoding drift in the fixtures — nanos-int64 one round,
    TIMESTAMP_NTZ the next — is absorbed at this boundary and the
    staged files always carry plain TIMESTAMP columns. Tiny write: the
    stream tables don't scale with sf. Returns the directory and the
    schema written there, which the stream reader is given instead of
    inferring it with a Spark job."""
    frame = table(spark, sf_dir, name, fan_out=False)
    return _stage(frame, f"stream_{name}"), frame.schema


def _run_bounded(spark: SparkSession, writer, checkpoint: str, partitions: int):
    """Start ``writer`` on ``checkpoint`` with Trigger.AvailableNow,
    wait until it has drained its bounded input, and return the query.

    The stream runs on ``partitions`` shuffle partitions; the session's
    own value comes back afterwards, also when the stream raises. A
    stateful stream bakes that count into its checkpoint at the first
    batch (on a default session: 200 tiny tasks) and pays a fixed
    state-store commit per (partition × micro-batch), so a low-volume
    stream must not pay the full CPU budget's worth. Callers size it to
    the staged volume with :func:`stream_state_partitions` (every
    checkpoint here is fresh), unless the site says why not."""
    with session_conf(spark, {_SHUFFLE: str(partitions)}):
        query = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return query


def _to_memory(
    spark: SparkSession, frame: DataFrame, mode: str, site: str, partitions: int
):
    """Run the stream ``frame`` to completion into a uniquely named
    memory sink (checkpoint in scratch ``{site}_ckpt``); return the
    sink table and the finished query."""
    name = f"{site}_{uuid.uuid4().hex[:8]}"
    query = _run_bounded(
        spark,
        frame.writeStream.format("memory").queryName(name).outputMode(mode),
        scratch_dir(f"{site}_ckpt"),
        partitions,
    )
    return spark.table(name), query


# Debezium op per event_type — 'error' events play the deletes.
_OP_MAP = {"signup": "c", "purchase": "u", "click": "u", "view": "r", "error": "d"}

_PAYLOAD = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("tipo", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)

_SQL_OP = (
    "CASE WHEN event_type = 'signup' THEN 'c' "
    "WHEN event_type IN ('purchase', 'click') THEN 'u' "
    "WHEN event_type = 'view' THEN 'r' ELSE 'd' END"
)


@register(
    "cdc_unwrap_dedup",
    oracle=f"""
        WITH base AS (
            SELECT event_id, user_id, event_type AS tipo, value,
                   {_SQL_OP} AS op,
                   epoch_ms(ts) AS ts_ms
            FROM events
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY ts_ms DESC NULLS LAST, event_id DESC NULLS LAST
            ) AS rn
            FROM base
        ),
        latest AS (SELECT * FROM ranked WHERE rn = 1)
        SELECT (op = 'd') AS __deleted,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_total,
               CAST(SUM(user_id) AS BIGINT) AS user_total,
               MAX(ts_ms) AS max_ts_ms
        FROM latest GROUP BY 1
    """,
)
def cdc_unwrap_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    op = F.lit(None).cast("string")
    expr = F.lit("d")
    for etype, opcode in _OP_MAP.items():
        if opcode != "d":
            expr = F.when(F.col("event_type") == etype, F.lit(opcode)).otherwise(expr)
    op = expr
    payload = F.struct(
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type").alias("tipo"),
        F.col("value"),
    )
    envelope = F.struct(
        F.when(op == "d", payload).alias("before"),
        F.when(op != "d", payload).alias("after"),
        F.struct(F.lit("events").alias("table")).alias("source"),
        op.alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
    )
    raw = events.select(F.to_json(envelope).alias("value"))  # the Kafka wire form
    parsed = cdc.parse_envelope(raw, _PAYLOAD)
    unwrapped = cdc.unwrap_envelope(parsed)
    latest = cdc.cdc_microbatch_dedup(
        unwrapped, keys=["user_id"], version_cols=[F.col("_ts_ms"), F.col("event_id")]
    )
    return latest.groupBy("__deleted").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_total"),
        F.sum("user_id").alias("user_total"),
        F.max("_ts_ms").alias("max_ts_ms"),
    )


@register(
    "streaming_hourly_counts",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_total
        FROM events GROUP BY 1, 2
    """,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation run to completion with
    Trigger.AvailableNow — T5 extension semantics on real
    ``readStream``."""
    path, schema = stage_stream_dir(spark, sf_dir, "events")
    # Staged files are normalized (ts is plain TIMESTAMP) regardless of
    # the fixture's on-disk encoding.
    stream = spark.readStream.schema(schema).parquet(path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_total"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "value_total",
        )
    )
    counts, _ = _to_memory(
        spark, agg, "complete", "stream_hourly", stream_state_partitions(path)
    )
    return counts


@register(
    "streaming_replay_dedup",
    oracle="""
        SELECT event_type, COUNT(*) AS cnt, CAST(SUM(user_id) AS BIGINT) AS user_total
        FROM events GROUP BY event_type
    """,
)
def streaming_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 at-least-once semantics made exact: the staged stream carries
    every event TWICE (replayed delivery); streaming ``dropDuplicates``
    on the event key holds seen-keys state across batches, so the sink
    equals the exactly-once result. Scale notes: dedup state shuffles
    on the key; in production bound it with
    ``dropDuplicatesWithinWatermark`` so state ages out with the
    delivery-replay horizon."""
    events = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    doubled = events.unionByName(events)  # the replayed delivery
    data_dir = _stage(doubled, "replay_stage")
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    deduped, _ = _to_memory(
        spark,
        stream.dropDuplicates(["event_id"]),
        "append",
        "replay",
        stream_state_partitions(data_dir),
    )
    return (
        deduped.groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.sum("user_id").alias("user_total"))
    )


@register(
    "streaming_watermark_dedup",
    oracle="""
        SELECT event_type, COUNT(*) AS cnt, CAST(SUM(user_id) AS BIGINT) AS user_total,
               MAX(epoch_ms(ts)) AS max_ts_ms
        FROM events GROUP BY event_type
    """,
)
def streaming_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 replay dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    keys the seen-set on event_id but ages entries out once the event-time
    watermark passes them — the production form of streaming_replay_dedup
    (whose plain ``dropDuplicates`` state grows forever). Determinism: the
    fixture spans ~30 days and the delay is 60 days, so no entry expires
    and no row is late within the run; the sink must equal exactly-once.
    At cluster scale the same plan holds state proportional to the replay
    horizon, not the stream's lifetime."""
    events = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    doubled = events.unionByName(events)  # the replayed delivery
    data_dir = _stage(doubled, "wm_dedup_stage")
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    deduped, _ = _to_memory(
        spark,
        stream.withWatermark("ts", "60 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        ),
        "append",
        "wm_dedup",
        stream_state_partitions(data_dir),
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("user_id").alias("user_total"),
            F.max(F.unix_millis("ts")).alias("max_ts_ms"),
        )
    )


@register(
    "stateful_running_totals",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents_total
        FROM events GROUP BY user_id
    """,
)
def stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState over a genuine multi-batch stream: events
    split into 2 files, maxFilesPerTrigger=1 → per-user GroupState
    accumulates across batches; the last emission per user (the row
    with the highest n_events — counts strictly increase) must equal
    the plain batch aggregate. Integer-cents state keeps accumulation
    exact under ANY file→batch assignment."""
    from automatic_etl_spark.streaming.stateful import running_user_totals

    events = table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.col("value") * 100).alias("cents")
    )
    data_dir = _stage(events, "stateful_stage")
    stream = (
        spark.readStream.schema("user_id long, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    # Deliberately CPU-sized, NOT volume-sized (stream_state_partitions):
    # applyInPandasWithState runs every group's pandas code in a Python
    # worker, so the partition count is the Python-stage parallelism and
    # per-partition state commits are noise next to it — the r7 A/B
    # measured 2.8-5.1 s at 32 partitions vs 5.3-7.6 s at 1.
    totals, _ = _to_memory(
        spark,
        running_user_totals(stream),
        "update",
        "stateful_totals",
        default_parallelism(),
    )

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        totals.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "cents_total")
    )


@register(
    "stream_stream_join",
    oracle="""
        SELECT s.user_id,
               COUNT(*) AS pair_cnt,
               CAST(SUM(epoch_ms(p.ts) - epoch_ms(s.ts)) AS BIGINT) AS lag_ms_total
        FROM (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
        JOIN (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase') p
          ON s.user_id = p.user_id
         AND p.ts >= s.ts
         AND p.ts <= s.ts + INTERVAL 7 DAY
        GROUP BY s.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join: signups and purchases arrive as two
    independent streams; each side buffers rows in the state store
    until the other side's watermark passes the join window (purchase
    within 7 days of signup). Both watermarks (60 days > the ~30-day
    fixture span) keep every row live for the run, so the sink equals
    the batch join — the oracle. At scale the event-time range bound
    is what makes this viable: state is evicted once ts <
    watermark − 7 days, so each side holds a sliding week, not the
    stream's history.

    Micro-batch count is structural: coalesce(2) stages exactly two
    files per side and maxFilesPerTrigger=1 consumes one per side per
    trigger, so availableNow runs 2 data batches + 1 empty
    watermark-finalize batch = 3 (pinned in
    tests/test_streaming.py::test_stream_stream_join_batch_count;
    r7 profile attributes wall time ~⅔ to state-store commits: 4 join
    state stores × shuffle-partition count per batch — which is why
    the partition count is volume-sized via stream_state_partitions,
    a measured ~30% win at sf0.1)."""
    df, _info = stream_stream_join_with_progress(spark, sf_dir)
    return df


def stream_stream_join_with_progress(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """Core of :func:`stream_stream_join`; additionally returns
    ``{"progress": [...StreamingQueryProgress dicts...],
    "staged_files": {"signups": n, "purchases": m}}`` so tests can pin
    the micro-batch count (= max staged files per side, + 1 finalize)
    and state metrics without reaching into the checkpoint."""
    import os

    # fan_out=False (r14): staging filters + coalesce(2)-writes — a
    # 32-way fan-out repartition immediately squeezed back to 2
    # output files was a pure extra shuffle per side.
    events = table(spark, sf_dir, "events", fan_out=False).select(
        "event_id", "user_id", "event_type", "ts"
    )
    stage = scratch_dir("ss_join_stage")
    # ONE staging pass for both sides (r15, guide §1.2): the two
    # per-side filter+write jobs each scanned the full events table;
    # a single partitionBy(event_type) write stages both sides in one
    # scan + one job. coalesce(2) still caps each partition directory
    # at 2 files (every task writes one file per partition value it
    # holds), preserving the pinned 2-data-batch structure. The
    # signups stream's 2-column readStream schema simply never reads
    # the extra event_id column from its partition's parquet files
    # (columnar projection), so the staged superset is free.
    both_dir = os.path.join(stage, "by_type")
    (
        events.filter(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
        .coalesce(2)
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(both_dir)
    )
    sign_dir = os.path.join(both_dir, "event_type=signup")
    purch_dir = os.path.join(both_dir, "event_type=purchase")
    signups = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(sign_dir)
        .withWatermark("ts", "60 days")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"))
    )
    purchases = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(purch_dir)
        .withWatermark("ts", "60 days")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "event_id",
        )
    )
    joined = signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAYS")),
    )
    # 4 join state stores × partitions × batches commits: size the
    # partition count to the staged volume, not the CPU budget.
    pairs, query = _to_memory(
        spark,
        joined,
        "append",
        "ss_join",
        stream_state_partitions(sign_dir, purch_dir),
    )
    result = (
        pairs.groupBy(F.col("s_user").alias("user_id"))
        .agg(
            F.count("*").alias("pair_cnt"),
            F.sum(
                F.unix_millis("p_ts") - F.unix_millis("s_ts")
            ).alias("lag_ms_total"),
        )
    )
    staged = {
        side: len(
            [f for f in os.listdir(d) if f.endswith(".parquet")]
        )
        for side, d in (("signups", sign_dir), ("purchases", purch_dir))
    }
    return result, {
        "progress": list(query.recentProgress),
        "staged_files": staged,
    }


@register(
    "scd2_history",
    oracle="""
        WITH h AS (
            SELECT user_id, event_type, ts,
                   lead(ts) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                   ) AS valid_to
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS versions,
               CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS current_cnt,
               CAST(SUM(epoch_ms(valid_to) - epoch_ms(ts)) AS BIGINT) AS closed_ms_total
        FROM h GROUP BY event_type
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: the CDC change stream becomes validity
    intervals — each change row gets valid_to = next change's ts for
    the same key (lead window, event_id tiebreak), NULL marking the
    current version. The complement of the last-writer-wins dedup
    (SCD1) the reference's ReplacingMergeTree tables implement
    (tools/create_clickhouse_models.py heuristics): same shuffle shape
    (one key-partitioned window), but every version is kept with its
    validity range."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events", fan_out=False)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    hist = events.select(
        "user_id", "event_type", "ts", F.lead("ts").over(w).alias("valid_to")
    )
    return hist.groupBy("event_type").agg(
        F.count("*").alias("versions"),
        F.sum(F.col("valid_to").isNull().cast("int")).alias("current_cnt"),
        F.sum(F.unix_millis("valid_to") - F.unix_millis("ts")).alias(
            "closed_ms_total"
        ),
    )


@register(
    "cdc_bronze_stamp",
    oracle="SELECT COUNT(*) AS cnt, COUNT(*) AS valid_json_cnt FROM events",
)
def cdc_bronze_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/T3 bronze landing: raw JSON + processing-time stamp. The
    stamp itself is wall-clock (excluded from output); the oracle pins
    row conservation + JSON validity."""
    events = table(spark, sf_dir, "events")
    raw = events.select(
        F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias("value")
    )
    bronze = cdc.stamp_bronze(raw)
    parsed = bronze.withColumn(
        "k", F.get_json_object(F.col("value"), "$.event_id")
    )
    return parsed.agg(
        F.count("*").alias("cnt"),
        F.count("k").alias("valid_json_cnt"),
    )


@register(
    "streaming_enrichment_join",
    oracle="""
        SELECT w.weight_tier,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(floor(e.value * 100) AS BIGINT) * w.weight) AS BIGINT)
                   AS weighted_cents
        FROM events e
        JOIN (VALUES ('click', 1, 'low'), ('view', 2, 'low'),
                     ('signup', 5, 'mid'), ('purchase', 10, 'high'),
                     ('error', 0, 'low'))
             AS w(event_type, weight, weight_tier)
          ON e.event_type = w.event_type
        GROUP BY w.weight_tier
    """,
)
def streaming_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming micro-batches join
    a STATIC dimension (no state store — the dim is re-broadcast per
    batch), then aggregate in complete mode. The standard lookup-table
    enrichment shape for CDC/event streams."""
    dim = spark.createDataFrame(
        [
            ("click", 1, "low"),
            ("view", 2, "low"),
            ("signup", 5, "mid"),
            ("purchase", 10, "high"),
            ("error", 0, "low"),
        ],
        "event_type string, weight int, weight_tier string",
    )
    events = table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).alias("cents")
    )
    data_dir = _stage(events, "enrich_stage")
    stream = (
        spark.readStream.schema("event_type string, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(data_dir)
    )
    enriched = stream.join(dim, "event_type").groupBy("weight_tier").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("cents") * F.col("weight")).alias("weighted_cents"),
    )
    tiers, _ = _to_memory(
        spark, enriched, "complete", "enrich", stream_state_partitions(data_dir)
    )
    return tiers


def _upsert_events_silver(spark: SparkSession, sf_dir: str, site: str) -> str:
    """Replay the events table as a file stream (maxFilesPerTrigger=1)
    through the CDC sink into a silver table partitioned on the
    key-stable bucket ``user_bucket = user_id % 8``; returns the silver
    path. ``site`` names this caller's scratch trees."""
    path, schema = stage_stream_dir(spark, sf_dir, "events")
    silver = scratch_dir(f"{site}_silver") + "/t"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withColumn("user_bucket", F.col("user_id") % 8)
    )
    _run_bounded(
        spark,
        stream.writeStream.foreachBatch(
            cdc.foreach_batch_upsert_partitioned(
                silver, ["user_id"], ["ts", "event_id"], "user_bucket"
            )
        ),
        scratch_dir(f"{site}_ckpt"),
        stream_state_partitions(path),
    )
    return silver


@register(
    "streaming_upsert_pipe",
    oracle="""
        WITH latest AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
            ) AS rn
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(user_id) AS BIGINT) AS user_total,
               CAST(SUM(event_id) AS BIGINT) AS event_id_total
        FROM latest WHERE rn = 1 GROUP BY event_type
    """,
)
def streaming_upsert_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/T6 end to end as an oracle query: the event stream replays
    in micro-batches (maxFilesPerTrigger=1) through the foreachBatch
    last-writer-wins upsert into a parquet silver table; reading the
    silver table back must equal the batch LWW dedup — the oracle.
    Silver is partitioned on the ``user_id % 8`` bucket staged by
    :func:`_upsert_events_silver`; the bucket never reaches the
    output."""
    silver = _upsert_events_silver(spark, sf_dir, "upsert")
    return (
        spark.read.parquet(silver)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("user_id").alias("user_total"),
            F.sum("event_id").alias("event_id_total"),
        )
    )


@register(
    "streaming_upsert_partitioned_pipe",
    oracle="""
        WITH latest AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
            ) AS rn
            FROM events
        )
        SELECT user_id % 8 AS user_bucket,
               COUNT(*) AS cnt,
               CAST(SUM(user_id) AS BIGINT) AS user_total,
               CAST(SUM(event_id) AS BIGINT) AS event_id_total
        FROM latest WHERE rn = 1 GROUP BY 1
    """,
)
def streaming_upsert_partitioned_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 scale path live: the partition-pruned foreachBatch MERGE —
    silver is directory-partitioned on a key-stable bucket
    (user_id % 8), each micro-batch reads/overwrites ONLY its touched
    partitions (partitionOverwriteMode=dynamic). End state must equal
    the batch LWW dedup, proving pruning loses no rows. This is the
    Delta MERGE INTO cost model expressed with plain parquet."""
    silver = _upsert_events_silver(spark, sf_dir, "upsert_part")
    return (
        spark.read.parquet(silver)
        .groupBy("user_bucket")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("user_id").alias("user_total"),
            F.sum("event_id").alias("event_id_total"),
        )
    )


# --- D6: schema-from-sample (oracle-checked; was unit-only through r4) -------


@register(
    "schema_from_sample",
    oracle="""
        SELECT * FROM (VALUES
            ('id', 'bigint', CAST(6 AS BIGINT)),
            ('amount', 'double', CAST(4 AS BIGINT)),
            ('active', 'boolean', CAST(4 AS BIGINT)),
            ('note', 'string', CAST(3 AS BIGINT)),
            ('tags', 'array<string>', CAST(5 AS BIGINT))
        ) AS t(field, spark_type, n_nonnull)
    """,
)
def schema_from_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 live: the reference's first-message probe — infer the payload
    schema from ONE sample Debezium message, then parse the whole
    envelope corpus with the inferred schema (reference
    tools/kafka_to_clickhouse.py:53-95). The report carries the
    inferred field/type rows AND the per-field non-null count from
    unwrapping the corpus with that schema (deletes take the ``before``
    image), so a wrong inference fails on types and a lossy parse
    fails on counts."""
    import json

    sample_payload = {
        "id": 1, "amount": 10.5, "active": True,
        "note": "a", "tags": ["x", "y"],
    }
    payload = cdc.payload_schema_from_sample(
        spark, json.dumps(sample_payload)
    )

    def env(op, after=None, before=None, ts=1000):
        return json.dumps(
            {"before": before, "after": after,
             "source": {"table": "t"}, "op": op, "ts_ms": ts}
        )

    corpus = [
        env("c", after=sample_payload),
        env("c", after={"id": 2, "amount": 20.0, "active": False,
                        "note": None, "tags": ["z"]}),
        env("u", after={"id": 3, "amount": None, "active": True,
                        "note": "b", "tags": []}),
        env("u", after={"id": 4, "amount": 7.25, "active": None,
                        "note": None, "tags": None}),
        env("d", before={"id": 5, "amount": 1.0, "active": True,
                         "note": "c", "tags": ["w"]}),
        env("c", after={"id": 6, "amount": None, "active": None,
                        "note": None, "tags": ["q", "r"]}),
    ]
    raw = spark.createDataFrame([(s,) for s in corpus], "value string")
    unwrapped = cdc.unwrap_envelope(cdc.parse_envelope(raw, payload))
    fields = [(f.name, f.dataType.simpleString()) for f in payload.fields]
    counts = unwrapped.agg(
        *[F.count(name).alias(name) for name, _ in fields]
    ).first()  # one bounded row — the per-field non-null tallies
    return spark.createDataFrame(
        [(name, typ, counts[name]) for name, typ in fields],
        "field string, spark_type string, n_nonnull long",
    )


@register(
    "streaming_dq_gate",
    oracle="""
        WITH t AS (
            SELECT COUNT(*) AS rows_scanned,
                   COUNT(*) FILTER (WHERE value IS NULL) AS null_value,
                   COUNT(*) FILTER (WHERE value > 100.0) AS value_above_100,
                   COUNT(*) FILTER (
                       WHERE event_type NOT IN
                           ('signup', 'purchase', 'click', 'view', 'error')
                   ) AS unknown_event_type
            FROM events
        )
        SELECT 'null_value' AS chk, null_value AS violations,
               rows_scanned FROM t
        UNION ALL
        SELECT 'value_above_100', value_above_100, rows_scanned FROM t
        UNION ALL
        SELECT 'unknown_event_type', unknown_event_type, rows_scanned FROM t
    """,
)
def streaming_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality gate: the DQ constraint checks
    (dq_constraint_report's Deequ-style intent) evaluated PER
    MICRO-BATCH via streaming/dq.py's ``run_dq_gate`` — the shape a
    production pipeline uses to fail fast on a bad batch.
    maxFilesPerTrigger=1 forces multiple batches, so the accumulation
    path actually executes; the totals are associative sums, so the
    result is independent of the batch split and equals the
    whole-table batch computation (the oracle). This query runs with
    NO budgets (nothing aborts at fixture scale); the abort path and
    the at-least-once replay guard are pinned by dedicated units in
    tests/test_streaming.py."""
    from automatic_etl_spark.streaming.dq import run_dq_gate

    path, schema = stage_stream_dir(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    with session_conf(spark, {_SHUFFLE: str(stream_state_partitions(path))}):
        totals = run_dq_gate(
            stream,
            checks={
                "null_value": F.col("value").isNull(),
                "value_above_100": F.col("value") > 100.0,
                "unknown_event_type": ~F.col("event_type").isin(
                    "signup", "purchase", "click", "view", "error"
                ),
            },
            checkpoint=scratch_dir("dq_ckpt"),
        )
    rows = [
        (chk, totals[chk], totals["rows_scanned"])
        for chk in ("null_value", "value_above_100", "unknown_event_type")
    ]
    return spark.createDataFrame(
        rows, "chk string, violations long, rows_scanned long"
    )


# --- Python streaming DataSource end-to-end (r6) -------------------------------
# The offset-based custom stream source (sources/pydatasource.py
# _StreamReader) driven through a real multi-batch streaming query:
# initialOffset → bounded read() windows → offset commits, with
# processing-time micro-batches drained until the deterministic row
# universe is exhausted. This exercises the exact contract the waived
# live-Kafka source would (monotone offsets, per-batch bounds,
# replayable ranges — reference tools/kafka_to_clickhouse.py:137-163's
# consume loop), entirely in-process. The sink aggregate equals the
# batch replay of the same integer row derivation (the oracle).

PYDS_STREAM_ROWS = 2_000
PYDS_STREAM_BATCH = 500


@register(
    "python_stream_source_totals",
    oracle=f"""
        WITH gen AS (
            SELECT i AS event_id,
                   (i * 2654435761) % 104729 AS user_id,
                   (i * 48271) % 100000 AS cents
            FROM generate_series(0, {PYDS_STREAM_ROWS - 1}) t(i)
        )
        SELECT CAST(user_id % 5 AS BIGINT) AS cohort,
               COUNT(*) AS cnt,
               CAST(SUM(cents) AS BIGINT) AS cents_total,
               MAX(event_id) AS max_event_id
        FROM gen GROUP BY 1
    """,
)
def python_stream_source_totals(
    spark: SparkSession,
    sf_dir: str,
    *,
    rows: int = PYDS_STREAM_ROWS,
    batch: int = PYDS_STREAM_BATCH,
) -> DataFrame:
    """Multi-batch streaming read through the custom Python stream
    source (rows/batch offset windows; 4 of 500 at the registry
    default), drained to a memory sink and aggregated per cohort —
    must equal the batch replay exactly (exactly-once over the full
    drain). ``rows``/``batch`` exist for the scale-stress harness
    (tools/scale_stress.py); the pinned oracle covers the default."""
    import time

    from automatic_etl_spark.sources import pydatasource

    pydatasource.register(spark)
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    with session_conf(spark, {_SHUFFLE: str(stream_state_partitions(rows=rows))}):
        stream = (
            spark.readStream.format(pydatasource.FORMAT_NAME)
            .option("rows", str(rows))
            .option("batch", str(batch))
            .load()
        )
        query = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", scratch_dir("pyds_ckpt")
            )
            .trigger(processingTime="0 seconds")
            .start()
        )
        # Drain: the source is exhausted once the committed batches
        # have read the full row universe. The poll sums numInputRows
        # over recentProgress — a DRIVER-LOCAL list (guide §5), where
        # the previous `spark.table(name).count()` probe scheduled a
        # full Spark job per 0.3 s wakeup, contending with the
        # micro-batches it was waiting on. Progress entries are posted
        # after a batch COMMITS, so rows counted here are already in
        # the memory sink; the free check also lets the poll tighten
        # 0.3 s → 0.05 s, shaving the quantization tail. Eviction
        # safety: recentProgress keeps the last 100 updates — 4 data
        # batches plus no-data events throttled to one per 10 s
        # (noDataProgressEventInterval) never approach it within the
        # 120 s deadline.
        deadline = time.time() + 120
        while time.time() < deadline:
            done = sum(
                p["numInputRows"] for p in query.recentProgress
            )
            if done >= rows:
                break
            time.sleep(0.05)
        query.stop()
        query.awaitTermination(30)
    return (
        spark.table(name)
        .groupBy((F.col("user_id") % 5).alias("cohort"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum("cents").alias("cents_total"),
            F.max("event_id").alias("max_event_id"),
        )
    )


# --- State-store inspection (Spark 4, SPARK-45511) ----------------------------
# The State Data Source reads a streaming checkpoint's state store as
# a batch DataFrame — the production debugging surface for "what does
# my running aggregation believe right now" without touching the
# stream. The reference has no analog (ClickHouse state is just
# tables); for the Spark-native engine this closes the observability
# loop: streaming state is queryable with the same SQL as everything
# else.


@register(
    "state_store_inspection",
    oracle="""
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_total
        FROM events GROUP BY event_type
    """,
)
def state_store_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run an availableNow streaming aggregation to a checkpoint, then
    read the CHECKPOINT'S STATE STORE back via the Spark 4 state data
    source (format "statestore") and report the state rows themselves
    — (key.event_type, value.count, value.sum) must equal the batch
    aggregate of the same input, proving the persisted state is the
    answer, not just the memory sink. At scale the state source reads
    only state files (O(|keys|)), never the stream's input data."""
    path, schema = stage_stream_dir(spark, sf_dir)
    chk = scratch_dir("state_chk")
    stream = spark.readStream.schema(schema).parquet(path)
    agg = (
        stream.select(
            "event_type",
            F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("cents_total"),
        )
    )
    name = f"state_inspect_{uuid.uuid4().hex[:8]}"
    _run_bounded(
        spark,
        agg.writeStream.format("memory").queryName(name).outputMode("complete"),
        chk,
        stream_state_partitions(path),
    )
    state = spark.read.format("statestore").load(chk)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("cnt"),
        F.col("value.sum").alias("cents_total"),
    )


# --- Watermark-lateness audit -------------------------------------------------
# Choosing `withWatermark` delay is a data question: how late do this
# source's events actually arrive relative to the max event-time seen
# so far? This batch audit replays the stream's arrival order
# (event_id = ingestion sequence) in WM_BATCHES fixed micro-batch
# slices and, for each candidate delay, counts the events a watermark
# with that delay would have DROPPED (event time older than the
# watermark established by STRICTLY EARLIER batches — Spark advances
# the watermark between micro-batches, so intra-batch disorder never
# drops). The running max lives on the |WM_BATCHES|-row batch frame,
# never on the event stream — batch count is FIXED, so the audit is
# two narrow passes + a broadcast join at any scale.

WM_BATCHES = 24
WM_DELAYS_MS = (60_000, 900_000, 7_200_000)  # 1 min, 15 min, 2 h

_WM_ORACLE = f"""
    WITH ev AS (
        SELECT event_id, epoch_ms(ts) AS ms FROM events
        WHERE ts IS NOT NULL
    ),
    bounds AS (
        SELECT MIN(event_id) AS lo,
               MAX(event_id) - MIN(event_id) + 1 AS span
        FROM ev
    ),
    batched AS (
        SELECT ms,
               CAST(least((event_id - lo) * {WM_BATCHES} // span,
                          {WM_BATCHES - 1}) AS BIGINT) AS batch
        FROM ev CROSS JOIN bounds
    ),
    bstats AS (
        SELECT batch, MAX(ms) AS bmax FROM batched GROUP BY batch
    ),
    wm AS (
        SELECT batch,
               MAX(bmax) OVER (
                   ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max
        FROM bstats
    ),
    joined AS (
        SELECT b.ms, w.prev_max FROM batched b JOIN wm w USING (batch)
    )
    SELECT d.delay_ms,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN j.prev_max IS NOT NULL
                          AND j.ms < j.prev_max - d.delay_ms
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           floor(CAST(SUM(CASE WHEN j.prev_max IS NOT NULL
                                AND j.ms < j.prev_max - d.delay_ms
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 1e6 + 0.5) / 1e6 AS late_rate
    FROM joined j CROSS JOIN (
        VALUES {", ".join(f"({d})" for d in WM_DELAYS_MS)}
    ) d(delay_ms)
    GROUP BY d.delay_ms
"""


@register("watermark_lateness_audit", oracle=_WM_ORACLE)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per candidate watermark delay (1 min / 15 min / 2 h), how many
    events this source would have dropped: arrival order replayed in
    24 fixed batch slices, watermark = max event-time of strictly
    earlier batches minus the delay. The number that turns
    `withWatermark` tuning from folklore into measurement — pair with
    streaming_watermark_dedup, which assumes the delay is right.

    Scale shape: one narrow pass assigns batches by pure integer
    arithmetic on the arrival key (broadcast 1-row bounds), the
    running max runs over the FIXED 24-row batch frame (the
    un-partitioned window is over batches, never events), and the
    batch stats + delay grid re-join the stream as broadcasts. Two
    narrow passes + one ≤3-row aggregate regardless of scale."""
    # fan_out=False (r14): both passes over ev are trivial per-row
    # integer arithmetic feeding partial aggregates / broadcast joins;
    # the fan-out repartition doubled the full-data exchanges.
    ev = (
        table(spark, sf_dir, "events", fan_out=False)
        .where(F.col("ts").isNotNull())
        .select("event_id", F.unix_millis("ts").alias("ms"))
    )
    bounds = ev.agg(
        F.min("event_id").alias("lo"),
        (F.max("event_id") - F.min("event_id") + 1).alias("span"),
    )
    batched = ev.crossJoin(F.broadcast(bounds)).select(
        "ms",
        F.least(
            F.call_function(
                "div",
                (F.col("event_id") - F.col("lo")) * WM_BATCHES,
                F.col("span"),
            ),
            F.lit(WM_BATCHES - 1).cast("bigint"),
        )
        .cast("bigint")
        .alias("batch"),
    )
    bstats = batched.groupBy("batch").agg(F.max("ms").alias("bmax"))
    from pyspark.sql import Window as W

    wm = bstats.select(
        "batch",
        F.max("bmax")
        .over(
            W.orderBy("batch").rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("prev_max"),
    )
    delays = spark.createDataFrame(
        [(d,) for d in WM_DELAYS_MS], "delay_ms long"
    )
    joined = batched.join(F.broadcast(wm), "batch").crossJoin(
        F.broadcast(delays)
    )
    late = (
        F.col("prev_max").isNotNull()
        & (F.col("ms") < F.col("prev_max") - F.col("delay_ms"))
    ).cast("long")
    return joined.groupBy("delay_ms").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late).cast("bigint").alias("n_late"),
        qround(F.sum(late).cast("double") / F.count(F.lit(1))).alias(
            "late_rate"
        ),
    )
