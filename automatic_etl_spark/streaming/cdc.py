"""CDC stream processing — Debezium envelope semantics on Spark
(SURVEY.md §2.9, §3.2).

The reference's CDC path: Debezium (MySQL binlog) → Kafka topics →
ClickHouse Kafka-engine table → MV → ``*_raw`` landing tables, with
envelope unwrap done either by the ExtractNewRecordState SMT
(``delete.handling.mode=rewrite`` adds ``__deleted``; reference
tools/discover_mysql_tables.py:239-242) or a Python consumer taking
``msg['after']`` (tools/kafka_to_clickhouse.py:56-110).

Spark-first mapping:
- Kafka-engine table + MV  →  ``readStream`` → ``writeStream.toTable``
- raw landing table (S9)   →  :func:`stamp_bronze` (ingested_at)
- SMT unwrap + rewrite (P8/P9/T8) → :func:`unwrap_envelope`
- ReplacingMergeTree reconciliation (T4) → window dedup per micro-batch
  via :func:`automatic_etl_spark.operators.dedup.latest_version` inside
  ``foreachBatch``

Scale notes: unwrap is stateless (no shuffle); the silver sink runs ONE
last-writer-wins window per micro-batch, over the raw batch unioned
with the silver partitions it touches, and shuffles only those rows.
Watermark + key dedup handles duplicate delivery (at-least-once, T1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


def envelope_schema(payload: StructType) -> StructType:
    """Debezium envelope: {before, after, source, op, ts_ms}."""
    return StructType(
        [
            StructField("before", payload, True),
            StructField("after", payload, True),
            StructField(
                "source",
                StructType([StructField("table", StringType(), True)]),
                True,
            ),
            StructField("op", StringType(), True),
            StructField("ts_ms", LongType(), True),
        ]
    )


def payload_schema_from_sample(spark, sample_json: str) -> StructType:
    """D6: infer the payload schema from one sample message — the
    reference's first-message probe (tools/kafka_to_clickhouse.py:53-95)
    done with Spark's JSON inference."""
    df = spark.read.json(spark.sparkContext.parallelize([sample_json]))
    return df.schema


def stamp_bronze(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """S9 raw landing shape: (ingested_at, value) with processing-time
    stamping (T3 — `ingested_at DateTime DEFAULT now()`)."""
    return raw.select(
        F.current_timestamp().alias("ingested_at"),
        F.col(value_col).cast("string").alias("value"),
    )


def parse_envelope(raw: DataFrame, payload: StructType, value_col: str = "value") -> DataFrame:
    """Kafka value string → typed envelope struct."""
    return raw.withColumn(
        "_env", F.from_json(F.col(value_col).cast("string"), envelope_schema(payload))
    )


def unwrap_envelope(parsed: DataFrame, env_col: str = "_env") -> DataFrame:
    """ExtractNewRecordState with delete rewrite (P9/T8): deletes keep
    the ``before`` image and get ``__deleted = true``; everything else
    takes ``after``. Adds ``_op`` and ``_ts_ms`` metadata columns.

    NULL envelopes are DROPPED (the SMT's drop-tombstones default):
    Debezium emits a null-value record after every delete
    (tombstones.on.delete=true) and from_json yields null for
    unparseable payloads — without the filter each becomes a ghost row
    with ``__deleted = NULL`` and all-null keys that survives the LWW
    dedup (nulls group together) and accumulates in silver, invisible
    to ``__deleted == false`` readers.

    ONE ``from_json`` per row (r15, guide §4): the envelope struct is
    flattened through ``inline(array(env))`` — a Generate evaluates
    its child exactly once per row, and CollapseProject cannot
    substitute the parse into downstream consumers through a
    generator. The previous extract-per-field form collapsed into the
    final projection, where each ``env.<field>`` reference became its
    own (OptimizeJsonExprs-pruned) from_json — every copy still
    re-tokenizes the full JSON document, so N partial parses cost
    ~N× one parse. ``inline`` of a 1-element array is row-preserving:
    a NULL envelope yields one all-NULL-field row (verified), which
    the mandatory-``op`` filter drops exactly as before — tombstone
    and unparseable-payload semantics are unchanged."""
    exploded = parsed.select(F.expr(f"inline(array(`{env_col}`))"))
    is_delete = F.col("op") == "d"
    record = F.when(is_delete, F.col("before")).otherwise(F.col("after"))
    return (
        exploded.where(F.col("op").isNotNull())
        .withColumn("_rec", record)
        .withColumn("__deleted", is_delete)
        .withColumn("_op", F.col("op"))
        .withColumn("_ts_ms", F.col("ts_ms"))
        .select("_rec.*", "__deleted", "_op", "_ts_ms")
    )


def cdc_microbatch_dedup(
    unwrapped: DataFrame, keys: list[str], version_cols: list[str | Column]
) -> DataFrame:
    """T4 last-writer-wins, one row per key (the reference defers this to
    ReplacingMergeTree; the silver sink runs it once per micro-batch)."""
    from automatic_etl_spark.operators.dedup import latest_version

    return latest_version(unwrapped, keys, version_cols)


def _path_exists(spark, path: str) -> bool:
    """Filesystem-agnostic probe for "silver table present" via the
    Hadoop FS API — a driver-local os.path check is always False on
    HDFS/S3, which would make the upsert sink silently treat an
    EXISTING silver table as absent and destroy its rows with a
    batch-only overwrite. A directory with no entry Spark's file index
    reads counts as absent: there is nothing to merge and reading it
    cannot infer a schema. That covers a pre-created empty target and
    the leftovers of a crashed first write (``.spark-staging-*``,
    ``_temporary``, a lone ``_SUCCESS``). Like the file index, an entry
    is skipped when its name starts with ``.``, or with ``_`` and holds
    no ``=`` (``_p=1`` is a partition directory). Existence is probed
    explicitly, never inferred from a broad except around the read: a
    schema-evolution or transient read error taken for "absent" would
    overwrite the committed silver state with one batch. Real errors
    fail the batch, and the checkpoint replays it."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    names = (st.getPath().getName() for st in fs.listStatus(hpath))
    return any(
        not (n.startswith(".") or (n.startswith("_") and "=" not in n))
        for n in names
    )


def foreach_batch_upsert_partitioned(
    target_path: str,
    keys: list[str],
    version_cols: list[str],
    partition_col: str,
):
    """foreachBatch sink: last-writer-wins merge of each micro-batch
    into a partitioned parquet silver table (T6) — the one CDC sink.

    Parquet has no MERGE, so the merge is read-modify-overwrite, pruned
    to the partitions the batch touches. The target is
    directory-partitioned on ``partition_col`` (which must be stable
    per key — e.g. a month bucket of the entity's creation date, the
    D3 layout) and each batch:

    1. collects the batch's distinct partition values (tiny driver
       list — bounded by partitions-per-batch, not data),
    2. reads ONLY those partitions back (directory pruning), with the
       schema of the sink's own last merge write: no Spark job to
       infer it. Only the first batch of a process that finds an
       existing silver table infers it. A batch whose columns differ
       from that schema still fails in ``unionByName``, so no column
       is dropped silently; the sink assumes it is silver's only
       writer,
    3. runs ONE last-writer-wins window over them unioned with the raw
       batch (LWW of ``silver ∪ batch`` = LWW of ``silver ∪ LWW(batch)``),
    4. overwrites ONLY those partitions
       (``partitionOverwriteMode=dynamic``).

    Untouched partitions are never read or written — per-batch cost is
    proportional to the batch's partition footprint, exactly the Delta
    ``MERGE INTO`` cost model, expressed with plain parquet.
    """
    written: StructType | None = None

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal written
        spark = batch_df.sparkSession
        values = [
            r[0]
            for r in batch_df.select(partition_col).distinct().collect()
        ]
        touched = [v for v in values if v is not None]
        has_null = len(touched) != len(values)
        if not values:
            return  # empty micro-batch
        rows = batch_df
        if _path_exists(spark, target_path):
            # NULL partition values land in Spark's default partition
            # directory; isin() never matches NULL, so they need an
            # explicit isNull() branch or the dynamic overwrite would
            # clobber the default partition without merging — silent
            # data loss for NULL partition keys.
            cond = (
                F.col(partition_col).isin(touched)
                if touched
                else F.lit(False)
            )
            if has_null:
                cond = cond | F.col(partition_col).isNull()
            reader = spark.read if written is None else spark.read.schema(written)
            existing = reader.parquet(target_path).filter(cond)
            rows = existing.unionByName(batch_df)
        merged = cdc_microbatch_dedup(rows, keys, version_cols)
        # per-WRITER dynamic overwrite: mutating the session-global
        # conf here would race with any concurrent writer on the same
        # SparkSession (ingest_many runs driver threads in parallel)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target_path)
        )
        written = merged.schema

    return _apply
