"""Oracle-checked plans for physical-layout and file-format sources:
bucketed co-located join (D1 extension) and CSV / JSON-lines readers.

The bucketed join writes both sides with the same bucket spec and then
joins WITHOUT a shuffle — tests/test_engine_layers.py asserts the
executed plan has no Exchange above the scans. The file-source plans
round-trip real data through the format and must reproduce the
parquet-derived aggregate exactly.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automatic_etl_spark.operators.ddl import write_bucketed
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import qround
from automatic_etl_spark.scratch import scratch_dir
from automatic_etl_spark.sources import files
from automatic_etl_spark.sources.parquet import table

BUCKETS = 8


def build_bucketed_join(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Write lineitem+orders bucketed by order key, return (joined
    pre-agg frame, aggregated result). Shared by the plan and the
    no-Exchange plan test."""
    run = uuid.uuid4().hex[:8]
    base = scratch_dir("bucketed")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lt, ot = f"li_bkt_{run}", f"od_bkt_{run}"
    write_bucketed(
        li, lt, ("l_orderkey",), BUCKETS,
        path=f"{base}/{lt}", sort_columns=("l_orderkey",),
    )
    write_bucketed(
        od, ot, ("o_orderkey",), BUCKETS,
        path=f"{base}/{ot}", sort_columns=("o_orderkey",),
    )
    # merge hint: model the fact-fact case where neither side
    # broadcasts — the shape bucketing exists for.
    joined = spark.table(lt).join(
        spark.table(ot).hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    rev_units = F.floor(
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        * F.lit(1e4) + F.lit(0.5)
    ).cast("long")
    agg = joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("line_cnt"),
        (F.sum(rev_units).cast("double") / F.lit(1e4)).alias("revenue"),
    )
    return joined, agg


@register(
    "bucketed_join_agg",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS line_cnt,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
)
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_bucketed_join(spark, sf_dir)[1]


@register(
    "csv_source_agg",
    oracle="""
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents_total,
               CAST(SUM(user_id) AS BIGINT) AS user_total
        FROM events GROUP BY event_type
    """,
)
def csv_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV on disk → explicit-schema read-back → aggregate.
    Integer cents pre-computed before the text roundtrip so the
    aggregate is representation-exact."""
    events = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).alias("cents"),
    )
    path = scratch_dir("csv_src") + "/events_csv"
    files.write_csv(events, path)
    back = files.read_csv(
        spark,
        path,
        schema="event_id long, user_id long, event_type string, cents long",
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("cents").alias("cents_total"),
        F.sum("user_id").alias("user_total"),
    )


@register(
    "json_source_agg",
    oracle="""
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents_total,
               MAX(event_id) AS max_event_id
        FROM events GROUP BY event_type
    """,
)
def json_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines on disk → schema read-back → aggregate."""
    events = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).alias("cents"),
    )
    path = scratch_dir("json_src") + "/events_json"
    files.write_json(events, path)
    back = files.read_json(
        spark, path, schema="event_id long, event_type string, cents long"
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("cents").alias("cents_total"),
        F.max("event_id").alias("max_event_id"),
    )


@register(
    "text_source_agg",
    oracle="""
        SELECT COUNT(*) AS line_cnt,
               CAST(SUM(length(text)) AS BIGINT) AS char_total,
               CAST(SUM(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> x <> ''))) AS BIGINT) AS ws_tokens
        FROM documents
    """,
)
def text_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → line-oriented text files → read-back →
    corpus stats. The raw-text ingestion path (one doc per line);
    fixture docs are newline-free so the roundtrip is lossless."""
    from automatic_etl_spark.functions import text as tx

    docs = table(spark, sf_dir, "documents", fan_out=False).select(
        F.col("text").alias("value")
    )
    path = scratch_dir("text_src") + "/docs_txt"
    files.write_text(docs, path)
    back = files.read_text(spark, path)
    return back.agg(
        F.count("*").alias("line_cnt"),
        F.sum(F.length("value")).alias("char_total"),
        F.sum(tx.token_count("value")).alias("ws_tokens"),
    )


@register(
    "orc_source_agg",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS cnt,
               (CAST(SUM(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   AS price_total
        FROM orders GROUP BY o_orderpriority
    """,
)
def orc_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC on disk → read-back → aggregate. ORC preserves
    native types (no text roundtrip concerns); its stripe statistics
    give the same pushdown/pruning properties as parquet."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = scratch_dir("orc_src") + "/orders_orc"
    files.write_orc(orders, path)
    back = files.read_orc(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"),
        (F.sum(F.floor((F.col("o_totalprice")) * F.lit(1e2) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e2))
        .alias("price_total"),
    )


# --- Merge-on-read parts + compaction (W4 extension, operators/mor.py) ------
# The ReplacingMergeTree part lifecycle the reference leans on
# (append parts → FINAL reads → background merge), replayed on a
# parquet part layout. Both queries below derive the SAME merged state
# — one through the FINAL-equivalent read-time merge, one through an
# actual compaction rewrite — so the oracle doubles as the
# merge/compact equivalence check under the hard signal.

_MOR_ORACLE = """
    SELECT event_type,
           COUNT(*) AS cnt,
           (CAST(SUM(CAST(floor((CASE WHEN event_id % 5 = 0
                                      THEN value + 1000
                                      ELSE value END) * 1e4 + 0.5)
                          AS BIGINT)) AS DOUBLE) / 1e4) AS value_sum
    FROM events
    WHERE event_id % 10 <> 0
    GROUP BY event_type
"""


def _build_mor_table(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic part layout from the events fixture: base = full
    snapshot, commit 1 = value upsert for every 5th event, commit 2 =
    tombstones for every 10th."""
    from automatic_etl_spark.operators import mor

    path = scratch_dir("mor")
    ev = table(spark, sf_dir, "events").withColumn(
        mor.DELETED, F.lit(False)
    )
    mor.write_base(ev, path)
    upserts = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", F.col("value") + 1000
    )
    mor.write_delta(upserts, path, commit=1)
    tombstones = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        mor.DELETED, F.lit(True)
    )
    mor.write_delta(tombstones, path, commit=2)
    return path


def _mor_rollup(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        (F.sum(F.floor((F.col("value")) * F.lit(1e4) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e4))
        .alias("value_sum"),
    )


@register("mor_merged_state", oracle=_MOR_ORACLE)
def mor_merged_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read path: rollup over the FINAL-equivalent view —
    union of 3 parts, one window shuffle by event_id, tombstones
    dropped. The upsert/tombstone pattern is exactly the reference's
    ReplacingMergeTree ver-column usage."""
    from automatic_etl_spark.operators import mor

    path = _build_mor_table(spark, sf_dir)
    return _mor_rollup(mor.merge_on_read(spark, path, keys=["event_id"]))


@register("mor_compacted_state", oracle=_MOR_ORACLE)
def mor_compacted_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-optimized path: compaction rewrites merged state as the
    new base, then the SAME rollup runs over a plain scan — no window,
    no merge work. Matching the identical oracle proves
    compact(merge) ≡ merge-on-read."""
    from automatic_etl_spark.operators import mor

    path = _build_mor_table(spark, sf_dir)
    stats = mor.compact(spark, path, keys=["event_id"])
    assert stats["parts_before"] == 3 and stats["parts_after"] == 1
    return _mor_rollup(mor.merge_on_read(spark, path, keys=["event_id"]))


# --- D5: schema evolution via mergeSchema (oracle-checked) -------------------


@register(
    "schema_evolution_agg",
    oracle="""
        SELECT COUNT(*) AS cnt,
               CAST(SUM(c_custkey) AS BIGINT) AS key_total,
               CAST(COUNT(nat) AS BIGINT) AS nat_present,
               CAST(COALESCE(SUM(nat), 0) AS BIGINT) AS nat_total
        FROM (
            SELECT c_custkey, CAST(NULL AS BIGINT) AS nat FROM customer
            UNION ALL
            SELECT c_custkey, c_nationkey FROM customer
        )
    """,
)
def schema_evolution_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 live: writer v1 lands 1 column set, writer v2 adds a column;
    ``read_merged`` (mergeSchema) surfaces the union schema with NULLs
    on the v1 rows — the correct-up-front evolution path vs the
    reference's post-hoc ALTER ... Nullable repair. The aggregate pins
    row conservation, NULL backfill, and value fidelity."""
    import os

    from automatic_etl_spark.sources.parquet import read_merged

    cust = table(spark, sf_dir, "customer")
    target = scratch_dir("evolve")
    cust.select("c_custkey").write.mode("append").parquet(
        os.path.join(target, "v=1")
    )
    cust.select("c_custkey", F.col("c_nationkey").alias("nat")).write.mode(
        "append"
    ).parquet(os.path.join(target, "v=2"))
    merged = read_merged(spark, target)
    return merged.agg(
        F.count("*").alias("cnt"),
        F.sum("c_custkey").alias("key_total"),
        F.count("nat").alias("nat_present"),
        F.coalesce(F.sum("nat"), F.lit(0)).alias("nat_total"),
    )


# --- Compaction / small-file audit (r6) ---------------------------------------
# The small-file problem is THE operational failure mode of large
# parquet lakes: a partitioned write WITHOUT co-partitioning first
# emits one file per (task × partition-value) — at 1000 tasks × 1000
# partition values that is a million files and the NameNode/metadata
# melt. The fix is the repartition-on-the-partition-column before
# partitionBy (each value lands in exactly one task → exactly one
# file per directory). This query RUNS that write, then audits the
# physical result by reading it back with input_file_name(): the
# per-directory file count must be exactly 1. The oracle knows the
# answer trivially — n_files=1 by construction and rows-per-bucket by
# value count — which is precisely the assertion: the physical layout
# must land where the logical plan says it should.

AUDIT_BUCKETS = 8


@register(
    "compaction_file_audit",
    oracle=f"""
        SELECT CAST(event_id % {AUDIT_BUCKETS} AS INT) AS bucket,
               CAST(1 AS BIGINT) AS n_files,
               COUNT(*) AS rows_in_bucket
        FROM events GROUP BY 1
    """,
)
def compaction_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by bucket = event_id % {8} with the
    anti-small-file repartition, read the directory back, and report
    per-bucket (n_files, rows) from ``input_file_name()``. n_files
    must be exactly 1 per bucket — the compaction contract the write
    pattern guarantees."""
    ev = table(spark, sf_dir, "events", fan_out=False).withColumn(
        "bucket", (F.col("event_id") % AUDIT_BUCKETS).cast("int")
    )
    target = scratch_dir("compact_audit")
    # One task per bucket value -> one file per partition directory.
    # Without this repartition, every task holding any bucket writes
    # its own fragment into that bucket's directory.
    ev.repartition(AUDIT_BUCKETS, "bucket").write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(target)
    back = spark.read.parquet(target)
    per_file = back.groupBy(
        F.col("bucket").cast("int").alias("bucket"),
        F.input_file_name().alias("file"),
    ).agg(F.count("*").alias("rows_in_file"))
    return per_file.groupBy("bucket").agg(
        F.count("*").alias("n_files"),
        F.sum("rows_in_file").alias("rows_in_bucket"),
    )


# --- Corrupt-record tolerance audit (r6) --------------------------------------
# The reference's ingest survives malformed source rows by nulling the
# bad cells and carrying on (tools/ingest_runner.py cleaning stages);
# the Spark-native equivalent for semi-structured input is PERMISSIVE
# parsing with columnNameOfCorruptRecord: a malformed line nulls every
# schema field and lands verbatim in _corrupt_record, so bad data is
# QUARANTINED and countable instead of killing the job (FAILFAST) or
# vanishing (DROPMALFORMED). This query plants a deterministic
# corruption (every event_id % 13 == 0 line made unparseable), reads
# through the tolerant path, and audits good-vs-corrupt — the oracle
# derives the same split from the clean table.

CORRUPT_MOD = 13


@register(
    "corrupt_records_audit",
    oracle=f"""
        SELECT CASE WHEN event_id % {CORRUPT_MOD} = 0
                    THEN '__corrupt__' ELSE event_type END AS status,
               COUNT(*) AS cnt,
               CAST(COALESCE(SUM(CASE WHEN event_id % {CORRUPT_MOD} <> 0
                                      THEN event_id END), 0) AS BIGINT)
                   AS id_total
        FROM events GROUP BY 1
    """,
)
def corrupt_records_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage events as JSON lines with every {13}th line corrupted,
    read back with an explicit schema in PERMISSIVE mode +
    _corrupt_record, and report (status, cnt, id_total) where corrupt
    lines quarantine under '__corrupt__' with all fields null."""
    ev = table(spark, sf_dir, "events", fan_out=False).select(
        "event_id", "event_type", "value"
    )
    line = F.to_json(F.struct("event_id", "event_type", "value"))
    corrupted = ev.select(
        F.when(
            F.col("event_id") % CORRUPT_MOD == 0,
            F.concat(F.lit("{{MALFORMED"), line),
        )
        .otherwise(line)
        .alias("value")
    )
    target = scratch_dir("corrupt_audit")
    files.write_text(corrupted, target)
    back = files.read_json(
        spark,
        target,
        schema=(
            "event_id long, event_type string, value double, "
            "_corrupt_record string"
        ),
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    status = F.when(
        F.col("_corrupt_record").isNotNull(), F.lit("__corrupt__")
    ).otherwise(F.col("event_type"))
    return back.groupBy(status.alias("status")).agg(
        F.count("*").alias("cnt"),
        F.coalesce(F.sum("event_id"), F.lit(0)).alias("id_total"),
    )


# --- Python DataSource connector (r6) -----------------------------------------
# Spark 4's pure-Python connector API (SPARK-44076) driven end-to-end:
# sources/pydatasource.py registers a deterministic generator
# connector (partition-planned, option-configured), and the oracle
# replays the integer row derivation over generate_series — a
# connector whose output is PROVABLE, not just runnable. This is the
# Spark-native answer to the reference's connector-config generation
# (S15, reference tools/gen_pipeline.py): connectors are code on the
# session, not JSON for an external runtime.

PYDS_ROWS = 10_000


@register(
    "python_datasource_scan",
    oracle=f"""
        WITH gen AS (
            SELECT i AS event_id,
                   (i * 2654435761) % 104729 AS user_id,
                   (i * 48271) % 100000 AS cents
            FROM generate_series(0, {PYDS_ROWS - 1}) t(i)
        )
        SELECT CAST(user_id % 10 AS BIGINT) AS cohort,
               COUNT(*) AS cnt,
               CAST(SUM(user_id) AS BIGINT) AS user_total,
               CAST(SUM(cents) AS BIGINT) AS cents_total
        FROM gen GROUP BY 1
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through the registered custom Python DataSource (8
    partitions, strided id assignment) and aggregate per user cohort.
    The value-hash match proves the connector's partition planning
    loses and duplicates nothing."""
    from automatic_etl_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format(pydatasource.FORMAT_NAME)
        .option("rows", str(PYDS_ROWS))
        .option("partitions", "8")
        .load()
    )
    return df.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.count("*").alias("cnt"),
        F.sum("user_id").alias("user_total"),
        F.sum("cents").alias("cents_total"),
    )


# --- XML source/sink (r6) -----------------------------------------------------
# Spark 4 ships spark-xml natively (SPARK-44265) — the remaining
# interchange format beside CSV/JSON/ORC/text. Same roundtrip
# discipline: integer cents pre-computed before the text roundtrip,
# explicit schema on read-back (XML inference is a second full pass
# AND a type guess).


@register(
    "xml_source_agg",
    oracle="""
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_total,
               CAST(SUM(user_id) AS BIGINT) AS user_total
        FROM events GROUP BY event_type
    """,
)
def xml_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → XML on disk → explicit-schema read-back → aggregate.
    Proves the native XML roundtrip is representation-exact."""
    events = table(spark, sf_dir, "events", fan_out=False).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).alias("cents"),
    )
    path = scratch_dir("xml_src") + "/events_xml"
    files.write_xml(events, path)
    back = files.read_xml(
        spark,
        path,
        schema="event_id long, user_id long, event_type string, cents long",
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("cents").alias("cents_total"),
        F.sum("user_id").alias("user_total"),
    )


# --- Min-max data-skipping audit ----------------------------------------------
# Parquet/Delta/Iceberg scan pruning lives on per-file min/max column
# stats: a range predicate skips every file whose [min, max] span
# misses it, and how much it skips is decided at WRITE time by layout.
# This audit quantifies it with deterministic stand-in "files": the
# same events rows bucketed (a) time-clustered — equi-width windows on
# the timestamp, the shape a date-partitioned or ts-sorted write
# produces — and (b) hash-scattered (pmod on the key, the shape an
# unsorted parallel write produces). Buckets replace physical files so
# BOTH engines can reproduce the assignment exactly (real file splits
# are writer-internal and not oracle-able); the stats math per bucket
# is identical to what a footer-stats reader does.

SKIP_FILES = 16
SKIP_PROBE_BUCKET = 3  # probe = exactly clustered bucket #3's window

_SKIP_ORACLE = f"""
    WITH ev AS (
        SELECT event_id, epoch_ms(ts) AS ms FROM events
        WHERE ts IS NOT NULL
    ),
    bounds AS (
        SELECT MIN(ms) AS lo, MAX(ms) AS hi,
               (MAX(ms) - MIN(ms)) // {SKIP_FILES} + 1 AS w
        FROM ev
    ),
    assigned AS (
        SELECT CAST(least((ms - lo) // w, {SKIP_FILES - 1}) AS BIGINT)
                   AS cl_bucket,
               CAST(event_id % {SKIP_FILES} AS BIGINT) AS hs_bucket,
               ms, lo, w
        FROM ev CROSS JOIN bounds
    ),
    layouts AS (
        SELECT 'clustered' AS layout, cl_bucket AS bucket, ms, lo, w
        FROM assigned
        UNION ALL
        SELECT 'hash_scattered', hs_bucket, ms, lo, w FROM assigned
    ),
    stats AS (
        SELECT layout, bucket,
               MIN(ms) AS bmin, MAX(ms) AS bmax,
               MIN(lo) AS lo, MIN(w) AS w,
               COUNT(*) AS rows_in_bucket
        FROM layouts GROUP BY layout, bucket
    )
    SELECT layout,
           COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN bmax >= lo + {SKIP_PROBE_BUCKET} * w
                          AND bmin <= lo + {SKIP_PROBE_BUCKET + 1} * w - 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
           floor((1.0 - CAST(SUM(CASE WHEN bmax >= lo
                                           + {SKIP_PROBE_BUCKET} * w
                                       AND bmin <= lo
                                           + {SKIP_PROBE_BUCKET + 1} * w - 1
                                      THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*)) * 1e6 + 0.5) / 1e6 AS skip_rate,
           floor(AVG(CAST(bmax - bmin AS DOUBLE)
                     / ({SKIP_FILES} * w - 1)) * 1e6 + 0.5) / 1e6
               AS avg_span_fraction
    FROM stats GROUP BY layout
"""


@register("minmax_skipping_audit", oracle=_SKIP_ORACLE)
def minmax_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-pruning effectiveness of two physical layouts under
    footer-stats (min/max) skipping: time-clustered buckets answer a
    one-window probe from 1 of 16 buckets (skip_rate ≈ 0.94,
    avg_span_fraction ≈ 1/16); hash-scattered buckets each span ~the
    whole timeline, so the same probe scans ALL of them (skip_rate 0).
    The number a 100 TB table owner acts on: clustering depth decides
    whether a time-range query reads gigabytes or the whole table —
    the quantitative companion to zorder_layout_stats (multi-dim) and
    compaction_file_audit (file count).

    Shape: one narrow pass computes epoch-ms, a broadcast 1-row
    bounds frame assigns both layouts' buckets in the same projection
    (each row costs two integer ops), one (layout × bucket)-keyed
    aggregate (≤ 2×SKIP_FILES groups), and a 2-row rollup. Integer
    epoch-ms arithmetic end-to-end; the only double is the final
    rounded ratio pair."""
    ev = (
        table(spark, sf_dir, "events", fan_out=False)
        .where(F.col("ts").isNotNull())
        .select("event_id", F.unix_millis("ts").alias("ms"))
    )
    bounds = ev.agg(
        F.min("ms").alias("lo"),
        F.max("ms").alias("hi"),
        (
            F.call_function(
                "div", F.max("ms") - F.min("ms"), F.lit(SKIP_FILES)
            )
            + 1
        ).alias("w"),
    )
    assigned = ev.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.call_function("div", F.col("ms") - F.col("lo"), F.col("w")),
            F.lit(SKIP_FILES - 1).cast("bigint"),
        )
        .cast("bigint")
        .alias("cl_bucket"),
        (F.col("event_id") % SKIP_FILES).cast("bigint").alias("hs_bucket"),
        "ms",
        "lo",
        "w",
    )
    layouts = assigned.select(
        F.lit("clustered").alias("layout"),
        F.col("cl_bucket").alias("bucket"),
        "ms", "lo", "w",
    ).unionByName(
        assigned.select(
            F.lit("hash_scattered").alias("layout"),
            F.col("hs_bucket").alias("bucket"),
            "ms", "lo", "w",
        )
    )
    stats = layouts.groupBy("layout", "bucket").agg(
        F.min("ms").alias("bmin"),
        F.max("ms").alias("bmax"),
        F.min("lo").alias("lo"),
        F.min("w").alias("w"),
        F.count(F.lit(1)).alias("rows_in_bucket"),
    )
    probe_lo = F.col("lo") + SKIP_PROBE_BUCKET * F.col("w")
    probe_hi = F.col("lo") + (SKIP_PROBE_BUCKET + 1) * F.col("w") - 1
    hits = F.sum(
        ((F.col("bmax") >= probe_lo) & (F.col("bmin") <= probe_hi))
        .cast("long")
    )
    return stats.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        hits.cast("bigint").alias("buckets_scanned"),
        qround(
            F.lit(1.0) - hits.cast("double") / F.count(F.lit(1))
        ).alias("skip_rate"),
        qround(
            F.avg(
                (F.col("bmax") - F.col("bmin")).cast("double")
                / (F.lit(SKIP_FILES) * F.col("w") - 1)
            )
        ).alias("avg_span_fraction"),
    )


# --- Dynamic partition overwrite (INSERT OVERWRITE semantics) -----------------

DPO_TARGET_TYPE = "click"

_DPO_ORACLE = f"""
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(
               CASE WHEN event_type = '{DPO_TARGET_TYPE}'
                    THEN value * 2 ELSE value END * 100)
               AS BIGINT)) AS BIGINT) AS cents_total
    FROM events GROUP BY event_type
"""


@register("dynamic_partition_overwrite_agg", oracle=_DPO_ORACLE)
def dynamic_partition_overwrite_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INSERT OVERWRITE with partitionOverwriteMode=dynamic exercised
    end-to-end: events land partitioned by event_type, then a restated
    batch containing ONLY the DPO_TARGET_TYPE slice (values doubled) is
    written with mode("overwrite") — dynamic mode replaces exactly the
    partitions present in the incoming frame and leaves the other four
    directories untouched (asserted file-identical by the companion
    unit; STATIC mode, the default, would have deleted them). The
    read-back aggregate must equal the oracle's restated whole-table
    state — the backfill correctness contract a daily-partitioned
    100 TB table relies on every time one day is recomputed.

    The doubled value is an exact IEEE ×2 (exponent bump), so
    floor(v'*100) is identical on both engines. The mode is a
    per-writer option, so the session conf (and any concurrent writer
    on it) never sees it."""
    from automatic_etl_spark.scratch import scratch_dir

    ev = table(spark, sf_dir, "events", fan_out=False)
    # ONE fixed per-(process, site) target, cleared at call start: a
    # fresh mkdtemp per call leaked one tree per bench/test invocation,
    # and deleting it before returning forced a localCheckpoint that
    # made the returned plan a bare checkpoint scan — vacuous under the
    # fingerprint gate. scratch_dir's clear-at-start also evicts stale
    # partitions a previous call at a different SF would otherwise
    # leave for the dynamic overwrite to miss, and its pid component
    # keeps concurrent processes off each other's live partitions.
    target = scratch_dir("dpo_audit")
    ev.repartition(5, "event_type").write.partitionBy(
        "event_type"
    ).mode("overwrite").parquet(target)
    restated = (
        ev.where(F.col("event_type") == DPO_TARGET_TYPE)
        .withColumn("value", F.col("value") * 2)
        .repartition(1)
    )
    restated.write.option("partitionOverwriteMode", "dynamic").partitionBy(
        "event_type"
    ).mode("overwrite").parquet(target)
    back = spark.read.parquet(target)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents_total"),
    )
