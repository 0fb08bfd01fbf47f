"""Batch ingestion pipeline (SURVEY.md §3.1 — the reference's main
entry point, re-expressed as one lazy Spark plan per table).

Reference shape (tools/ingest_runner.py:1598-1787): reflect schema →
ensure sink table → read in 50k-row pandas chunks → per-chunk clean
(C1-C19) → intra-chunk dedup (W3) → insert → post-pass staging dedup +
atomic rename (W1+W2) → count audit (Q1) → status JSON (Q6).

Spark collapses the chunk loop, the three per-chunk cleaning passes
and the post-pass dedup into ONE plan: scan → single cleaning
projection → window dedup → overwrite write → audit. Partition
boundaries replace chunks. The staging-table + RENAME swap has no
equivalent yet: the overwrite is NOT atomic — Spark deletes the target
before the write job runs, so a failed reload leaves it empty
(ROADMAP item 1). The plan runs once: the audit checks the sink
against an observation of the write instead of recomputing the load
(:func:`write_and_audit`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from automatic_etl_spark.functions.cleaning import clean_table
from automatic_etl_spark.operators.audit import count_by_key
from automatic_etl_spark.operators.dedup import latest_version


@dataclass
class IngestSpec:
    """Per-table ingestion config — the engine-side analog of the
    reference's CLI flags (--dedup, unique key, version column;
    ingest_runner.py:2054-2069)."""

    clean_specs: dict[str, dict] | None = None
    dedup_keys: tuple[str, ...] = ()
    version_cols: tuple[str, ...] = ()
    tiebreaker: tuple[str, ...] = ()
    audit_key: str | None = None
    partition_by: tuple[str, ...] = field(default_factory=tuple)


def transform(source: DataFrame, spec: IngestSpec) -> DataFrame:
    """The lazy clean→dedup plan (no write) — W3/W1 share one window."""
    out = source
    if spec.clean_specs:
        out = clean_table(out, spec.clean_specs)
    if spec.dedup_keys:
        out = latest_version(
            out, spec.dedup_keys, list(spec.version_cols), spec.tiebreaker
        )
    return out


def ingest_table(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    spec: IngestSpec,
) -> DataFrame:
    """Full pipeline for one table; returns the audit report DataFrame
    (per-key counts + verdict, Q1). The write is a plain overwrite,
    not the reference's atomic tmp-table + RENAME swap (W2): a failed
    write leaves the target empty.
    """
    schema, rows = write_and_audit(spark, source, target_path, spec)
    return spark.createDataFrame(rows, schema)


def write_and_audit(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    spec: IngestSpec,
) -> tuple[StructType, list[tuple]]:
    """Run the clean→dedup plan once into an overwrite of
    ``target_path`` and check the sink against that write. Returns the
    audit report's schema and rows.

    The write carries an ``Observation`` of the rows it wrote: their
    count and an order-independent checksum (the sum of the audit
    key's ``xxhash64``). One union-aggregate over the source and the
    sink read back gives per-key ``src_cnt``/``snk_cnt``. When the
    sink's totals equal the observed ones, the sink holds what the
    write produced, so ``expected_cnt = snk_cnt`` and every key is
    ``OK``. Otherwise the expected side is recomputed from the source
    and every key gets its own verdict: a wrong observation costs a
    recompute, never a false ``OK``. Verdicts compare the expected end
    state with the sink, not the raw source, which would flag every
    intended dedup shrink; ``diff = src - snk`` keeps the shrink
    visible.
    """
    key = spec.audit_key or (spec.dedup_keys[0] if spec.dedup_keys else None)
    seen = Observation()
    rows = F.count(F.lit(1)).alias("rows")
    if key is None:
        # src_cnt rides the write job as an observation on the source
        expected = transform(source.observe(seen, rows), spec)
        written = expected
    else:
        expected = transform(source, spec)
        written = expected.observe(
            seen,
            rows,
            # decimal(38,0): a sum of 64-bit hashes cannot overflow it
            F.sum(F.xxhash64(key).cast("decimal(38,0)")).alias("checksum"),
        )
    _write(written, target_path, spec)
    # Read back with the written schema: inference would cost a
    # footer-reading job and retype a string partition column ('007' → 7).
    sink = spark.read.schema(expected.schema).parquet(target_path)
    if key is None:
        src_cnt, snk_cnt = seen.get["rows"], sink.count()
        schema = StructType(
            [StructField(c, LongType()) for c in ("src_cnt", "snk_cnt", "diff")]
        )
        return schema, [(src_cnt, snk_cnt, src_cnt - snk_cnt)]

    key_type = expected.schema[key].dataType
    schema = StructType(
        [StructField(key, key_type)]
        + [
            StructField(c, LongType())
            for c in ("src_cnt", "expected_cnt", "snk_cnt", "diff")
        ]
        + [StructField("verdict", StringType())]
    )
    counts = (
        count_by_key(key, {"src_cnt": source}, sink)
        .select(key, "src_cnt", "snk_cnt", F.xxhash64(key))
        .collect()
    )
    wrote = seen.get
    if sum(n for _, _, n, _ in counts) == wrote["rows"] and sum(
        h * n for _, _, n, h in counts
    ) == int(wrote["checksum"] or 0):
        return schema, [(k, s, n, n, s - n, "OK") for k, s, n, _ in counts]

    report = count_by_key(
        key, {"src_cnt": source, "expected_cnt": expected}, sink
    ).select(
        key,
        "src_cnt",
        "expected_cnt",
        "snk_cnt",
        (F.col("src_cnt") - F.col("snk_cnt")).alias("diff"),
        F.when(F.col("expected_cnt") == F.col("snk_cnt"), F.lit("OK"))
        .otherwise(F.lit("MISMATCH"))
        .alias("verdict"),
    )
    return schema, [tuple(r) for r in report.collect()]


def _write(frame: DataFrame, target_path: str, spec: IngestSpec) -> None:
    """Overwrite ``target_path`` with ``frame``. Not atomic: Spark
    deletes the target before the write job runs."""
    writer = frame.write.mode("overwrite")
    if spec.partition_by:
        writer = writer.partitionBy(*spec.partition_by)
    writer.parquet(target_path)


def ingest_many(
    spark: SparkSession,
    sources: dict[str, tuple[DataFrame, str, IngestSpec]],
    max_workers: int = 4,
) -> dict:
    """Multi-table ingest fan-out (reference
    tools/multi_database_ingest.py:129-151 runs one subprocess per
    database, sequentially; here independent per-table phases run
    CONCURRENTLY on driver threads — Spark schedules their jobs side
    by side — with the same per-table failure isolation).

    ``sources[name] = (df, target_path, spec)``. Returns the Q6-style
    status report; failed tables appear with their error, successful
    ones with their audit rows. The audit rows are collected inside
    the table's phase, so a failing write or audit fails only its own
    table, after one attempt: Spark already retries failed tasks, and
    a job that still fails is not transient.
    """
    from automatic_etl_spark.orchestrator import Orchestrator, Phase, status_report

    def make_phase(name: str):
        df, target, spec = sources[name]

        def run(_):
            schema, rows = write_and_audit(spark, df, target, spec)
            return [dict(zip(schema.names, row)) for row in rows]

        return Phase(f"ingest_{name}", run)

    dag = Orchestrator()
    for name in sources:
        dag.add(make_phase(name))
    results = dag.run(spark, max_workers=max_workers)
    report = status_report(results)
    report["tables"] = {
        name: results[f"ingest_{name}"].output
        for name in sources
        if results[f"ingest_{name}"].status == "success"
    }
    return report
