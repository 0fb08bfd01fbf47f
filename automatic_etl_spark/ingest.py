"""Batch ingestion pipeline (SURVEY.md §3.1 — the reference's main
entry point, re-expressed as one lazy Spark plan per table).

Reference shape (tools/ingest_runner.py:1598-1787): reflect schema →
ensure sink table → read in 50k-row pandas chunks → per-chunk clean
(C1-C19) → intra-chunk dedup (W3) → insert → post-pass staging dedup +
atomic rename (W1+W2) → count audit (Q1) → status JSON (Q6).

Spark collapses the chunk loop, the three per-chunk cleaning passes
and the post-pass dedup into ONE plan: scan → single cleaning
projection → window dedup → atomic overwrite write → audit. Partition
boundaries replace chunks; the staging-table + RENAME swap becomes the
write's atomic overwrite commit.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automatic_etl_spark.functions.cleaning import clean_table
from automatic_etl_spark.operators.audit import grand_total
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
    (per-key counts + verdict, Q1). The write is an atomic overwrite —
    the Spark analog of the reference's tmp-table + RENAME swap (W2).
    """
    expected = transform(source, spec)
    writer = expected.write.mode("overwrite")
    if spec.partition_by:
        writer = writer.partitionBy(*spec.partition_by)
    writer.parquet(target_path)

    sink = spark.read.parquet(target_path)
    key = spec.audit_key or (spec.dedup_keys[0] if spec.dedup_keys else None)
    if key is None:
        src_cnt = source.count()
        snk_cnt = sink.count()
        return spark.createDataFrame(
            [(src_cnt, snk_cnt, src_cnt - snk_cnt)],
            "src_cnt long, snk_cnt long, diff long",
        )
    # The VERDICT compares the EXPECTED end state (the clean+dedup
    # transform) against the sink — a raw-source comparison would flag
    # MISMATCH on every intended dedup shrink and could never separate
    # designed shrinkage from real loss. src_cnt stays in the report
    # so the shrinkage itself remains observable (diff = src - snk).
    # NULL-SAFE three-way pairing as union-then-aggregate, not three
    # full-outer equi-joins: a plain equi-join never matches NULL=NULL,
    # so a NULL audit key that reconciles perfectly would split into
    # exp-only/snk-only rows with spurious MISMATCH verdicts, while
    # groupBy treats NULL as an ordinary group. It is also the cheaper
    # plan — ONE shuffle on the key (map-side partial counts per
    # branch) instead of three groupBy exchanges plus join exchanges.
    # The union compares keys in the EXPECTED frame's type: when
    # clean_specs retypes the audit key (string source → int cleaned),
    # a positional union would widen back to string and '007' vs 7
    # would land in different groups, corrupting per-key diffs. The
    # explicit try_cast mirrors the numeric coercion the previous
    # equi-join audit applied; raw values that don't parse group under
    # NULL (they could never have matched a cleaned key anyway).
    exp_key_type = expected.schema[key].dataType

    def _tagged(df: DataFrame, s: int, e: int, k: int) -> DataFrame:
        kcol = F.col(key)
        if df.schema[key].dataType != exp_key_type:
            kcol = kcol.try_cast(exp_key_type)
        return df.select(
            kcol.alias(key),
            F.lit(s).alias("__src"),
            F.lit(e).alias("__exp"),
            F.lit(k).alias("__snk"),
        )

    unioned = (
        _tagged(source, 1, 0, 0)
        .unionAll(_tagged(expected, 0, 1, 0))
        .unionAll(_tagged(sink, 0, 0, 1))
    )
    counted = unioned.groupBy(key).agg(
        F.sum("__src").alias("src_cnt"),
        F.sum("__exp").alias("expected_cnt"),
        F.sum("__snk").alias("snk_cnt"),
    )
    return counted.select(
        key,
        "src_cnt",
        "expected_cnt",
        "snk_cnt",
        (F.col("src_cnt") - F.col("snk_cnt")).alias("diff"),
        F.when(F.col("expected_cnt") == F.col("snk_cnt"), F.lit("OK"))
        .otherwise(F.lit("MISMATCH"))
        .alias("verdict"),
    )


def ingest_status(audit: DataFrame) -> DataFrame:
    """Q6 status rollup: totals + overall verdict. The verdict rolls
    up the per-key verdicts (expected-vs-sink), NOT raw diff — a
    dedup-shrinking ingest is OK by design; grand_total's diff-based
    verdict stays the contract for the cross-table reconciliation,
    where no transform sits between source and sink."""
    if "verdict" not in audit.columns:
        return grand_total(audit)
    return audit.agg(
        F.sum("src_cnt").alias("src_total"),
        F.sum("snk_cnt").alias("snk_total"),
        F.sum("diff").alias("total_diff"),
        F.when(
            F.sum((F.col("verdict") != "OK").cast("int")) == 0, F.lit("OK")
        )
        .otherwise(F.lit("MISMATCH"))
        .alias("verdict"),
    )


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
            audit = ingest_table(spark, df, target, spec)
            return [row.asDict() for row in audit.collect()]

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
