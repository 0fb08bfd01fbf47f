"""Oracle-checked plan for the end-to-end batch ingest pipeline
(SURVEY.md §3.1): scan → clean → window dedup → overwrite write
→ read-back → count reconciliation. The oracle predicts the audit
report directly from the source."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from automatic_etl_spark.ingest import IngestSpec, ingest_table
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.scratch import scratch_dir
from automatic_etl_spark.sources.parquet import table


@register(
    "ingest_e2e",
    oracle="""
        WITH src AS (
            SELECT event_type, COUNT(*) AS src_cnt FROM events GROUP BY 1
        ),
        snk AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS snk_cnt
            FROM events GROUP BY 1
        )
        SELECT src.event_type,
               src_cnt,
               snk_cnt AS expected_cnt,
               snk_cnt,
               src_cnt - snk_cnt AS diff,
               'OK' AS verdict
        FROM src JOIN snk USING (event_type)
    """,
)
def ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest `events` as a versioned entity table: latest row per
    (user_id, event_type); the audit reports dedup shrinkage per type
    (sink count == distinct users per type)."""
    events = table(spark, sf_dir, "events")
    target = scratch_dir("ingest_e2e") + "/events_silver"
    spec = IngestSpec(
        dedup_keys=("user_id", "event_type"),
        version_cols=("ts",),
        tiebreaker=("event_id",),
        audit_key="event_type",
    )
    return ingest_table(spark, events, target, spec)


@register(
    "pipeline_e2e",
    oracle="""
        WITH latest AS (
            SELECT user_id, event_type, ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC NULLS LAST, event_id ASC
            ) AS rn
            FROM events
        ),
        snk AS (
            SELECT event_type, COUNT(*) AS snk_cnt
            FROM latest WHERE rn = 1 GROUP BY event_type
        ),
        src AS (
            SELECT event_type, COUNT(*) AS src_cnt FROM events GROUP BY 1
        )
        SELECT src.event_type, src_cnt,
               snk_cnt AS expected_cnt, snk_cnt,
               src_cnt - snk_cnt AS diff,
               'OK' AS verdict
        FROM src JOIN snk USING (event_type)
    """,
)
def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.1 phase DAG end-to-end through the orchestrator:
    schema_discovery → data_ingestion (clean+dedup+write) →
    analytics_views → full_audit, with per-phase validation — the
    reference's master_orchestrator flow (tools/master_orchestrator.py:
    60-229) collapsed onto Spark phases. Returns the final audit
    report; any failed phase raises."""
    import os

    from automatic_etl_spark.operators.views import create_analytics_views
    from automatic_etl_spark.orchestrator import Orchestrator, Phase, status_report

    base = scratch_dir("pipeline_e2e")
    state: dict = {}

    def discovery(_):
        tables = [
            f.removesuffix(".parquet")
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        ]
        state["tables"] = tables
        return tables

    def ingestion(_):
        events = table(spark, sf_dir, "events")
        spec = IngestSpec(
            dedup_keys=("user_id",),
            version_cols=("ts",),
            tiebreaker=("event_id",),
            audit_key="event_type",
        )
        state["audit"] = ingest_table(
            spark, events, f"{base}/events_silver", spec
        )
        return state["audit"]

    def views(_):
        silver = spark.read.parquet(f"{base}/events_silver")
        created = create_analytics_views(spark, {"pipeline_e2e_silver": silver})
        state["views"] = created
        return created

    def audit(_):
        return state["audit"]

    dag = (
        Orchestrator()
        .add(Phase("schema_discovery", discovery, validate=lambda t: "events" in t))
        .add(
            Phase(
                "data_ingestion",
                ingestion,
                depends_on=("schema_discovery",),
                validate=lambda df: df is not None,
            )
        )
        .add(Phase("analytics_views", views, depends_on=("data_ingestion",)))
        .add(Phase("full_audit", audit, depends_on=("data_ingestion",)))
    )
    results = dag.run(spark)
    report = status_report(results)
    if not report["success"]:
        raise RuntimeError(f"pipeline failed: {report}")
    return results["full_audit"].output


@register(
    "ingest_partitioned_e2e",
    oracle="""
        SELECT strftime(ts, '%Y%m') AS ts_month,
               COUNT(*) AS cnt,
               CAST(SUM(user_id) AS BIGINT) AS user_total
        FROM events GROUP BY 1
    """,
)
def ingest_partitioned_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 layout end-to-end: events classifies as a log table
    (name match + temporal column), gets month partitioning from
    `choose_layout`, is written through `write_with_layout`, and the
    read-back proves partition-directory integrity (counts per month
    partition == counts per source month)."""
    from automatic_etl_spark.operators.ddl import choose_layout, write_with_layout

    events = table(spark, sf_dir, "events")
    layout = choose_layout("events_log", events.schema)
    assert layout.table_kind == "log" and layout.partition_column == "ts"
    target = scratch_dir("ingest_part") + "/events_by_month"
    write_with_layout(events, target, layout)
    back = spark.read.parquet(target)
    from pyspark.sql import functions as F

    return back.groupBy(F.col("ts_month").cast("string").alias("ts_month")).agg(
        F.count("*").alias("cnt"),
        F.sum("user_id").alias("user_total"),
    )
