"""DDL / physical-layout operators (SURVEY.md §2.8 D1-D8).

The reference synthesizes ClickHouse MergeTree DDL — engine choice,
ORDER BY keys (nullable-excluded), PARTITION BY toYYYYMM for log-like
tables (reference tools/ingest_runner.py:1227-1346,
tools/create_clickhouse_models.py:46-222). Spark-first mapping:

- engine/ORDER BY     → table format + sort columns
  (``sortWithinPartitions`` at write; Z-ORDER on Delta)
- PARTITION BY month  → ``partitionBy(year_month)`` directory layout
  (partition pruning is then free at read)
- ReplacingMergeTree  → 'upsert' policy flag consumed by the ingest
  pipeline (MERGE / dedup-view, SURVEY §4 risk #1)
- index_granularity   → N/A (parquet row-group sizing)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructType, TimestampNTZType, TimestampType

# D3 heuristics (create_clickhouse_models.py:46-68,137-156).
LOG_NAME_PATTERN = re.compile(r"log|audit|bitacora|history|event", re.I)
REFERENCE_NAME_PATTERN = re.compile(r"catalogo|tipo|status|config", re.I)
VERSION_COLUMN_CANDIDATES = (
    # dedup version columns, in priority order (ingest_runner.py:1397)
    "factualizacion",
    "fcreacion",
    "updated_at",
    "fecha_actualizacion",
    "ts",
)


@dataclass
class TableLayout:
    """Physical design decision for one table (the D1 output)."""

    table_kind: str  # 'log' | 'reference' | 'default'
    sort_columns: tuple[str, ...] = ()
    partition_column: str | None = None  # month-partition source col
    upsert: bool = False  # ReplacingMergeTree analog
    version_column: str | None = None


def _temporal_columns(schema: StructType) -> list[str]:
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (TimestampType, TimestampNTZType, DateType))
    ]


def choose_layout(
    table_name: str, schema: StructType, primary_keys: tuple[str, ...] = ()
) -> TableLayout:
    """D2+D3: classify the table and pick sort/partition columns.

    - log-like name + temporal column → month-partitioned append table
    - reference-like name → upsert (ReplacingMergeTree analog)
    - else → plain sorted table
    Sort keys: PKs first; non-nullable preferred, fallback to the first
    non-nullable column, else none (the reference's ``tuple()``).
    """
    temporal = _temporal_columns(schema)
    non_nullable = [f.name for f in schema.fields if not f.nullable]
    sort_cols = tuple(primary_keys) or tuple(non_nullable[:1])

    version = next(
        (c for c in VERSION_COLUMN_CANDIDATES if c in schema.fieldNames()), None
    )
    # Reference-table check first: 'catalogo' would otherwise match the
    # log pattern through its embedded 'log'.
    if REFERENCE_NAME_PATTERN.search(table_name):
        return TableLayout(
            "reference", sort_columns=sort_cols, upsert=True, version_column=version
        )
    if LOG_NAME_PATTERN.search(table_name) and temporal:
        return TableLayout(
            "log",
            sort_columns=sort_cols,
            partition_column=temporal[0],
            version_column=version,
        )
    return TableLayout("default", sort_columns=sort_cols, version_column=version)


def month_column(c: str) -> F.Column:
    """toYYYYMM analog: 'yyyyMM' partition value (D3)."""
    return F.date_format(F.col(c), "yyyyMM").alias(f"{c}_month")


def write_with_layout(df: DataFrame, path: str, layout: TableLayout) -> None:
    """D1: apply the layout at write time. Month partitioning yields
    pruning-friendly directories; sortWithinPartitions gives parquet
    row-group locality on the sort key (the ORDER BY analog)."""
    out = df
    writer_cols: list[str] = []
    if layout.partition_column:
        # derived via month_column so the write path and the DDL
        # synthesis can never drift on the partition-value format
        out = out.withColumn(
            f"{layout.partition_column}_month",
            month_column(layout.partition_column),
        )
        writer_cols = [f"{layout.partition_column}_month"]
    if layout.sort_columns:
        out = out.sortWithinPartitions(*layout.sort_columns)
    writer = out.write.mode("overwrite")
    if writer_cols:
        writer = writer.partitionBy(*writer_cols)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_columns: tuple[str, ...],
    num_buckets: int,
    path: str | None = None,
    sort_columns: tuple[str, ...] = (),
) -> None:
    """Hash-bucketed table write — the co-located-join layout.

    Both sides of a recurring join written with the SAME bucket spec
    join WITHOUT a shuffle: the scan exposes its bucketing as the
    join's required distribution, so the Exchange disappears from the
    plan. This is the Spark analog of the reference's fixed MergeTree
    ORDER BY locality, upgraded to actually co-locate join keys — at
    100 TB it converts every fact-fact join on the bucket key from a
    full shuffle into a local zip of bucket files.

    One repartition to ``num_buckets`` on the bucket columns up front
    gives one file per bucket, which also lets the sorted-scan path
    kick in when ``sort_columns`` match the join keys.
    """
    out = df.repartition(num_buckets, *[F.col(c) for c in bucket_columns])
    writer = out.write.mode("overwrite").bucketBy(num_buckets, *bucket_columns)
    if sort_columns:
        writer = writer.sortBy(*sort_columns)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def create_table_sql(
    name: str, schema: StructType, layout: TableLayout, location: str | None = None
) -> str:
    """D1 DDL synthesis for the Spark catalog (USING parquet).

    Partitioned layouts DEFINE the derived month column in the table
    schema: Spark rejects PARTITIONED BY over a column absent from
    the column list (this path previously emitted un-executable DDL —
    the old test string-asserted the clause without running it)."""
    col_defs = [
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    ]
    if layout.partition_column:
        col_defs.append(f"`{layout.partition_column}_month` string")
    cols = ", ".join(col_defs)
    parts = [f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet"]
    if layout.partition_column:
        parts.append(f"PARTITIONED BY (`{layout.partition_column}_month`)")
    if location:
        parts.append(f"LOCATION '{location}'")
    return " ".join(parts)


def bootstrap_databases(spark: SparkSession, connections: list[str]) -> list[str]:
    """D8: one ``{conn}_analytics`` database per source connection
    (reference bootstrap/generate_multi_databases.py:48-230)."""
    created = []
    for conn in connections:
        db = f"{conn}_analytics"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        created.append(db)
    return created


def cleanup_catalog(
    spark: SparkSession,
    database: str,
    min_rows: int = 10,
    keep_patterns: tuple[str, ...] = (),
) -> list[str]:
    """D7: drop tables below the usefulness threshold unless matched by
    a keep pattern (reference tools/schema_cleaner.py:44-120).

    Session temp views appear in EVERY database's ``listTables`` and
    cannot be database-qualified — only real catalog tables are
    cleanup candidates (found live: a leftover temp view from an
    earlier query made the qualified lookup throw)."""
    dropped = []
    for tbl in spark.catalog.listTables(database):
        if tbl.isTemporary:
            continue
        full = f"{database}.{tbl.name}"
        if any(re.search(p, tbl.name) for p in keep_patterns):
            continue
        if spark.table(full).limit(min_rows).count() < min_rows:
            spark.sql(f"DROP TABLE {full}")
            dropped.append(full)
    return dropped
