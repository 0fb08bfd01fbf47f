"""Parquet table access over the driver's TPC-H-ish fixture layout.

The reference's sources are MySQL tables discovered via metadata
(reference tools/ingest_runner.py:1795-1810); here the warehouse layout
is one parquet file/dir per table under a scale-factor directory
(TESTDATA.md). ``sources/jdbc.py`` carries the real JDBC source; this
module is the test/bench substrate.

All reads go through ``spark.read.parquet`` — Catalyst handles column
pruning and predicate pushdown into the scan, so callers should filter
and select early and never pre-materialize.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# Fixture timestamp encodings have drifted across driver rounds:
# TIMESTAMP(NANOS) (rejected by Spark's converter — read as raw int64
# via legacy.parquet.nanosAsLong and divided exactly) and
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaces as TIMESTAMP_NTZ,
# which Spark 4's unix_millis/window functions reject). ``table()``
# normalizes BOTH to plain TIMESTAMP so every downstream plan sees one
# type regardless of which encoding the fixture carries. The session
# zone is pinned UTC (session.py), so the NTZ→LTZ cast is exact.
_NANOS_TS_CACHE: dict[tuple[str, int, int], list[str]] = {}
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _nanos_ts_columns(path: str) -> list[str]:
    if os.path.isdir(path):
        # directory-backed table: probe one part file (all parts
        # share the writer's encoding); empty dir -> no nanos
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    elif not os.path.isfile(path):
        return []
    # keyed on size and mtime too: a file rewritten in place in another
    # encoding must not reuse the old footer's answer
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _NANOS_TS_CACHE:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        _NANOS_TS_CACHE[key] = [
            field.name
            for field in pq.read_schema(path)
            if pat.is_timestamp(field.type) and field.type.unit == "ns"
        ]
    return _NANOS_TS_CACHE[key]


# Fixture files are written as ONE parquet row group, so a scan can
# never parallelize past one task per file no matter how small
# maxPartitionBytes is. Below this size we leave the table alone (dims
# like region/nation/supplier should stay broadcast-cheap); above it we
# repartition to the CPU budget so downstream per-row work (cleaning
# regexes, shingle md5s, from_json, cosine folds, mapInPandas) uses
# every core. At cluster scale files exceed cores × maxPartitionBytes,
# the scan already has enough splits, and this is a no-op — the
# decision is made from file size alone, no job is triggered.
_FAN_OUT_MIN_BYTES = 256 * 1024


_SIZE_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(value: str) -> int:
    v = value.strip().lower().removesuffix("b")
    if v and v[-1] in _SIZE_UNITS:
        return int(v[:-1]) * _SIZE_UNITS[v[-1]]
    return int(v)


def _scan_splits(spark: SparkSession, path: str) -> int:
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    return max(1, os.path.getsize(path) // max_bytes)


def table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = True
) -> DataFrame:
    """Load one fixture table lazily (scan node only, no action).

    The conditional fan-out repartition below is a LOCAL-fixture shim
    (single-row-group files can't split); at cluster scale it is a
    no-op. Note it also suppresses Catalyst's runtime bloom-filter
    injection (the rule wants the filter adjacent to the scan) — pass
    ``fan_out=False`` where runtime row-level pruning matters; on a
    real multi-row-group layout the condition never fires and bloom
    filters inject normally (see test_bloom_filter_runtime_pruning).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_ts_columns(path)
    if ns_cols and spark.conf.get(_NANOS_AS_LONG, "false") != "true":
        # get_spark sets this at build; bare driver-created sessions
        # need the runtime set to read these files at all. Setting it
        # only when unset keeps concurrent callers off the global conf.
        spark.conf.set(_NANOS_AS_LONG, "true")
    df = spark.read.parquet(path)
    ntz = {f.name for f in df.schema if isinstance(f.dataType, TimestampNTZType)}
    if ns_cols or ntz:
        df = df.select(*[
            F.timestamp_micros(F.expr(f"`{c}` div 1000")).alias(c)
            if c in ns_cols
            else F.col(f"`{c}`").cast("timestamp").alias(c)
            if c in ntz
            else F.col(f"`{c}`")
            for c in df.columns
        ])
    if fan_out and os.path.isfile(path):
        from automatic_etl_spark.session import default_parallelism

        target = default_parallelism()
        if (
            os.path.getsize(path) >= _FAN_OUT_MIN_BYTES
            and _scan_splits(spark, path) < target
        ):
            df = df.repartition(target)
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    fan_out: bool = True,
) -> dict[str, DataFrame]:
    """``fan_out=False`` for metadata-only consumers (COUNT(*)/schema
    census): the fan-out repartition would force full row
    materialization where the parquet footer answers for free."""
    return {
        name: table(spark, sf_dir, name, fan_out=fan_out) for name in names
    }


def register_views(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    fan_out: bool = True,
) -> None:
    """Expose the fixture tables to Spark SQL as temp views.

    ``fan_out=False`` for SQL-surface consumers whose plan is
    filter/join/agg only — same per-callsite rule as ``table()``."""
    for name in names:
        table(spark, sf_dir, name, fan_out=fan_out).createOrReplaceTempView(
            name
        )


def read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union of all part-file schemas
    (``mergeSchema``) — columns added by later writers surface as NULL
    on older rows (SURVEY.md §1.2 evolution note; the reference instead
    ALTERs every column Nullable post-hoc, D5)."""
    return spark.read.option("mergeSchema", "true").parquet(path)
