"""Parquet table access over the driver's TPC-H-ish fixture layout.

The reference's sources are MySQL tables discovered via metadata
(reference tools/ingest_runner.py:1795-1810); here the warehouse layout
is one parquet file/dir per table under a scale-factor directory
(TESTDATA.md). ``sources/jdbc.py`` carries the real JDBC source; this
module is the test/bench substrate.

``table()`` reads with the schema of the pyarrow footer
(:func:`footer_schema`), so building a plan runs no Spark job; only a
path whose schema the footer cannot give (missing, partitioned or
empty directory, an unusual type) falls back to Spark's inference.
The footer schema maps a top-level ``TIMESTAMP(NANOS)`` column to
``long`` and a zone-less ``TIMESTAMP(MICROS)`` one to
``timestamp_ntz``; ``table()`` then turns both into plain
``timestamp``. Catalyst handles column pruning and predicate pushdown
into the scan, so callers should filter and select early and never
pre-materialize.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
    TimestampNTZType,
)

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
# through a given ``long`` schema and divided exactly) and
# TIMESTAMP(MICROS, isAdjustedToUTC=false) (surfaces as TIMESTAMP_NTZ,
# which Spark 4's unix_millis/window functions reject). ``table()``
# normalizes BOTH to plain TIMESTAMP so every downstream plan sees one
# type regardless of which encoding the fixture carries. The session
# zone is pinned UTC (session.py), so the NTZ→LTZ cast is exact.
_FOOTER_CACHE: dict[
    tuple[str, int, int], tuple[StructType | None, frozenset[str]]
] = {}

# Leaf arrow types whose ``from_arrow_type`` mapping is the type Spark's
# own parquet read gives the column. Anything else (unsigned ints,
# durations, times, nulls, float16, decimal256, ...) makes the footer
# schema None and the read falls back to Spark's inference.
_SAME_AS_SPARK = (
    pat.is_boolean, pat.is_int8, pat.is_int16, pat.is_int32, pat.is_int64,
    pat.is_float32, pat.is_float64, pat.is_decimal128, pat.is_string,
    pat.is_large_string, pat.is_binary, pat.is_large_binary, pat.is_date32,
    pat.is_timestamp,
)


def _spark_type(at: pa.DataType) -> DataType | None:
    """The type Spark's parquet read gives an arrow column, nullable at
    every level (a file read makes it so); None when unsure. A nested
    nanosecond timestamp is unsure: only top-level ones are mapped."""
    if pat.is_struct(at):
        fields = [_spark_type(f.type) for f in at]
        if None in fields:
            return None
        return StructType(
            [StructField(f.name, t, True) for f, t in zip(at, fields)]
        )
    if pat.is_list(at) or pat.is_large_list(at) or pat.is_fixed_size_list(at):
        element = _spark_type(at.value_type)
        return None if element is None else ArrayType(element, True)
    if pat.is_map(at):
        key, value = _spark_type(at.key_type), _spark_type(at.item_type)
        if key is None or value is None:
            return None
        return MapType(key, value, True)
    if pat.is_dictionary(at):
        return _spark_type(at.value_type)
    if pat.is_timestamp(at) and at.unit == "ns":
        return None
    if any(is_type(at) for is_type in _SAME_AS_SPARK):
        return from_arrow_type(at, prefer_timestamp_ntz=True)
    return None


def footer_schema(path: str) -> tuple[StructType | None, frozenset[str]]:
    """Spark schema and nanosecond-timestamp columns of the parquet
    table at ``path``, from the pyarrow footer: no Spark job runs.

    A directory probes its first part file (all parts share the
    writer's schema). The schema is what Spark's own read infers —
    ``from_arrow_type`` with NTZ for zone-less timestamps, every field
    nullable — except that a top-level INT64 ``TIMESTAMP(NANOS)``
    column is ``long``: Spark rejects the nanos annotation, and reads
    the raw int64 through a given ``long`` field. The schema is None
    (infer instead) for a missing path, a directory with no top-level
    part file (empty, or partitioned into subdirectories) and a type
    this mapping is not sure of. Cached per probed file, size and
    mtime, so a file rewritten in place is read again."""
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if not parts:
            return None, frozenset()
        path = os.path.join(path, parts[0])
    elif not os.path.isfile(path):
        return None, frozenset()
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _FOOTER_CACHE:
        import pyarrow.parquet as pq

        footer = pq.ParquetFile(path)
        int96 = {
            footer.schema.column(i).path
            for i in range(len(footer.schema))
            if footer.schema.column(i).physical_type == "INT96"
        }
        arrow = footer.schema_arrow
        ns = {
            f.name for f in arrow
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
            and f.name not in int96
        }
        # pyarrow shows a legacy INT96 timestamp as ns too; Spark reads
        # that one as a plain timestamp
        schema = _spark_type(pa.struct([
            f.with_type(pa.int64()) if f.name in ns
            else f.with_type(pa.timestamp("us", "UTC")) if f.name in int96
            else f
            for f in arrow
        ]))
        _FOOTER_CACHE[key] = (schema, frozenset(ns))
    return _FOOTER_CACHE[key]


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
    schema, ns_cols = footer_schema(path)
    if schema is None:
        df = spark.read.parquet(path)
        schema = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    ntz = {f.name for f in schema if isinstance(f.dataType, TimestampNTZType)}
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
