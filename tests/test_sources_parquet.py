"""``sources/parquet``: the footer schema equals what Spark's own read
infers, ``table()`` reads with it (no inference job, no conf write),
and the nanos/NTZ normalisation still holds on a session without
``nanosAsLong``."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from automatic_etl_spark.session import session_conf
from automatic_etl_spark.sources.parquet import TABLES, footer_schema, table

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_WHEN = datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)


def _inferred(spark, path):
    # Spark's own inference rejects TIMESTAMP(NANOS) unless the legacy
    # conf reads it as long, which is the footer schema's mapping
    with session_conf(spark, {_NANOS_AS_LONG: "true"}):
        return spark.read.parquet(path).schema


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_footer_schema_matches_inference_on_fixtures(spark, sf_dir):
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        schema, _ = footer_schema(path)
        assert schema == _inferred(spark, path), name


def test_footer_schema_matches_inference_on_written_files(spark, tmp_path):
    ts = [_WHEN, None]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}),
        str(tmp_path / "nanos.parquet"),
    )
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("us"))}),
        str(tmp_path / "ntz.parquet"),
    )
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}),
        str(tmp_path / "int96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    pq.write_table(
        pa.table({
            "v": pa.array([[0.5, 1.5], None], pa.list_(pa.float32())),
            "s": pa.array([{"a": 1, "b": "x"}, None],
                          pa.struct([("a", pa.int32()), ("b", pa.string())])),
        }),
        str(tmp_path / "nested.parquet"),
    )
    (tmp_path / "dir.parquet").mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({"k": [i], "ts": pa.array([_WHEN], pa.timestamp("ns"))}),
            str(tmp_path / "dir.parquet" / f"part-{i}.parquet"),
        )
    spark.createDataFrame(
        [(1, 2, "a", _WHEN, datetime.date(2024, 1, 2), [1.0], {"k": 3})],
        "b tinyint, s smallint, t string, ts timestamp, d date, "
        "a array<double>, m map<string,int>",
    ).selectExpr("*", "cast(3.25 as decimal(9,2)) as dec").write.parquet(
        str(tmp_path / "spark.parquet")
    )
    ns_cols = {
        "nanos": {"ts"}, "ntz": set(), "int96": set(), "nested": set(),
        "dir": {"ts"}, "spark": set(),
    }
    for name, ns in ns_cols.items():
        path = str(tmp_path / f"{name}.parquet")
        schema, got_ns = footer_schema(path)
        assert schema == _inferred(spark, path), name
        assert got_ns == ns, name


def test_footer_schema_falls_back_where_unsure(tmp_path):
    """Types whose arrow mapping differs from Spark's read, a
    partitioned directory and a missing path give no schema."""
    pq.write_table(
        pa.table({"d": pa.array([datetime.timedelta(1)], pa.duration("us"))}),
        str(tmp_path / "dur.parquet"),
    )
    (tmp_path / "part.parquet" / "k=1").mkdir(parents=True)
    pq.write_table(
        pa.table({"x": [1]}), str(tmp_path / "part.parquet" / "k=1" / "p.parquet")
    )
    for name in ("dur", "part", "missing"):
        assert footer_schema(str(tmp_path / f"{name}.parquet"))[0] is None, name


def test_table_reads_nanos_without_nanos_as_long(spark, tmp_path):
    """A session whose ``nanosAsLong`` is off (a bare Spark session)
    still reads a TIMESTAMP(NANOS) fixture as ``timestamp``, and
    ``table()`` leaves the conf as it found it."""
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([_WHEN], pa.timestamp("ns"))}),
        str(tmp_path / "t.parquet"),
    )
    with session_conf(spark, {_NANOS_AS_LONG: "false"}):
        df = table(spark, str(tmp_path), "t")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        assert df.collect()[0]["ts"] == _WHEN
        assert spark.conf.get(_NANOS_AS_LONG) == "false"


def test_table_missing_path_raises(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        table(spark, str(tmp_path), "absent")


def test_card_plans_build_without_a_spark_job(spark, sf_dir):
    """Building a registry plan reads the footer with pyarrow: the
    ``count_star`` and ``recent_n`` cards run no Spark job until they
    are collected (inferring the schema ran one per build)."""
    from automatic_etl_spark.plans.all_plans import REGISTRY

    for name in ("count_star", "recent_n"):
        fn = REGISTRY[name][0]
        assert _jobs(spark, f"build-{name}", lambda: fn(spark, sf_dir)) == 0, name
