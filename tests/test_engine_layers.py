"""Unit tests: schema mapping, JDBC option building, DDL layout
heuristics, profiling, orchestrator DAG (SURVEY.md §1.3, §2.1, §2.8,
§2.11)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
)

from automatic_etl_spark.operators import ddl, profile
from automatic_etl_spark.orchestrator import (
    Orchestrator,
    Phase,
    RecoverableError,
    status_report,
)
from automatic_etl_spark.session import session_conf
from automatic_etl_spark.sources import jdbc, schema as sch


def test_mysql_type_mapping():
    assert isinstance(sch.mysql_type_to_spark("tinyint(1)"), BooleanType)
    assert isinstance(sch.mysql_type_to_spark("int(11)"), IntegerType)
    assert isinstance(sch.mysql_type_to_spark("bigint unsigned"), LongType)
    assert sch.mysql_type_to_spark("decimal(10,2)") == DecimalType(10, 2)
    assert sch.mysql_type_to_spark("decimal") == DecimalType(18, 6)
    assert isinstance(sch.mysql_type_to_spark("datetime(3)"), TimestampType)
    assert isinstance(sch.mysql_type_to_spark("mediumtext"), StringType)
    assert isinstance(sch.mysql_type_to_spark("whatever"), StringType)


def test_reflect_to_struct_pk_not_nullable():
    cols = [
        {"name": "id", "mysql_type": "int", "nullable": True, "primary_key": True},
        {"name": "nombre", "mysql_type": "varchar(50)", "nullable": True},
    ]
    st = sch.reflect_to_struct(cols)
    assert st.fields[0].nullable is False  # PK forced NOT NULL
    assert st.fields[1].nullable is True


def test_clean_specs_from_columns():
    specs = sch.clean_specs_from_columns(
        [
            {"name": "id", "mysql_type": "int", "primary_key": True, "nullable": False},
            {"name": "f", "mysql_type": "datetime", "nullable": True},
            {"name": "t", "mysql_type": "time", "nullable": True},
        ]
    )
    assert specs["id"] == {"kind": "integer", "nullable": False, "pk": True}
    assert specs["f"]["kind"] == "temporal"
    assert specs["t"]["kind"] == "time"


def test_jdbc_scan_options_partitioned():
    src = jdbc.JdbcSource(url="jdbc:mysql://h:3306/db", user="u", password="p")
    opts = jdbc.scan_options(
        src, "db.t", partition_column="id", lower_bound=0, upper_bound=1000,
        num_partitions=8,
    )
    assert opts["dbtable"] == "db.t"
    assert opts["numPartitions"] == "8"
    assert opts["fetchsize"] == "50000"
    limited = jdbc.scan_options(src, "db.t", limit=100)
    assert "LIMIT 100" in limited["dbtable"]


def test_jdbc_filter_tables_system_guard():
    tables = [("mysql", "user"), ("app", "orders"), ("app", "tmp")]
    assert jdbc.filter_tables(tables) == [("app", "orders"), ("app", "tmp")]
    assert jdbc.filter_tables(tables, include=["orders"]) == [("app", "orders")]
    assert jdbc.filter_tables(tables, exclude=["app.tmp"]) == [("app", "orders")]
    assert ("mysql", "user") in jdbc.filter_tables(tables, allow_system_schemas=True)


def test_ddl_layout_heuristics(spark):
    from automatic_etl_spark.sources.parquet import table

    events_schema = table(spark, "/root/testdata/sf0.001", "events").schema
    layout = ddl.choose_layout("user_events_log", events_schema, ("event_id",))
    assert layout.table_kind == "log"
    assert layout.partition_column == "ts"
    assert layout.version_column == "ts"

    ref_layout = ddl.choose_layout("catalogo_tipos", events_schema)
    assert ref_layout.table_kind == "reference" and ref_layout.upsert

    plain = ddl.choose_layout("plain", events_schema)
    assert plain.table_kind == "default"


def test_ddl_write_with_layout_partitions(spark, tmp_path):
    from automatic_etl_spark.sources.parquet import table

    events = table(spark, "/root/testdata/sf0.001", "events")
    layout = ddl.choose_layout("events_log", events.schema, ("event_id",))
    target = str(tmp_path / "events_log")
    ddl.write_with_layout(events, target, layout)
    back = spark.read.parquet(target)
    assert back.count() == events.count()
    assert "ts_month" in back.columns  # partition column materialized
    # partition pruning: the month filter must land in PartitionFilters
    # (directory-level skip), not in the row-level data filters
    pruned = back.filter(back.ts_month == "202401")
    assert pruned.count() > 0
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ts_month" in plan


def test_create_table_sql():
    from automatic_etl_spark.sources.schema import reflect_to_struct

    st = reflect_to_struct(
        [{"name": "id", "mysql_type": "int", "primary_key": True},
         {"name": "fcreacion", "mysql_type": "datetime"}]
    )
    layout = ddl.TableLayout("log", ("id",), partition_column="fcreacion")
    sql = ddl.create_table_sql("db.t", st, layout)
    assert "CREATE TABLE IF NOT EXISTS db.t" in sql
    assert "PARTITIONED BY (`fcreacion_month`)" in sql


def test_json_schema_contract_golden(tmp_path):
    """Golden-file parity with the reference's per-table draft-07
    emission (tools/gen_pipeline.py:83-111) for an `archivos`-shaped
    table: int PK + string name + datetime + decimal size + nullable
    blob payload."""
    import json

    from pyspark.sql import types as T

    from automatic_etl_spark.operators import contracts

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), nullable=False),
            T.StructField("nombre", T.StringType(), nullable=False),
            T.StructField("fecha", T.TimestampType(), nullable=True),
            T.StructField("tamano", T.DecimalType(18, 2), nullable=True),
            T.StructField("contenido", T.BinaryType(), nullable=True),
            T.StructField("activo", T.BooleanType(), nullable=False),
        ]
    )
    path = contracts.write_table_contract(
        schema, "gestor", "archivos", str(tmp_path)
    )
    assert path.endswith("gestor.archivos.schema.json")
    golden = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "title": "gestor.archivos",
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "nombre": {"type": "string"},
            "fecha": {"type": "string"},
            "tamano": {"type": "number"},
            "contenido": {"type": "string"},
            "activo": {"type": "boolean"},
        },
        "required": ["id", "nombre", "activo"],
    }
    assert json.loads(open(path, encoding="utf-8").read()) == golden
    # auto-increment-style exemption (the reference drops defaulted /
    # auto_increment columns from `required`)
    relaxed = contracts.struct_to_json_schema(
        schema, "gestor.archivos", optional={"id"}
    )
    assert relaxed["required"] == ["nombre", "activo"]


def test_contracts_for_fixture_dir(spark, sf_dir, tmp_path):
    import json

    from automatic_etl_spark.operators import contracts

    paths = contracts.write_contracts_for_dir(
        spark, sf_dir, "testdata", str(tmp_path)
    )
    assert len(paths) == 10
    li = json.loads(
        open(tmp_path / "testdata.lineitem.schema.json", encoding="utf-8").read()
    )
    assert li["properties"]["l_orderkey"] == {"type": "integer"}
    assert li["properties"]["l_extendedprice"] == {"type": "number"}
    emb = json.loads(
        open(tmp_path / "testdata.embeddings.schema.json", encoding="utf-8").read()
    )
    assert emb["properties"]["embedding"]["type"] == "array"


def test_bi_spec_emission_golden(spark, sf_dir, tmp_path):
    """Superset dataset + Metabase card spec artifacts match the
    reference's registration semantics (configure_datasets.py:324-433;
    create_working_metabase_questions.py:77-121)."""
    import json

    from automatic_etl_spark.operators import bi_specs

    out = bi_specs.emit_bi_specs(spark, sf_dir, "analytics", str(tmp_path))
    datasets = {d["table_name"]: d for d in out["superset_datasets.json"]}
    assert len(datasets) == 10

    ev = datasets["events"]
    assert ev["main_dttm_col"] == "ts"  # first temporal column wins
    by_col = {c["column_name"]: c for c in ev["columns"]}
    assert by_col["ts"]["is_dttm"] is True
    assert by_col["event_id"]["is_dttm"] is False
    # region has no temporal column → no default time column
    assert datasets["region"]["main_dttm_col"] is None

    cards = out["metabase_cards.json"]
    # scalar + preview per table, plus one summary
    assert len(cards) == 21
    scalar = next(c for c in cards if c["name"] == "Total events")
    assert scalar == {
        "name": "Total events",
        "sql": "SELECT COUNT(*) AS total_events FROM analytics.events",
        "display": "scalar",
    }
    recent = next(c for c in cards if c["name"] == "Recent events")
    assert "ORDER BY ts DESC" in recent["sql"] and "LIMIT 10" in recent["sql"]
    summary = cards[-1]
    assert summary["name"] == "Resumen General"
    assert summary["sql"].count("UNION ALL") == 9
    # artifacts really landed on disk as valid JSON
    loaded = json.loads(
        open(tmp_path / "metabase_cards.json", encoding="utf-8").read()
    )
    assert loaded == cards


def test_profile_columns(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "id int, s string"
    )
    rows = {r.column: r for r in profile.profile_columns(df).collect()}
    assert rows["id"].distinct_cnt == 2 and rows["id"].null_cnt == 0
    assert rows["s"].null_cnt == 1 and rows["s"].min_value == "a"


def test_observe_cleaning_stats(spark):
    df = spark.createDataFrame([(None,), ("2020-01-01",)], "f string")
    from automatic_etl_spark.functions.cleaning import sanitize_dates

    cleaned = df.select(sanitize_dates("f").alias("f"))
    observed, obs = profile.observed_cleaning_stats(cleaned, ["f"])
    observed.collect()
    assert obs.get["rows"] == 2 and obs.get["f_nulls"] == 1


def test_validate_source_isolation(spark):
    ok = profile.validate_source(
        lambda: spark.createDataFrame([(1,)], "x int")
    )
    assert ok["ok"] and ok["columns"] == ["x"]
    bad = profile.validate_source(lambda: spark.read.parquet("/nonexistent"))
    assert bad["ok"] is False and bad["error"]


def test_orchestrator_dag_retries_and_skip():
    calls = {"flaky": 0}

    def flaky(_):
        calls["flaky"] += 1
        if calls["flaky"] < 3:
            raise RecoverableError("transient")
        return "ok"

    def boom(_):
        raise RuntimeError("fatal")

    orch = (
        Orchestrator()
        .add(Phase("a", lambda _: 1))
        .add(Phase("flaky", flaky, depends_on=("a",)))
        .add(Phase("bad", boom, depends_on=("a",)))
        .add(Phase("child_of_bad", lambda _: 2, depends_on=("bad",)))
        .add(Phase("b", lambda _: 3, depends_on=("flaky",), validate=lambda v: v == 3))
    )
    results = orch.run()
    assert results["flaky"].status == "success" and results["flaky"].attempts == 3
    assert results["bad"].status == "failed"
    assert results["child_of_bad"].status == "skipped"
    assert results["b"].status == "success"
    report = status_report(results)
    assert report["success"] is False


def test_orchestrator_repair_hook():
    """Self-repair: a non-recoverable failure triggers the repair hook
    ONCE, which grants exactly one extra attempt (reference
    multi_database_ingest.py fix-schemas-then-retry). A phase whose
    repair declines (returns False) fails without a retry."""
    state = {"fixed": False, "runs": 0, "repairs": 0}

    def ingest(_):
        state["runs"] += 1
        if not state["fixed"]:
            raise RuntimeError("schema mismatch: missing column c")
        return "ok"

    def fix(_, err):
        state["repairs"] += 1
        assert "schema mismatch" in err
        state["fixed"] = True
        return True

    results = (
        Orchestrator()
        .add(Phase("ingest", ingest, max_retries=1, repair=fix))
        .run()
    )
    r = results["ingest"]
    assert (r.status, r.attempts, r.repaired) == ("success", 2, True)
    assert state == {"fixed": True, "runs": 2, "repairs": 1}

    # repair returning False → no retry, phase fails on attempt 1
    results = (
        Orchestrator()
        .add(
            Phase(
                "hopeless",
                lambda _: (_ for _ in ()).throw(RuntimeError("disk gone")),
                max_retries=3,
                repair=lambda _ctx, _err: False,
            )
        )
        .run()
    )
    r = results["hopeless"]
    assert (r.status, r.attempts, r.repaired) == ("failed", 1, False)


def test_orchestrator_cycle_detection():
    orch = (
        Orchestrator()
        .add(Phase("x", lambda _: 1, depends_on=("y",)))
        .add(Phase("y", lambda _: 1, depends_on=("x",)))
    )
    with pytest.raises(ValueError, match="cycle"):
        orch.run()


def test_session_conf_restores_set_and_unset_keys(spark):
    """session_conf puts a set key back and unsets a key that was
    unset, also when the body raises. Conf calls only, no Spark job."""
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.graft.test.unset"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with session_conf(spark, {set_key: "3", unset_key: "x"}):
        assert (spark.conf.get(set_key), spark.conf.get(unset_key)) == ("3", "x")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError, match="body failed"):
        with session_conf(spark, {set_key: "5", unset_key: "y"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_jdbc_e2e_derby_roundtrip(spark, tmp_path):
    """S1/S11 executed against a REAL JDBC database: Apache Derby
    (embedded, already on Spark's classpath) stands in for MySQL.
    Write via the engine's write_table sink, read back through the
    chunked scan path (partitionColumn fan-out), and run the full
    ingest_table pipeline off the live JDBC source. The MySQL-dialect
    pieces (information_schema discovery/reflection, LIMIT pushdown)
    stay unit-tested — no MySQL server exists in the sandbox."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.ingest import IngestSpec, ingest_table
    from automatic_etl_spark.sources import jdbc

    src = jdbc.JdbcSource(
        url=f"jdbc:derby:{tmp_path}/smokedb;create=true",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    rows = [(i, f"name{i}", float(i) * 1.5) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "id int, name string, val double")
    jdbc.write_table(df, src, "smoke_t", mode="append", batchsize=50)

    # S1: chunked scan — 4 parallel range partitions over the PK
    back = jdbc.read_table(
        spark, src, "smoke_t",
        partition_column="id", lower_bound=1, upper_bound=201,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 200
    assert back.agg(F.sum("id")).first()[0] == sum(range(1, 201))

    # S2 mechanism live: subquery-as-dbtable discovery against the
    # engine's own catalog tables (Derby's sys schema)
    disc = spark.read.format("jdbc").options(
        **src.base_options(),
        dbtable=(
            "(SELECT s.schemaname, t.tablename FROM sys.systables t "
            "JOIN sys.sysschemas s ON t.schemaid = s.schemaid "
            "WHERE t.tabletype = 'T') AS u"
        ),
    ).load()
    assert ("APP", "SMOKE_T") in [
        (r["SCHEMANAME"], r["TABLENAME"]) for r in disc.collect()
    ]

    # full pipeline from the live JDBC source: clean → dedup → parquet
    target = str(tmp_path / "smoke_parquet")
    audit = ingest_table(
        spark, back, target,
        IngestSpec(dedup_keys=("id",), version_cols=("val",)),
    )
    verdicts = {r["verdict"] for r in audit.collect()}
    assert verdicts == {"OK"}
    assert spark.read.parquet(target).count() == 200


def test_ingest_audit_null_key_reconciles(spark, tmp_path):
    """A NULL audit key that reconciles perfectly must produce ONE OK
    row, not exp-only/snk-only MISMATCH splits (r7 advice — the
    union-then-aggregate audit groups NULL like any other key)."""
    from automatic_etl_spark.ingest import IngestSpec, ingest_table

    src = spark.createDataFrame(
        [(None, "x"), (None, "y"), (1, "a"), (2, "b")],
        "k int, v string",
    )
    audit = ingest_table(
        spark, src, str(tmp_path / "null_key_tgt"),
        IngestSpec(audit_key="k"),
    ).collect()
    rows = {r["k"]: r for r in audit}
    assert len(audit) == 3  # NULL is ONE group
    assert rows[None]["src_cnt"] == 2
    assert rows[None]["snk_cnt"] == 2
    assert {r["verdict"] for r in audit} == {"OK"}


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_reconcile_counts_null_one_sided_and_mixed_type_keys(spark, ansi):
    """The reconciliation operator pairs a NULL key with NULL, keeps
    keys present on one side only, and compares a string source key in
    the sink's bigint type: '7x' does not parse, so it joins the NULL
    group (src 2 / snk 1) instead of matching the sink's NULL row a
    second time, and never fails the job when ANSI is on."""
    from automatic_etl_spark.operators.audit import reconcile_counts

    def report(src_sql, snk_sql):
        out = reconcile_counts(spark.sql(src_sql), spark.sql(snk_sql), "k")
        assert out.columns == ["key", "src_cnt", "snk_cnt", "diff", "verdict"]
        return {r[0]: tuple(r[1:]) for r in out.collect()}

    with session_conf(spark, {"spark.sql.ansi.enabled": ansi}):
        same = report(
            "SELECT * FROM VALUES (CAST(NULL AS INT)), (NULL), (1), (2) AS t(k)",
            "SELECT * FROM VALUES (CAST(NULL AS INT)), (NULL), (2), (3) AS t(k)",
        )
        mixed = report(
            "SELECT * FROM VALUES ('007'), ('7x'), (CAST(NULL AS STRING)), "
            "('12') AS t(k)",
            "SELECT * FROM VALUES (7L), (CAST(NULL AS BIGINT)), (12L) AS t(k)",
        )
    assert same == {
        None: (2, 2, 0, "OK"),
        1: (1, 0, 1, "MISMATCH"),
        2: (1, 1, 0, "OK"),
        3: (0, 1, -1, "MISMATCH"),
    }
    assert mixed == {
        7: (1, 1, 0, "OK"),
        12: (1, 1, 0, "OK"),
        None: (2, 1, 1, "MISMATCH"),
    }


def test_grand_total_of_an_empty_audit_reads_ok(spark, tmp_path):
    """An empty load reconciles: the rollup of a zero-row report reads
    OK with 0/0/0, keyed or keyless: a sum over no rows is NULL, and
    the rollup must read it as 0, not as a count of bad keys."""
    from automatic_etl_spark.ingest import IngestSpec, ingest_table
    from automatic_etl_spark.operators.audit import grand_total, reconcile_counts

    empty = spark.createDataFrame([], "k int, v string")
    reports = [
        reconcile_counts(empty, empty, "k"),
        ingest_table(
            spark, empty, str(tmp_path / "keyed"),
            IngestSpec(dedup_keys=("k",), version_cols=("v",)),
        ),
        ingest_table(spark, empty, str(tmp_path / "keyless"), IngestSpec()),
    ]
    for report in reports:
        [status] = grand_total(report).collect()
        assert tuple(status) == (0, 0, 0, "OK")


def test_ingest_audit_retyped_key_reconciles(spark, tmp_path):
    """When clean_specs retypes the audit key (string '007' → int 7),
    the audit must compare keys in the CLEANED type: raw and cleaned
    forms of one key are the same group, so diffs stay zero instead of
    phantom +1/-1 splits (r8 review)."""
    from automatic_etl_spark.ingest import IngestSpec, ingest_table

    src = spark.createDataFrame(
        [("007", "a"), ("7", "b"), ("12", "c")], "k string, v string"
    )
    audit = ingest_table(
        spark, src, str(tmp_path / "retyped_tgt"),
        IngestSpec(
            clean_specs={"k": {"kind": "integer"}}, audit_key="k"
        ),
    ).collect()
    rows = {r["k"]: r for r in audit}
    assert set(rows) == {7, 12}  # '007' and '7' are ONE group
    assert rows[7]["src_cnt"] == 2 and rows[7]["snk_cnt"] == 2
    assert all(r["diff"] == 0 for r in audit)
    assert {r["verdict"] for r in audit} == {"OK"}


def _audit_dicts(schema, rows):
    return [dict(zip(schema.names, r)) for r in rows]


def test_ingest_audit_string_partition_key_reconciles(spark, tmp_path):
    """A sink partitioned on a string audit key is read back with the
    written schema: inference retyped '007' to 7, so '007' read
    snk_cnt 0 and '7' read 2 on a correct load, both MISMATCH."""
    from automatic_etl_spark.ingest import IngestSpec, write_and_audit

    src = spark.sql(
        "SELECT * FROM VALUES ('007', 'a'), ('7', 'b'), ('7', 'c'), "
        "(CAST(NULL AS STRING), 'd') AS t(k, v)"
    )
    rows = _audit_dicts(*write_and_audit(
        spark, src, str(tmp_path / "str_part"),
        IngestSpec(audit_key="k", partition_by=("k",)),
    ))
    by_key = {r["k"]: r for r in rows}
    assert set(by_key) == {"007", "7", None}
    assert {k: r["snk_cnt"] for k, r in by_key.items()} == {
        "007": 1, "7": 2, None: 1,
    }
    assert {r["verdict"] for r in rows} == {"OK"}


def test_ingest_audit_colliding_versions_without_tiebreaker(spark, tmp_path):
    """Rows of one dedup key share its top version and carry different
    audit keys, and no tiebreaker is pinned: the write may keep any of
    them, and the audit checks the sink against that write, so every
    key reads OK and the sink holds one row per dedup key."""
    from automatic_etl_spark.ingest import IngestSpec, write_and_audit

    src = spark.range(64).repartition(4).select(
        (F.col("id") % 16).alias("u"),
        F.lit(1).alias("ver"),
        (F.col("id") / 16).cast("int").alias("a"),
    )
    rows = _audit_dicts(*write_and_audit(
        spark, src, str(tmp_path / "collide"),
        IngestSpec(dedup_keys=("u",), version_cols=("ver",), audit_key="a"),
    ))
    assert {r["verdict"] for r in rows} == {"OK"}
    assert sum(r["snk_cnt"] for r in rows) == 16
    assert sum(r["src_cnt"] for r in rows) == 64


def test_ingest_audit_lost_sink_file_reads_mismatch(spark, tmp_path, monkeypatch):
    """A part file lost after the write breaks the observed totals, so
    the report takes the recompute path: expected_cnt comes from the
    recomputed clean→dedup plan, and the key that lost rows reads
    MISMATCH while the others stay OK."""
    import glob
    import os

    from automatic_etl_spark import ingest
    from automatic_etl_spark.ingest import IngestSpec, write_and_audit

    orig_write = ingest._write

    def lossy_write(frame, target_path, spec):
        orig_write(frame, target_path, spec)
        os.remove(sorted(glob.glob(os.path.join(target_path, "k=1", "*.parquet")))[0])

    monkeypatch.setattr(ingest, "_write", lossy_write)
    src = spark.range(30).select(
        (F.col("id") % 3).alias("k"),
        (F.col("id") % 12).alias("u"),
        F.col("id").alias("ver"),
    )
    rows = _audit_dicts(*write_and_audit(
        spark, src, str(tmp_path / "lossy"),
        IngestSpec(dedup_keys=("u",), version_cols=("ver",), audit_key="k",
                   partition_by=("k",)),
    ))
    by_key = {r["k"]: r for r in rows}
    assert {k: r["expected_cnt"] for k, r in by_key.items()} == {0: 4, 1: 4, 2: 4}
    assert by_key[1]["snk_cnt"] < 4 and by_key[1]["verdict"] == "MISMATCH"
    assert by_key[0]["snk_cnt"] == 4 and by_key[0]["verdict"] == "OK"
    assert by_key[2]["snk_cnt"] == 4 and by_key[2]["verdict"] == "OK"


def test_ingest_audit_runs_the_load_once(spark, tmp_path):
    """One keyed single-table write + audit with a dedup spec runs 4
    Spark jobs: the write with its dedup shuffle, and one union-aggregate
    over source and sink with its shuffle. Recomputing the load for the
    expected side and inferring the sink's schema made it 6 (the same
    frame through ``ingest_table(...).collect()`` before the audit was
    checked against the write)."""
    from automatic_etl_spark.ingest import IngestSpec, write_and_audit

    sc = spark.sparkContext
    src = spark.range(60).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 17).alias("u"),
        (F.col("id") % 3).alias("ver"),
        F.col("id").cast("string").alias("v"),
    )
    spec = IngestSpec(
        clean_specs={"v": {"kind": "string"}},
        dedup_keys=("u",), version_cols=("ver",), tiebreaker=("v",),
        audit_key="k",
    )
    group = "ingest-audit-jobs"
    sc.setJobGroup(group, group)
    try:
        schema, rows = write_and_audit(spark, src, str(tmp_path / "once"), spec)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4
    assert {r[-1] for r in rows} == {"OK"}


def test_scratch_dir_is_process_isolated():
    """scratch_dir roots embed the pid (r7 advice): two concurrent
    processes invoking the same call site must not rmtree each other's
    live staged inputs. The clear-at-call-start behavior stays within
    a process."""
    import os
    import subprocess
    import sys

    from automatic_etl_spark.scratch import scratch_dir

    d = scratch_dir("t_pid_iso")
    assert f"pid{os.getpid()}" in d
    marker = os.path.join(d, "live.txt")
    with open(marker, "w") as fh:
        fh.write("mine")
    # another process hitting the SAME site gets its own tree and
    # leaves ours alone; its tree is removed at its interpreter exit
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "from automatic_etl_spark.scratch import scratch_dir;"
         "print(scratch_dir('t_pid_iso'))"],
        capture_output=True, text=True, cwd=repo, check=True,
    ).stdout.strip()
    assert out != d
    assert os.path.exists(marker)  # our live file survived
    assert not os.path.exists(out)  # their root cleaned at exit
    # same process, same site: cleared at call start (the residue
    # guarantee that motivated scratch_dir in the first place)
    d2 = scratch_dir("t_pid_iso")
    assert d2 == d and not os.path.exists(marker)


def test_jdbc_write_options():
    src = jdbc.JdbcSource(url="jdbc:mysql://h:3306/db", user="u", password="p")
    opts = jdbc.write_options(src, "db.t", truncate=True)
    assert opts["dbtable"] == "db.t"
    assert opts["batchsize"] == "50000"  # reference CHUNKSIZE parity
    assert opts["truncate"] == "true"
    assert opts["isolationLevel"] == "READ_COMMITTED"
    assert "fetchsize" not in opts  # read-side only


def test_kafka_stream_options():
    from automatic_etl_spark.sources import kafka

    opts = kafka.stream_options(
        "broker:9092", kafka.topic_pattern("dbz", "conn1"),
        max_offsets_per_trigger=1000,
    )
    assert opts["subscribePattern"] == "dbz_conn1\\..*"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "1000"


def test_ivf_assign_tie_breaks_to_smallest_centroid(spark):
    from automatic_etl_spark.operators import similarity as sim

    # Two centroids pointing the same way: every vector ties on cosine
    # and must land in the lower-id list.
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [0.0, 1.0])],
        "n_id long, n_vec array<double>",
    )
    centroids = spark.createDataFrame(
        [(10, [1.0, 1.0]), (20, [2.0, 2.0])],
        "c_id long, c_vec array<double>",
    )
    got = {
        r["n_id"]: r["list_id"]
        for r in sim.ivf_assign(corpus, centroids).collect()
    }
    assert got == {1: 10, 2: 10, 3: 10}


def test_cosine_near_dup_blocks_cross_bucket_pairs(spark):
    from automatic_etl_spark.operators import similarity as sim

    dim = 64
    up = [(1.0 if i % 2 == 0 else 0.01) for i in range(dim)]
    down = [-x for x in up]
    corpus = spark.createDataFrame(
        [(1, up), (2, up), (3, down), (4, down)],
        "n_id long, n_vec array<double>",
    )
    pairs = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in sim.cosine_near_dup_pairs(corpus, threshold=0.9).collect()
    }
    # identical vectors pair up inside their bucket; opposite-sign
    # vectors land in a different bucket and are never scored
    assert set(pairs) == {(1, 2), (3, 4)}
    assert all(s == 1.0 for s in pairs.values())


def test_lsh_bucket_cap_drops_hot_bucket_and_reports(spark):
    from automatic_etl_spark.operators import text_dedup as td

    # Skewed corpus: docs 1..8 share identical boilerplate text (one
    # hot bucket per band); docs 20/21 are a small near-dup pair.
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(1, 9)]
    rows += [(20, "alpha beta gamma delta epsilon zeta"),
             (21, "alpha beta gamma delta epsilon eta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = td.minhash_signatures(td.shingle_rows(docs))

    uncapped = {
        (r["a_id"], r["b_id"]) for r in td.lsh_candidate_pairs(sig).collect()
    }
    assert (20, 21) in uncapped
    assert (1, 2) in uncapped  # boilerplate pairs present uncapped

    dropped: list[int] = []
    capped = {
        (r["a_id"], r["b_id"])
        for r in td.lsh_candidate_pairs(
            sig, max_bucket_size=4, on_drop=dropped.append
        ).collect()
    }
    # the 8-doc boilerplate buckets exceed the cap and are dropped...
    assert not any(a <= 8 and b <= 8 for a, b in capped)
    # ...the small pair's buckets survive untouched
    assert (20, 21) in capped
    # ...and the truncation is reported, not silent
    assert dropped and dropped[0] > 0


def test_lsh_bucket_cap_noop_below_cap(spark):
    from automatic_etl_spark.operators import text_dedup as td

    rows = [(i, f"alpha beta gamma delta epsilon token{i}") for i in range(1, 7)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = td.minhash_signatures(td.shingle_rows(docs))
    uncapped = sorted(
        (r["a_id"], r["b_id"]) for r in td.lsh_candidate_pairs(sig).collect()
    )
    dropped: list[int] = []
    capped = sorted(
        (r["a_id"], r["b_id"])
        for r in td.lsh_candidate_pairs(
            sig, max_bucket_size=1000, on_drop=dropped.append
        ).collect()
    )
    assert capped == uncapped
    assert dropped == [0]


def test_cosine_near_dup_bucket_cap(spark):
    from automatic_etl_spark.operators import similarity as sim

    dim = 64
    up = [(1.0 if i % 2 == 0 else 0.01) for i in range(dim)]
    down = [-x for x in up]
    # 6 copies of `up` → hot bucket; 2 copies of `down` → small bucket
    corpus = spark.createDataFrame(
        [(i, up) for i in range(1, 7)] + [(10, down), (11, down)],
        "n_id long, n_vec array<double>",
    )
    dropped: list[int] = []
    pairs = {
        (r["a_id"], r["b_id"])
        for r in sim.cosine_near_dup_pairs(
            corpus, threshold=0.9, max_bucket_size=3, on_drop=dropped.append
        ).collect()
    }
    assert pairs == {(10, 11)}
    assert dropped == [1]


def test_salted_ops_match_plain(spark):
    from automatic_etl_spark.operators import skew

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(50)] + [("b", 1, 2.0), (None, 3, 4.0)],
        "k string, n long, v double",
    )
    plain = {
        (r["k"],): (r["cnt"], r["sv"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("sv"), F.max("n").alias("mx"))
        .collect()
    }
    salted = {
        (r["k"],): (r["cnt"], r["sv"], r["mx"])
        for r in skew.salted_agg(
            df, ["k"], {"cnt": ("count", "*"), "sv": ("sum", "v"), "mx": ("max", "n")}
        ).collect()
    }
    assert salted == plain

    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, w int")
    plain_join = sorted(
        (r["k"], r["n"], r["w"]) for r in df.join(dim, "k").collect()
    )
    salted_join = sorted(
        (r["k"], r["n"], r["w"])
        for r in skew.salted_join(df, dim, "k", buckets=4).collect()
    )
    assert salted_join == plain_join


def test_as_of_join_semantics(spark):
    from automatic_etl_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 7, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 15, 150), (2, 99, 990)],
        "k long, ts long, val long",
    )
    got = {
        r["tag"]: (r["right_ts"], r["right_val"])
        for r in as_of_join(left, right, keys=["k"]).collect()
    }
    assert got["a"] == (None, None)  # before any right row
    assert got["b"] == (10, 100)  # inclusive match at equal ts
    assert got["c"] == (15, 150)  # latest preceding, not first
    assert got["d"] == (None, None)  # right row is in the future


def test_csv_reader_permissive_tolerates_bad_rows(spark, tmp_path):
    from automatic_etl_spark.sources import files

    p = tmp_path / "bad.csv"
    p.write_text("id,n\n1,10\n2,not_a_number\n3,30\n")
    df = files.read_csv(spark, str(p), schema="id long, n long")
    rows = {r["id"]: r["n"] for r in df.collect()}
    # reference-style tolerance: bad cell → NULL, row survives
    assert rows == {1: 10, 2: None, 3: 30}


def test_range_join_boundaries(spark):
    from automatic_etl_spark.operators.rangejoin import range_join

    points = spark.createDataFrame(
        [(1, 9), (2, 10), (3, 15), (4, 25), (5, 26)], "pid long, p long"
    )
    intervals = spark.createDataFrame(
        [(100, 10, 26)], "iid long, s long, e long"  # [10, 26)
    )
    got = sorted(
        r["pid"]
        for r in range_join(points, intervals, "p", "s", "e", bin_width=7).collect()
    )
    # inclusive start, exclusive end, matches across bin boundaries
    assert got == [2, 3, 4]


def test_bucketed_join_has_no_exchange(spark):
    from automatic_etl_spark.plans.storage_plans import build_bucketed_join

    joined, _ = build_bucketed_join(spark, "/root/testdata/sf0.001")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucket co-location removed the shuffle


def test_bloom_filter_runtime_pruning(spark):
    """Catalyst injects a runtime bloom filter (might_contain on the
    fact side, built from the filtered dim) when the scan is
    join-adjacent — the row-level pruning that slashes shuffle input
    on selective fact joins at 100 TB. Thresholds are lowered to fire
    on the tiny fixture; fan_out=False because the local fan-out
    repartition shim sits between scan and join and suppresses the
    rule (multi-row-group cluster layouts never take that branch)."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.sources.parquet import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with session_conf(spark, confs):
        li = table(spark, "/root/testdata/sf0.001", "lineitem", fan_out=False)
        orders = table(
            spark, "/root/testdata/sf0.001", "orders", fan_out=False
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("cnt"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        # and the result is still correct under the injected filter
        [row] = j.collect()
        expected = (
            li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"))
            .count()
        )
        assert row["cnt"] == expected


def test_infer_numeric_types(spark):
    df = spark.createDataFrame(
        [("1", "1.5", "abc"), ("2", "2", "3")], "a string, b string, c string"
    )
    inferred = sch.infer_numeric_types(df)
    assert inferred == {"a": "long", "b": "double", "c": "string"}


def test_fixture_rewritten_from_micros_to_nanos_reads_as_timestamp(spark, tmp_path):
    """The nanos-column probe is cached per file version: a fixture
    rewritten in place from TIMESTAMP(MICROS) to TIMESTAMP(NANOS) is
    normalized again instead of surfacing as the raw bigint."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from automatic_etl_spark.sources.parquet import table

    when = datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)
    path = str(tmp_path / "t.parquet")
    for unit in ("us", "ns"):
        pq.write_table(
            pa.table({"id": [1], "ts": pa.array([when], pa.timestamp(unit))}),
            path,
        )
        df = table(spark, str(tmp_path), "t")
        assert df.schema["ts"].dataType.typeName() == "timestamp", unit
        assert df.collect()[0]["ts"] == when, unit


def test_schema_evolution_merge_read(spark, tmp_path):
    from automatic_etl_spark.sources.parquet import read_merged

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, a string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 99)], "id long, a string, b long"
    ).write.mode("append").parquet(path)
    got = {r["id"]: (r["a"], r["b"]) for r in read_merged(spark, path).collect()}
    assert got == {1: ("a", None), 2: ("b", 99)}


def test_cli_ingest_query_audit(spark, tmp_path, capsys, monkeypatch):
    import json

    from automatic_etl_spark import cli

    target = str(tmp_path / "silver_events")
    rc = cli.main(
        [
            "ingest",
            "--table", "events",
            "--target", target,
            "--dedup", "staging",
            "--unique-key", "user_id",
            "--version-col", "ts",
            "--tiebreaker", "event_id",
            "--audit-key", "event_type",
        ]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["command"] == "ingest"
    assert {r["verdict"] for r in out["audit"]} <= {"OK", "MISMATCH"}
    # the status rolls up the per-key verdicts: a dedup shrink is no
    # MISMATCH on its own
    (status,) = out["status"]
    assert status["total_diff"] > 0
    assert status["verdict"] == (
        "OK" if {r["verdict"] for r in out["audit"]} == {"OK"} else "MISMATCH"
    )

    rc = cli.main(["audit", "--table", "events", "--sink", target, "--key", "event_type"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and len(out["report"]) > 0
    (status,) = out["status"]
    assert status["snk_total"] == sum(r["snk_cnt"] for r in out["report"])
    assert status["verdict"] == "MISMATCH"  # raw source vs deduped sink

    rc = cli.main(["query", "count_star"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["rows"][0]["cnt"] > 0

    rc = cli.main(["list"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "dedup_latest" in out["queries"]

    assert cli.main(["query", "no_such_query"]) == 2
    capsys.readouterr()

    # a dedup with no version and no tiebreaker has no order to keep
    # the latest row by: rejected before Spark starts
    from automatic_etl_spark import session

    monkeypatch.setattr(session, "get_spark", lambda **_: pytest.fail("Spark started"))
    rc = cli.main(
        ["ingest", "--table", "events", "--target", target,
         "--dedup", "replacing", "--unique-key", "user_id"]
    )
    assert rc == 2
    assert "--version-col or --tiebreaker" in capsys.readouterr().err


def test_orchestrator_parallel_matches_sequential():
    import threading
    import time

    seen = []
    lock = threading.Lock()

    def mk(name, delay=0.05):
        def run(_):
            with lock:
                seen.append(name)
            time.sleep(delay)
            return name

        return run

    def build():
        return (
            Orchestrator()
            .add(Phase("root", mk("root")))
            .add(Phase("a", mk("a"), depends_on=("root",)))
            .add(Phase("b", mk("b"), depends_on=("root",)))
            .add(Phase("bad", lambda _: 1 / 0, depends_on=("root",)))
            .add(Phase("child_of_bad", mk("c"), depends_on=("bad",)))
            .add(Phase("join", mk("join"), depends_on=("a", "b")))
        )

    seq = {n: r.status for n, r in build().run().items()}
    seen.clear()
    par = {n: r.status for n, r in build().run(max_workers=4).items()}
    assert par == seq
    assert par["bad"] == "failed" and par["child_of_bad"] == "skipped"
    assert par["join"] == "success"
    assert seen.index("join") > seen.index("a") and seen.index("join") > seen.index("b")


def test_ingest_many_parallel_isolation(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from automatic_etl_spark import ingest
    from automatic_etl_spark.ingest import IngestSpec, ingest_many
    from automatic_etl_spark.sources.parquet import table

    sf = "/root/testdata/sf0.001"
    events = table(spark, sf, "events")
    orders = table(spark, sf, "orders")

    # a table whose write succeeds but whose audit collect raises: the
    # audit runs inside its phase, so only that phase fails
    audit_fail = str(tmp_path / "af")
    orig_write_and_audit = ingest.write_and_audit

    def failing_audit(spark_, source, target_path, spec):
        audit = orig_write_and_audit(spark_, source, target_path, spec)
        if target_path == audit_fail:
            spark_.range(1).select(
                F.raise_error(F.lit("audit collect failed"))
            ).collect()
        return audit

    monkeypatch.setattr(ingest, "write_and_audit", failing_audit)

    sources = {
        "events": (
            events,
            str(tmp_path / "ev"),
            IngestSpec(dedup_keys=("user_id",), version_cols=("ts",),
                       tiebreaker=("event_id",), audit_key="event_type"),
        ),
        "orders": (
            orders,
            str(tmp_path / "od"),
            IngestSpec(audit_key="o_orderstatus"),
        ),
        # failure isolation: a bad spec (missing column) must fail its
        # OWN phase without sinking the independent tables
        "broken": (
            orders,
            str(tmp_path / "nope"),
            IngestSpec(dedup_keys=("no_such_col",), version_cols=("nope",)),
        ),
        "audit_fail": (orders, audit_fail, IngestSpec(audit_key="o_orderstatus")),
    }
    report = ingest_many(spark, sources, max_workers=3)
    assert report["success"] is False  # the broken table failed...
    # failed Spark jobs are not retried: the phase fails on attempt 1
    for phase in ("ingest_broken", "ingest_audit_fail"):
        assert report["phases"][phase]["status"] == "failed"
        assert report["phases"][phase]["attempts"] == 1
    assert "audit collect failed" in report["phases"]["ingest_audit_fail"]["error"]
    assert spark.read.parquet(audit_fail).count() == orders.count()
    # ...but the healthy ones completed with audits
    assert report["phases"]["ingest_events"]["status"] == "success"
    assert report["phases"]["ingest_orders"]["status"] == "success"
    assert set(report["tables"]) == {"events", "orders"}
    # orders has no dedup → counts reconcile exactly; events pins a
    # tiebreaker, so its dedup shrink reconciles too
    assert all(
        r["verdict"] == "OK"
        for t in ("events", "orders")
        for r in report["tables"][t]
    )


def test_mor_compaction_equivalence(spark, sf_dir):
    """compact() preserves merge_on_read() state row-for-row, retires
    the delta parts, and is idempotent."""
    from automatic_etl_spark.operators import mor
    from automatic_etl_spark.plans.storage_plans import _build_mor_table

    path = _build_mor_table(spark, sf_dir)
    before = {
        tuple(r) for r in mor.merge_on_read(spark, path, ["event_id"]).collect()
    }
    stats = mor.compact(spark, path, ["event_id"])
    assert stats == {
        "parts_before": 3,
        "parts_after": 1,
        "rows_after": len(before),
    }
    after = {
        tuple(r) for r in mor.merge_on_read(spark, path, ["event_id"]).collect()
    }
    assert after == before
    # tombstoned keys are really gone; surviving upserts applied
    ids = {r[0] for r in after}
    assert not any(i % 10 == 0 for i in ids)
    # compaction is idempotent: a second run rewrites 1 part to 1 part
    stats2 = mor.compact(spark, path, ["event_id"])
    assert stats2["parts_before"] == 1 and stats2["rows_after"] == len(before)


def test_mor_later_commit_wins_and_tombstone_revives(spark, tmp_path):
    """Commit order is the version: a later upsert resurrects a
    tombstoned key (same as ReplacingMergeTree with a newer ver row)."""
    from automatic_etl_spark.operators import mor

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", False), (2, "b", False)], "id long, v string, __deleted boolean"
    )
    mor.write_base(base, path)
    mor.write_delta(
        spark.createDataFrame([(1, "a", True)], base.schema), path, commit=1
    )
    mor.write_delta(
        spark.createDataFrame([(1, "a2", False)], base.schema), path, commit=2
    )
    rows = {
        (r.id, r.v) for r in mor.merge_on_read(spark, path, ["id"]).collect()
    }
    assert rows == {(1, "a2"), (2, "b")}


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark gram set is tiny relative to the train corpus, so
    the contamination semi-join must be a BroadcastHashJoin (LeftSemi)
    — the train side never shuffles. The shape that keeps this scan
    map-side at 100 TB."""
    from automatic_etl_spark.plans.curation_plans import ngram_decontaminate

    df = ngram_decontaminate(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_domain_mix_sample_is_shuffle_free_until_agg(spark):
    """The keep decision is row-local (salted md5 threshold): the keep
    filter must sit AT the scan (no exchange below it), and the only
    exchanges are the audit aggregate's own two phases — (grp, source)
    for the distinct count, then grp. Column pruning must reach the
    scan (2 of 5 columns read)."""
    from automatic_etl_spark.plans.curation_plans import domain_mix_sample

    df = domain_mix_sample(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2  # distinct + final
    assert "Exchange RoundRobin" not in plan  # nothing reshuffles the scan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan


def test_connected_components_bounded_iterations(spark):
    """A path graph of length 6 converges via min-label propagation;
    max_iter below the diameter must raise, not emit a half-merged
    labeling."""
    import pytest as _pytest

    from automatic_etl_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "a_id long, b_id long"
    )
    got = {
        r.node: r.component
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {i: 1 for i in range(1, 8)}
    with _pytest.raises(RuntimeError, match="no convergence"):
        connected_components(nodes, edges, max_iter=2)


def test_connected_components_round_counts(spark):
    """Round counts on a graph with a diameter-5 chain, a clique and
    singletons: plain min-label propagation needs 5 hook rounds plus
    the no-change probe, and pointer jumping (compress=True) converges
    in strictly fewer rounds to the same labeling."""
    from automatic_etl_spark.operators.graph import connected_components

    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 13)], "doc_id long"
    )
    # chain 1-2-3-4-5-6, clique {7,8,9}, singletons 10..12
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (7, 8), (8, 9), (7, 9)],
        "a_id long, b_id long",
    )
    expected = {**{i: 1 for i in range(1, 7)},
                **{i: 7 for i in (7, 8, 9)},
                **{i: i for i in (10, 11, 12)}}

    rounds: dict[bool, int] = {}
    for compress in (False, True):
        stats: dict = {}
        got = {
            r.node: r.component
            for r in connected_components(
                nodes, edges, compress=compress, stats=stats
            ).collect()
        }
        assert got == expected, compress
        rounds[compress] = stats["rounds"]
    # diameter-5 chain: 5 hook rounds + 1 no-change probe round
    assert rounds[False] == 6
    # pointer jumping reaches ~2^t: strictly fewer rounds than plain
    assert rounds[True] < rounds[False]


def test_cleanup_catalog_ignores_temp_views(spark, tmp_path):
    """Session temp views list under every database but cannot be
    db-qualified; cleanup must skip them (regression: a leftover temp
    view made catalog cleanup throw TABLE_OR_VIEW_NOT_FOUND)."""
    import uuid

    from automatic_etl_spark.operators.ddl import cleanup_catalog

    db = f"tmpviews_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    try:
        spark.createDataFrame([(1,)], "id long").createOrReplaceTempView(
            "stale_temp_view"
        )
        spark.createDataFrame([(i,) for i in range(3)], "id long").write.option(
            "path", str(tmp_path / "tiny")
        ).saveAsTable(f"{db}.tiny")
        dropped = cleanup_catalog(spark, db, min_rows=10)
        assert dropped == [f"{db}.tiny"]
        assert spark.catalog.tableExists("stale_temp_view")
    finally:
        spark.catalog.dropTempView("stale_temp_view")
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_multimodal_arrow_matches_pandas_path(spark, sf_dir):
    """mapInArrow and mapInPandas are two transports for the same
    extraction: outputs must be row-identical (same fake decode, same
    schema, no pandas dtype coercion drift)."""
    from automatic_etl_spark.operators.multimodal import (
        extract_features,
        extract_features_arrow,
        make_blob_table,
    )
    from automatic_etl_spark.sources.parquet import table

    blobs = make_blob_table(table(spark, sf_dir, "documents"))
    via_pandas = sorted(map(tuple, extract_features(blobs).collect()))
    via_arrow = sorted(map(tuple, extract_features_arrow(blobs).collect()))
    assert via_pandas == via_arrow


def test_python_datasource_partition_invariance(spark):
    """The custom Python DataSource must produce the identical row set
    under any partition count — partition planning is a sharding
    detail, never a semantics knob."""
    from automatic_etl_spark.sources import pydatasource

    pydatasource.register(spark)

    def load(parts):
        return sorted(
            map(
                tuple,
                spark.read.format(pydatasource.FORMAT_NAME)
                .option("rows", "500")
                .option("partitions", str(parts))
                .load()
                .collect(),
            )
        )

    one = load(1)
    assert load(3) == one
    assert load(8) == one
    assert len(one) == 500
    assert one[7] == pydatasource.derive_row(7)


def test_aqe_skew_join_split(spark):
    """AQE's OptimizeSkewedJoin splits a planted hot partition: the
    executed SMJ prints skew=true. Two production caveats pinned here:
    (1) thresholds are lowered because the local fixture is tiny — at
    cluster scale the 256 MB default fires on real skew; (2) the join
    output must NOT feed a consumer that requires the join key's hash
    partitioning (here: a global aggregate) — splitting breaks
    co-partitioning, so with a keyed consumer AQE skips the split
    unless spark.sql.adaptive.forceOptimizeSkewedJoin is set. The
    salting operators (operators/skew.py) remain the answer when the
    downstream NEEDS key partitioning."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with session_conf(spark, confs):
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            (F.col("id") * 2).alias("w"),
        )
        j = left.join(right.hint("merge"), "k").agg(
            F.sum(F.col("v") + F.col("w")).alias("t")
        )
        [row] = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        # and the split is result-invisible: 90% of rows share k=0,
        # so the join explodes to 180k x 45k pairs on that key alone —
        # verify against the exact closed-form instead of recomputing
        # hot key 0 collects id%10!=0 AND id=0 itself (0%10==0 → k=0)
        left_hot = sum(i for i in range(200_000) if i % 10 != 0)
        right_hot = sum(2 * i for i in range(50_000) if i % 10 != 0)
        n_l, n_r = 180_001, 45_001
        hot = left_hot * n_r + right_hot * n_l
        cold = sum(i + 2 * i for i in range(10, 50_000, 10))
        assert row["t"] == hot + cold


def test_salted_join_rejects_dim_duplicating_join_types(spark):
    """salted_join replicates the dim per salt, so right/full outer
    would emit unmatched dim rows buckets times — must hard-error, not
    silently violate the plain-join identity contract (r7 review)."""
    from automatic_etl_spark.operators import skew

    fact = spark.createDataFrame([(1, "a")], "k long, v string")
    dim = spark.createDataFrame([(2, "dim-only")], "k long, d string")
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="fact-preserving"):
            skew.salted_join(fact, dim, "k", buckets=4, how=how)
    # left outer stays supported: unmatched FACT rows appear exactly once
    rows = skew.salted_join(fact, dim, "k", buckets=4, how="left").collect()
    assert len(rows) == 1 and rows[0]["d"] is None


def test_jdbc_scan_options_guards():
    """limit+partition_column is nondeterministic (per-range LIMIT
    subqueries); partition_column without explicit bounds silently
    clamps to ONE partition — both now refuse loudly (r7 review)."""
    from automatic_etl_spark.sources import jdbc

    src = jdbc.JdbcSource(url="jdbc:mysql://h:3306/db")
    with pytest.raises(ValueError, match="nondeterministic"):
        jdbc.scan_options(
            src, "t", partition_column="id",
            lower_bound=0, upper_bound=10, limit=5,
        )
    with pytest.raises(ValueError, match="explicit"):
        jdbc.scan_options(src, "t", partition_column="id")


def test_orchestrator_critical_flag_and_retry_floor():
    """critical=False failures must not skip dependents; max_retries=0
    (which would never run the phase) must be rejected at construction
    (r7 review: both were silently ignored)."""
    from automatic_etl_spark.orchestrator import Orchestrator, Phase

    def boom(_):
        raise RuntimeError("optional enrichment failed")

    results = (
        Orchestrator()
        .add(Phase("opt", boom, max_retries=1, critical=False))
        .add(Phase("main", lambda _: "ran", depends_on=("opt",)))
        .run()
    )
    assert results["opt"].status == "failed"
    assert results["main"].status == "success"
    # parallel scheduler honors the same rule
    results_p = (
        Orchestrator()
        .add(Phase("opt", boom, max_retries=1, critical=False))
        .add(Phase("main", lambda _: "ran", depends_on=("opt",)))
        .run(max_workers=2)
    )
    assert results_p["main"].status == "success"
    # critical failure still skips
    results_c = (
        Orchestrator()
        .add(Phase("req", boom, max_retries=1))
        .add(Phase("main", lambda _: "ran", depends_on=("req",)))
        .run()
    )
    assert results_c["main"].status == "skipped"
    with pytest.raises(ValueError, match="never run"):
        Phase("p", lambda _: None, max_retries=0)


def test_topic_pattern_escapes_connector_names():
    from automatic_etl_spark.sources.kafka import topic_pattern
    import re as _re

    pat = topic_pattern("dbz", "prod.primary")
    assert _re.fullmatch(pat, "dbz_prod.primary.inventory.customers")
    # the dot in the CONNECTION name must not match arbitrary chars
    assert not _re.fullmatch(pat, "dbz_prodXprimary.inventory.customers")
