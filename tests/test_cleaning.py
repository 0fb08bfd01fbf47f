"""Operator-level cleaning tests with exact expected outputs — modeled
on the reference's test_date_processing.py:16-107 (fixture rows +
exact NULL/valid counts, FIXTURES.md F2/F3)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from automatic_etl_spark.functions import cleaning as cl


def test_sanitize_dates_agencias_fixture(spark):
    # F2 `agencias`: fechaini → 3 NULLs / 2 valid; fechafin → 4 / 1.
    rows = [
        (1, "001", "1900-01-01", "1900-01-01"),
        (2, "002", "2020-05-05", "1900-01-01"),
        (3, "003", None, None),
        (4, "004", "0000-00-00", "2022-01-01"),
        (5, "005", "2021-06-06", ""),
    ]
    df = spark.createDataFrame(rows, "id int, codagen string, fechaini string, fechafin string")
    out = df.select(
        cl.sanitize_dates("fechaini").alias("fechaini"),
        cl.sanitize_dates("fechafin").alias("fechafin"),
    )
    agg = out.agg(
        F.sum(F.col("fechaini").isNull().cast("int")).alias("ini_nulls"),
        F.sum(F.col("fechaini").isNotNull().cast("int")).alias("ini_valid"),
        F.sum(F.col("fechafin").isNull().cast("int")).alias("fin_nulls"),
        F.sum(F.col("fechafin").isNotNull().cast("int")).alias("fin_valid"),
    ).first()
    assert (agg.ini_nulls, agg.ini_valid) == (3, 2)
    assert (agg.fin_nulls, agg.fin_valid) == (4, 1)


def test_sanitize_dates_year_range_and_promotion(spark):
    df = spark.createDataFrame(
        [("2150-01-01",), ("1901-01-01",), ("2099-12-31",), ("2020-07-04 13:45:00",)],
        "d string",
    )
    vals = [r.v for r in df.select(cl.sanitize_dates("d").alias("v")).collect()]
    assert vals[0] is None  # year >= 2100
    assert vals[1] == dt.datetime(1901, 1, 1)  # date → midnight datetime
    assert vals[2] == dt.datetime(2099, 12, 31)
    assert vals[3] == dt.datetime(2020, 7, 4, 13, 45)


def test_clamp_datetime_range(spark):
    df = spark.createDataFrame(
        [(dt.datetime(1969, 12, 31),), (dt.datetime(2000, 1, 1),), (dt.datetime(2300, 1, 1),)],
        "t timestamp",
    )
    vals = [r.v for r in df.select(cl.clamp_datetime_range("t").alias("v")).collect()]
    assert vals == [None, dt.datetime(2000, 1, 1), None]


def test_clean_integers_sentinels_and_floats(spark):
    # F3 dirty values (ingest_runner.py:506-574 semantics).
    rows = [("null",), ("NaN",), ("",), ("na",), ("123.0",), ("12.7",), ("42",), (None,)]
    df = spark.createDataFrame(rows, "v string")
    vals = [r.out for r in df.select(cl.clean_integers("v").alias("out")).collect()]
    assert vals == [None, None, None, None, 123, None, 42, None]


def test_clean_integers_pk_zero_fill(spark):
    df = spark.createDataFrame([("null",), ("7",)], "v string")
    vals = [r.out for r in df.select(cl.clean_integers("v", pk=True).alias("out")).collect()]
    assert vals == [0, 7]


def test_int32_overflow_guard(spark):
    df = spark.createDataFrame([(9999999999,), (100,), (-2147483649,)], "v long")
    vals = [r.out for r in df.select(cl.int32_overflow_guard("v").alias("out")).collect()]
    assert vals == [None, 100, None]


def test_clamp_numeric(spark):
    df = spark.createDataFrame([(300,), (-5,), (100,)], "v int")
    vals = [r.out for r in df.select(cl.clamp_numeric("v", "UInt8").alias("out")).collect()]
    assert vals == [255, 0, 100]


def test_clean_floats_nan_inf(spark):
    df = spark.createDataFrame(
        [(float("nan"),), (float("inf",),), (float("-inf"),), (1.5,)], "v double"
    )
    vals = [r.out for r in df.select(cl.clean_floats("v").alias("out")).collect()]
    assert vals == [None, None, None, 1.5]


def test_fix_mojibake(spark):
    df = spark.createDataFrame(
        [("ActualizaciÃ³n",), ("informaciÃ³n bÃ¡sica",), ("informaci??n",), ("clean",)],
        "v string",
    )
    vals = [r.out for r in df.select(cl.fix_mojibake("v").alias("out")).collect()]
    assert vals == ["Actualización", "información básica", "información", "clean"]


def test_normalize_strings(spark):
    df = spark.createDataFrame(
        [("  spaced\r\n\ttext  ",), ("a   b",), ("   ",), ("\x07bell\x00",)], "v string"
    )
    vals = [r.out for r in df.select(cl.normalize_strings("v").alias("out")).collect()]
    assert vals == ["spaced text", "a b", None, "bell"]


def test_format_time(spark):
    df = spark.createDataFrame(
        [("0 days 12:02:03",), ("12:02:03",), ("1:02:03.456",), ("oops",)], "v string"
    )
    vals = [r.out for r in df.select(cl.format_time("v").alias("out")).collect()]
    assert vals == ["12:02:03", "12:02:03", "1:02:03", None]


def test_fill_not_null_default(spark):
    df = spark.createDataFrame([(None, None), ("x", 5)], "s string, n int")
    out = df.select(
        cl.fill_not_null_default("s", "string", "s").alias("s"),
        cl.fill_not_null_default(F.col("n"), "integer", "n").alias("n"),
    ).collect()
    assert [(r.s, r.n) for r in out] == [("N/A", 0), ("x", 5)]


def test_decode_binary_udf(spark):
    from automatic_etl_spark.functions.encoding import decode_binary

    df = spark.createDataFrame(
        [(b"hola",), ("á é".encode("latin-1"),), (None,)], "v binary"
    )
    vals = [r.out for r in df.select(decode_binary("v").alias("out")).collect()]
    assert vals == ["hola", "á é", None]


def test_clean_table_single_projection(spark):
    # Whole-table schema-driven clean (F3 shape) stays one projection.
    rows = [
        ("null", "2020-01-01", "  name\r\n ", "12.5", "1"),
        ("7", "0000-00-00", None, "NaN", "0"),
    ]
    df = spark.createDataFrame(rows, "id string, f string, nombre string, precio string, activo string")
    specs = {
        "id": {"kind": "integer", "pk": True, "nullable": False},
        "f": {"kind": "temporal"},
        "nombre": {"kind": "string", "nullable": False},
        "precio": {"kind": "float"},
        "activo": {"kind": "bool"},
    }
    out = cl.clean_table(df, specs).collect()
    assert out[0].id == 0 and out[1].id == 7
    assert out[0].f == dt.datetime(2020, 1, 1) and out[1].f is None
    assert out[0].nombre == "name" and out[1].nombre == "N/A"
    assert out[1].precio is None
    assert out[0].activo == 1


def test_clean_integers_exact_above_2_53(spark):
    """Integer-literal strings must parse DIRECTLY to long — the
    double round-trip rounds 2^53+1 to 2^53, silently merging two
    distinct snowflake-style PKs (r7 review)."""
    from automatic_etl_spark.functions import cleaning as cl

    df = spark.createDataFrame(
        [("9007199254740993",), ("9007199254740992",), ("123.0",),
         ("12.7",), ("99999999999999999999999",)],
        "s string",
    )
    got = [
        r["v"] for r in df.select(cl.clean_integers("s").alias("v")).collect()
    ]
    assert got == [9007199254740993, 9007199254740992, 123, None, None]


def test_bool_to_int_ansi_safe(spark):
    """bool_to_int must null-on-error under ANSI like every other
    cleaner — a plain CAST('yes' AS INT) throws (r7 review)."""
    from automatic_etl_spark.functions import cleaning as cl

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [("yes",), ("true",), ("false",), ("garbage!",)], "s string"
        )
        got = [
            r["b"]
            for r in df.select(cl.bool_to_int("s").alias("b")).collect()
        ]
        assert got == [1, 1, 0, None]
        # numeric inputs are VALUE-PRESERVED, not truthiness-coerced:
        # tinyint(1) sources can carry 2 / -5, which must survive as-is
        # (r7 advice — the boolean path would map both to 1)
        nums = spark.createDataFrame(
            [(0,), (1,), (2,), (-5,)], "n int"
        )
        got_n = [
            r["b"]
            for r in nums.select(cl.bool_to_int("n").alias("b")).collect()
        ]
        assert got_n == [0, 1, 2, -5]
        strs = spark.createDataFrame([("2",), ("0",)], "s string")
        got_s = [
            r["b"]
            for r in strs.select(cl.bool_to_int("s").alias("b")).collect()
        ]
        assert got_s == [2, 0]
        # numerics OUTSIDE int32 range must null out, never
        # truthiness-collapse to 1 through the boolean fallback
        # (r8 advice): the fallback is gated to non-numeric input.
        big = spark.createDataFrame(
            [(5_000_000_000,), (-5_000_000_000,), (7,)], "n bigint"
        )
        got_b = [
            r["b"]
            for r in big.select(cl.bool_to_int("n").alias("b")).collect()
        ]
        assert got_b == [None, None, 7]
        dbl = spark.createDataFrame(
            [(1e20,), (float("nan"),), (2.0,)], "n double"
        )
        got_d = [
            r["b"]
            for r in dbl.select(cl.bool_to_int("n").alias("b")).collect()
        ]
        assert got_d == [None, None, 2]
        bigs = spark.createDataFrame([("99999999999",)], "s string")
        assert [
            r["b"]
            for r in bigs.select(cl.bool_to_int("s").alias("b")).collect()
        ] == [None]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_clean_table_not_null_fill_covers_all_kinds(spark):
    """C15 NOT-NULL defaults apply to float/bool/time, not just string
    (r7 review: only the string branch filled)."""
    from automatic_etl_spark.functions import cleaning as cl

    df = spark.createDataFrame(
        [("NaN", None, None, None)],
        "f string, b boolean, t string, s string",
    )
    out = cl.clean_table(
        df,
        {
            "f": {"kind": "float", "nullable": False},
            "b": {"kind": "bool", "nullable": False},
            "t": {"kind": "time", "nullable": False},
            "s": {"kind": "string", "nullable": False},
        },
    ).collect()[0]
    assert out["f"] == 0.0 and out["b"] == 0
    assert out["t"] == "N/A" and out["s"] == "N/A"


def test_encoding_fallback_decodes_cp1252(spark):
    """cp1252 must be reachable in the fallback chain — latin-1
    decodes every byte string, so it has to come LAST (r7 review:
    smart quotes decoded to C1 control chars)."""
    from automatic_etl_spark.functions.encoding import _decode_bytes

    assert _decode_bytes(b"\x93hi\x94", detect=False) == "“hi”"
    assert _decode_bytes("ñ".encode("utf-8"), detect=False) == "ñ"
    # bytes cp1252 cannot decode still fall through to latin-1
    assert _decode_bytes(b"\x81", detect=False) == "\x81"


def test_clean_table_builds_each_column_cleaner_once(spark, monkeypatch):
    """A second clean_table over another frame with the same column
    specs reuses the cleaners built for the first: its Py4J calls do
    not grow with the cleaners' size. The cleaners are keyed on the
    source dtype too: a float column read as text after one read as a
    double still takes the numeric-text gate ('0d' → NULL, where a bare
    cast reads 0.0)."""
    from py4j.java_gateway import GatewayClient

    specs = {
        "id": {"kind": "integer", "pk": True, "nullable": False},
        "f": {"kind": "temporal"},
        "nombre": {"kind": "string", "nullable": False},
        "amount": {"kind": "float"},
        "activo": {"kind": "bool"},
    }
    select = "SELECT * FROM VALUES {} AS t(id, f, nombre, amount, activo)"
    typed = spark.sql(select.format("('9', NULL, 'c', CAST(2.5 AS DOUBLE), '0')"))
    assert [tuple(r) for r in cl.clean_table(typed, specs).collect()] == [
        (9, None, "c", 2.5, 0)
    ]
    text = spark.sql(select.format("('7', '2020-01-01', ' a\t b ', '0d', 'x')"))
    assert [tuple(r) for r in cl.clean_table(text, specs).collect()] == [
        (7, dt.datetime(2020, 1, 1), "a b", None, None)
    ]
    other = spark.sql(select.format("('8', '0000-00-00', NULL, '2.5', '1')"))
    other.schema  # fetch the schema before counting

    calls = []
    send = GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        # "m\nd" releases a garbage-collected Python proxy, not a build call
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    second = cl.clean_table(other, specs)
    monkeypatch.undo()

    # one list append per column plus the select itself; the first
    # build of these five cleaners costs about a thousand calls
    assert len(calls) <= len(specs) + 8, calls
    assert [tuple(r) for r in second.collect()] == [(8, None, "N/A", 2.5, 1)]
