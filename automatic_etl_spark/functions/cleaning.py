"""Data-cleaning expression library (SURVEY.md §2.7, operators C1-C19).

The reference cleans cell-by-cell in Python (pandas ``apply`` over
every value — reference tools/ingest_runner.py:227-1051,
tools/data_cleaner_robust.py:39-414). Here every rule is a composable
``Column`` expression, so a whole table cleans in ONE projection inside
whole-stage codegen — no Python on the hot path. The single exception
is encoding repair (C13), which is inherently per-value Python and
lives in :mod:`automatic_etl_spark.functions.encoding` as a pandas UDF.

All expressions are ANSI-safe (``try_cast``/``try_to_timestamp``): they
null-on-error even when the session runs with
``spark.sql.ansi.enabled=true``, matching the reference's
tolerate-and-null semantics.

Semantics ported (reference file:line):
- C1  temporal sanitation: zero-dates/sentinels → NULL, year ≤1900 or
      ≥2100 → NULL (ingest_runner.py:227-305, range check 292-297)
- C3  datetime range clamp → NULL outside [1970, 2299]
      (ingest_runner.py:807-876)
- C4  TIME/timedelta → "HH:MM:SS" (ingest_runner.py:380-405)
- C5  integer cleaning: sentinel strings → NULL (0 if PK), "123.0" →
      123, non-integral floats → NULL (ingest_runner.py:506-574)
- C6  Int32 overflow guard → NULL (ingest_runner.py:916-964)
- C7  numeric range clamp to target-type bounds
      (data_cleaner_robust.py:53-65,161-202)
- C8  NaN/Inf → NULL (ingest_runner.py:877-889)
- C9  bool → 0/1 (ingest_runner.py:909-910)
- C12 mojibake repair (ingest_runner.py:308-341)
- C14 string normalization (data_cleaner_robust.py:125-159)
- C15 NOT-NULL default fill (ingest_runner.py:629-694)
- C18 zero-date final guard (ingest_runner.py:891-895)
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# C5: null-sentinel strings (ingest_runner.py:506-574).
NULL_SENTINELS = ("null", "NULL", "nan", "NaN", "None", "", "na", "NA")

# C14: the reference's whitespace handling is Python 3 (``\s`` and
# ``str.strip`` are Unicode-aware — NBSP etc. count as whitespace);
# Java's ``\s`` and ``trim`` are ASCII-only. This literal class lists
# the Unicode space characters explicitly with ``\x{...}`` escapes,
# which BOTH Java regex (Spark) and RE2 (DuckDB oracles) accept —
# found by the hypothesis property tests (U+00A0 survived trim).
UNICODE_WS_CLASS = (
    r"[\s\x{00a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}"
    r"\x{205f}\x{3000}]"
)

# C1/C18: MySQL zero-dates (ingest_runner.py:266-267,891-895).
ZERO_DATES = ("0000-00-00", "0000-00-00 00:00:00")

# C12: latin1-read-as-utf8 mojibake pairs, derived programmatically:
# the broken form of a char is its UTF-8 bytes mis-decoded as latin-1
# (e.g. 'á' → 'Ã¡'). Plus the documented '??'→'ó' repair
# (ingest_runner.py:308-341 semantics).
_ACCENTED = "áéíóúñüÁÉÍÓÚÑÜ"
MOJIBAKE_REPAIRS: tuple[tuple[str, str], ...] = tuple(
    (ch.encode("utf-8").decode("latin-1"), ch) for ch in _ACCENTED
) + (("??", "ó"),)

# C7: target-type numeric bounds (data_cleaner_robust.py:53-65).
TYPE_RANGES: dict[str, tuple[float, float]] = {
    "Int8": (-128, 127),
    "Int16": (-32768, 32767),
    "Int32": (-2147483648, 2147483647),
    "Int64": (-9223372036854775808, 9223372036854775807),
    "UInt8": (0, 255),
    "UInt16": (0, 65535),
    "UInt32": (0, 4294967295),
    "UInt64": (0, 18446744073709551615),
    "Float32": (-3.4028235e38, 3.4028235e38),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --- C1 + C18: temporal sanitation ------------------------------------------


def sanitize_dates(
    c: Column | str, min_year: int = 1901, max_year: int = 2099
) -> Column:
    """String/temporal → TimestampType with the reference's C1 rules.

    ``''``, sentinels, zero-dates → NULL; unparseable → NULL; year
    outside [min_year, max_year] → NULL. Dates become midnight
    timestamps (date→datetime promotion, ingest_runner.py:298-301).
    """
    s = F.trim(_col(c).cast("string"))
    ts = F.coalesce(
        F.try_to_timestamp(s),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
    )
    ts = F.when(s.isin(*NULL_SENTINELS, *ZERO_DATES), F.lit(None)).otherwise(ts)
    return F.when(F.year(ts).between(min_year, max_year), ts)


# --- C3: datetime range clamp ------------------------------------------------


def clamp_datetime_range(
    c: Column | str,
    lo: str = "1970-01-01 00:00:00",
    hi: str = "2299-12-31 23:59:59",
) -> Column:
    """Timestamps outside [lo, hi] → NULL (ingest_runner.py:807-876)."""
    col = _col(c)
    return F.when(
        col.between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")),
        col,
    )


# --- C4: TIME / timedelta → "HH:MM:SS" --------------------------------------


def format_time(c: Column | str) -> Column:
    """``'0 days 12:02:03'`` / ``'12:02:03.456'`` → ``'12:02:03'``.

    Pandas-artifact handling (Timedelta string forms) done as a regexp
    — NULL when no time-of-day component is found.
    """
    extracted = F.regexp_extract(
        _col(c).cast("string"), r"(\d{1,2}:\d{2}:\d{2})", 1
    )
    return F.when(extracted != "", extracted)


# --- C5 + C6: integer cleaning -----------------------------------------------

# The PINNED numeric-text contract: plain decimal or scientific
# notation only. Every engine's native parser accepts a different
# superset — Java/Spark casts take '0d'/'5f' suffixes, Python's
# float() takes '1_000' and 'inf', DuckDB rejects both — so numeric
# coercion guards on this portable subset before any cast (found by
# the hypothesis property sweep: Spark parsed '0d' → 0 where the
# pandas-model and DuckDB both null it).
NUMERIC_TEXT_PATTERN = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$"


def _numeric_text(s: Column) -> Column:
    """NULL-on-nonconforming gate for the numeric-text contract."""
    return F.when(s.rlike(NUMERIC_TEXT_PATTERN), s)


def clean_integers(c: Column | str, pk: bool = False) -> Column:
    """String/float-ish → LongType with C5 semantics.

    Sentinels → NULL; ``"123.0"`` → 123; non-integral floats → NULL;
    unparseable → NULL (per NUMERIC_TEXT_PATTERN — stricter than raw
    engine casts, see the contract note above); PK/NOT-NULL columns
    get 0 instead of NULL (ingest_runner.py:540-544).
    """
    s = F.trim(_col(c).cast("string"))
    gated = F.when(~s.isin(*NULL_SENTINELS), _numeric_text(s))
    # Integer-literal strings parse DIRECTLY to long: the double
    # round-trip loses exactness above 2^53 (e.g. snowflake-style IDs
    # — '9007199254740993' would round to ...992, silently merging two
    # distinct PKs). Only decimal/exponent forms take the double path,
    # where the floor gate nulls non-integral values.
    direct = gated.rlike(r"^[+-]?\d+$")
    d = gated.try_cast("double")
    as_long = F.when(direct, gated.try_cast("long")).otherwise(
        F.when(d == F.floor(d), d).try_cast("long")
    )
    return F.coalesce(as_long, F.lit(0)) if pk else as_long


def int32_overflow_guard(c: Column | str) -> Column:
    """Values outside Int32 → NULL (C6, ingest_runner.py:916-964)."""
    col = _col(c)
    lo, hi = TYPE_RANGES["Int32"]
    return F.when(col.between(F.lit(int(lo)), F.lit(int(hi))), col)


# --- C7: numeric range clamp -------------------------------------------------


def clamp_numeric(c: Column | str, target_type: str = "Int32") -> Column:
    """Clamp (not null) to the target type's bounds — reference clamps
    to min/max rather than nulling (data_cleaner_robust.py:161-202)."""
    lo, hi = TYPE_RANGES[target_type]
    col = _col(c)
    return F.greatest(F.least(col, F.lit(hi)), F.lit(lo))


# --- C8: float special values ------------------------------------------------


def clean_floats(c: Column | str, from_text: bool = False) -> Column:
    """NaN/±Inf → NULL (ingest_runner.py:877-889).

    ``from_text=True`` additionally gates on NUMERIC_TEXT_PATTERN —
    use it when the input column is a raw string (CSV/JSON ingests),
    where engine-native casts accept engine-specific supersets ('0d'
    in Java, '1_0' in Python). Already-numeric columns skip the
    string round-trip entirely (the hot path at scale)."""
    col = _col(c)
    if from_text:
        col = _numeric_text(F.trim(col.cast("string")))
    col = col.try_cast("double")
    bad = F.isnan(col) | (col == F.lit(float("inf"))) | (
        col == F.lit(float("-inf"))
    )
    return F.when(~bad, col)


# --- C9: bool → int ----------------------------------------------------------


def bool_to_int(c: Column | str) -> Column:
    """try_cast, not cast: under ANSI mode a plain CAST('yes' AS INT)
    throws and fails the whole job — this module's contract is
    null-on-error everywhere (see header).

    The numeric path comes FIRST: tinyint(1) sources can carry values
    other than 0/1, and routing them through a boolean cast would
    truthiness-coerce (2 → 1, -5 → 1) instead of value-preserving the
    way the reference's int() conversion does. The boolean fallback is
    additionally gated to NON-numeric inputs: a numeric that merely
    overflows INT32 (bigint 5e9, double 1e20, NaN) fails
    try_cast('int') but would truthiness-collapse to 1 through a
    boolean cast — silent corruption (r8 advice); under this module's
    null-on-error contract it must become NULL instead. Only inputs
    with no numeric reading at all (booleans, 'yes'/'true'/'false'
    strings) reach the boolean path."""
    col = _col(c)
    non_numeric = col.try_cast("double").isNull()
    return F.coalesce(
        col.try_cast("int"),
        F.when(non_numeric, col.try_cast("boolean").try_cast("int")),
    )


# --- C12: mojibake repair ----------------------------------------------------


def fix_mojibake(c: Column | str) -> Column:
    """Chained literal replaces of the known mojibake pairs — stays in
    codegen (no regex engine, no Python)."""
    col = _col(c)
    for broken, fixed in MOJIBAKE_REPAIRS:
        col = F.replace(col, F.lit(broken), F.lit(fixed))
    return col


# --- C14: string normalization ----------------------------------------------


def normalize_strings(c: Column | str) -> Column:
    """strip; ``\\r\\n\\t`` → space; collapse whitespace runs; strip
    control chars; empty → NULL (data_cleaner_robust.py:125-159 +
    control-char strip :39-41)."""
    col = _col(c).cast("string")
    col = F.regexp_replace(col, r"[\x00-\x1f\x7f-\x9f]", " ")
    col = F.regexp_replace(col, UNICODE_WS_CLASS + "+", " ")
    col = F.trim(col)
    return F.when(col != "", col)


# --- C15: NOT-NULL default fill ----------------------------------------------


def fill_not_null_default(
    c: Column | str, dtype: str, column_name: str, pk: bool = False
) -> Column:
    """NOT-NULL columns get type-appropriate defaults: strings 'N/A'
    (PK strings 'default_{col}_pk'), numerics 0/0.0
    (ingest_runner.py:629-694)."""
    col = _col(c)
    if dtype == "string":
        default = f"default_{column_name}_pk" if pk else "N/A"
        return F.coalesce(col, F.lit(default))
    if dtype in ("double", "float"):
        return F.coalesce(col, F.lit(0.0))
    return F.coalesce(col, F.lit(0))


# --- Schema-driven whole-table clean (the §3.1 single projection) -----------


def clean_table(df, specs: dict[str, dict]):
    """Apply the right cleaner per column in ONE select projection.

    ``specs[col] = {"kind": "temporal|integer|float|string|bool|time",
    "nullable": bool, "pk": bool}`` — the shape reflection produces
    (S3). Unspecified columns pass through untouched.

    Each column's expression is built once per spec and reused
    (:func:`_column_cleaner`): building one costs up to a few hundred
    Py4J calls, and a reload cleans the same schemas every time.
    """
    gateway = SparkContext._gateway
    projections = []
    for fld in df.schema.fields:
        spec = specs.get(fld.name)
        if spec is None:
            projections.append(_column_cleaner(gateway, fld.name, None))
            continue
        kind = spec.get("kind", "string")
        projections.append(
            _column_cleaner(
                gateway,
                fld.name,
                kind,
                bool(spec.get("pk")),
                bool(spec.get("nullable", True)),
                # raw-string sources (CSV/JSON) get the strict numeric-text
                # gate; already-numeric columns take the cast-only fast path
                kind == "float" and isinstance(fld.dataType, StringType),
            )
        )
    return df.select(*projections)


@functools.lru_cache(maxsize=4096)
def _column_cleaner(
    gateway,
    name: str,
    kind: str | None,
    pk: bool = False,
    nullable: bool = True,
    from_text: bool = False,
) -> Column:
    """The cleaned, aliased projection of one column (``kind=None``:
    pass-through). Columns are unresolved JVM expressions, so one can
    serve every frame with that column; the gateway is part of the key
    because a Column is only valid in the JVM that built it."""
    if kind is None:
        return F.col(name)
    if kind == "temporal":
        col = clamp_datetime_range(sanitize_dates(name))
    elif kind == "integer":
        col = clean_integers(name, pk=pk or not nullable)
    elif kind == "float":
        col = clean_floats(name, from_text=from_text)
        if not nullable:
            col = fill_not_null_default(col, "double", name, pk=pk)
    elif kind == "bool":
        col = bool_to_int(name)
        if not nullable:
            col = fill_not_null_default(col, "int", name, pk=pk)
    elif kind == "time":
        col = format_time(name)
        if not nullable:
            # time renders as "HH:MM:SS" text — string default
            col = fill_not_null_default(col, "string", name, pk=pk)
    else:
        col = normalize_strings(fix_mojibake(name))
        if not nullable:
            col = fill_not_null_default(col, "string", name, pk=pk)
    # C15 covers every kind (ingest_runner.py:629-694): the fill
    # was previously applied only on the string branch, so a
    # NOT-NULL float/bool/time column kept NULLs and failed
    # downstream constraints. temporal/integer need no branch here
    # — integer handles NOT NULL via pk-fill inside clean_integers,
    # and a NOT-NULL temporal has no sane sentinel (reference nulls
    # too).
    return col.alias(name)
