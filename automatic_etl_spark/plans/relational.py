"""BI/relational query pack (SURVEY.md §2.3-§2.6, §2.11).

Each entry re-expresses one operator the reference issues as generated
ClickHouse SQL (Metabase/Superset cards, audits, catalog probes) as an
idiomatic DataFrame plan, paired with a DuckDB oracle.

Determinism rules shared by every pair:
- Aggregates over doubles are summed as exact scaled-integer BIGINTs
  (floor(x*10^k + 0.5)) in BOTH engines and rendered through ONE
  int64→double conversion + one division: integer addition is exact
  and order-independent, so the value-hash cannot drift with
  partitioning/merge order, and — unlike the pre-r9 DECIMAL-sum form —
  the final conversion stays correctly rounded even when the scaled
  sum exceeds 2^53 (the r9 pseudo-sf1 sweep caught pricing_summary's
  decimal→double conversion double-rounding differently per engine
  once sum_charge's unscaled value crossed 9e15).
- Every top-N is ordered by a unique total order (tiebreakers pinned).
- Computed columns share the same alias on both sides (driver compares
  by column name).

Scale notes: all plans below are single-shuffle where the semantics
allow; dimension joins broadcast (region/nation/supplier are tiny and
Catalyst broadcasts them under the configured threshold); filters and
projections sit directly on the parquet scan so pushdown/pruning apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from automatic_etl_spark.functions.quantize import qround  # noqa: F401
from automatic_etl_spark.operators.dedup import latest_version
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.sources.parquet import table

# qround is re-exported: the plan packs import their render helpers
# from this module; its canonical definition lives in
# functions/quantize.py so operators can use it without depending on
# a plan module.


def dsum(expr: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent sum of a double expression (see module doc):
    exact BIGINT sum of floor(x·10^scale + 0.5) rendered as
    CAST(sum AS DOUBLE) / 10^scale. SQL mirror per site: prefer
    :func:`_sql_dsum` (single-source scale constant); legacy sites spell
    ``CAST(SUM(CAST(floor(x * 1eK + 0.5) AS BIGINT)) AS DOUBLE) / 1eK``
    and ``tests/test_quantize_idiom.py`` pins multiplier == divisor.

    Rounding semantics: floor(x·s + 0.5) is HALF_UP for x ≥ 0 but
    half-toward-+inf for negative half-boundary values (-2.5 → -2,
    where DECIMAL HALF_UP gives -3). Both engines evaluate the same
    IEEE expression, so there is no oracle drift; the shift is only
    visible if a negative input carries more precision than `scale`
    (c_acctbal / events.value are 2-dp at source, so current callers
    never observe it)."""
    col = F.col(expr) if isinstance(expr, str) else expr
    s = F.lit(float(10**scale))
    return (
        (F.sum(F.floor(col * s + F.lit(0.5)).cast("long")).cast("double") / s)
        .alias(alias)
    )


def micro_long(expr: Column | str, scale: float) -> Column:
    """floor(x·scale + 0.5) as BIGINT — the per-row half of :func:`dsum`,
    for callers that aggregate the scaled integers themselves (window
    frames, HAVING thresholds, share numerators). Same negative-half
    semantics as :func:`dsum` (half-toward-+inf, engine-consistent)."""
    col = F.col(expr) if isinstance(expr, str) else expr
    return F.floor(col * F.lit(scale) + F.lit(0.5)).cast("long")




def _sql_qround(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of :func:`qround`, generated from the same scale
    constant so multiplier and divisor can never drift apart."""
    return f"floor(({expr}) * 1e{scale} + 0.5) / 1e{scale}"


def _sql_hex_val(digit: str) -> str:
    """DuckDB mirror of :func:`functions.text.hex_val`: a lowercase
    hex digit → 0..15 via ascii arithmetic."""
    return (
        f"CASE WHEN {digit} BETWEEN '0' AND '9' THEN ascii({digit}) - 48 "
        f"ELSE ascii({digit}) - 87 END"
    )


def _sql_dsum(expr: str, alias: str, scale: int = 2) -> str:
    """DuckDB mirror of :func:`dsum` — single-source scale constant
    (ADVICE r9: hand-duplicated multiplier/divisor pairs can drift;
    generating both from one ``scale`` makes the typo impossible)."""
    return (
        f"(CAST(SUM(CAST(floor(({expr}) * 1e{scale} + 0.5) AS BIGINT)) "
        f"AS DOUBLE) / 1e{scale}) AS {alias}"
    )


# --- A1: full-table COUNT (reference tools/ingest_runner.py:1880) -----------


@register(
    "count_star",
    oracle="SELECT COUNT(*) AS cnt FROM lineitem",
)
def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Parquet scan answers this from footer metadata — no data read, so
    # skip the fan-out repartition (it would force row materialization).
    return table(spark, sf_dir, "lineitem", fan_out=False).agg(
        F.count("*").alias("cnt")
    )


# --- A3: grouped count, single key (reference tools/cdc_monitor.sh:48) ------


@register(
    "grouped_count",
    oracle="SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
)
def grouped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )


# --- A2: grouped count, multi key (tools/multi_database_auditor.py:234) -----


@register(
    "grouped_count_multi",
    oracle="""
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY user_id, event_type
    """,
)
def grouped_count_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events", fan_out=False)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
    )


# --- A4: SUM aggregate (tools/recover_superset_metabase.py:63-66) -----------


@register(
    "sum_agg",
    oracle="""
        SELECT o_orderstatus,
               (CAST(SUM(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) AS total,
               COUNT(*) AS cnt
        FROM orders GROUP BY o_orderstatus
    """,
)
def sum_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(dsum("o_totalprice", "total"), F.count("*").alias("cnt"))
    )


# --- A5: conditional aggregation / null-rate profiling ----------------------
# (docs/SUPERSET_DATE_HANDLING.md:84-90 — SUM(isNull(c)) pattern)


@register(
    "conditional_agg",
    oracle="""
        SELECT event_type,
               CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cnt,
               CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_cnt,
               CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt
        FROM events GROUP BY event_type
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    value = F.col("value")
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(value.isNull(), 1).otherwise(0)).alias("null_cnt"),
            F.sum(F.when(value.isNotNull(), 1).otherwise(0)).alias("not_null_cnt"),
            F.sum(F.when(value >= 100, 1).otherwise(0)).alias("high_cnt"),
        )
    )


# --- O1: recent-N by time (tools/metabase_schema_discovery.py:196) ----------


@register(
    "recent_n",
    oracle="""
        SELECT event_id, ts, user_id, event_type
        FROM events ORDER BY ts DESC, event_id DESC LIMIT 10
    """,
)
def recent_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Catalyst plans TakeOrderedAndProject: per-partition top-N, then a
    # single-partition merge of N·num_partitions rows — no full sort.
    return (
        table(spark, sf_dir, "events", fan_out=False)
        .select("event_id", "ts", "user_id", "event_type")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(10)
    )


# --- O3: top-k by count (tools/identify_useful_tables.py:101-104) -----------


@register(
    "top_k_users",
    oracle="""
        SELECT user_id, COUNT(*) AS cnt
        FROM events GROUP BY user_id
        ORDER BY cnt DESC, user_id ASC LIMIT 10
    """,
)
def top_k_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
    )


# --- O4: UNION ALL with literal labels --------------------------------------
# (tools/create_working_metabase_questions.py:101-120)


@register(
    "union_all_labels",
    oracle="""
        SELECT 'orders' AS category, COUNT(*) AS cnt FROM orders
        UNION ALL
        SELECT 'customers' AS category, COUNT(*) AS cnt FROM customer
        UNION ALL
        SELECT 'parts' AS category, COUNT(*) AS cnt FROM part
    """,
)
def union_all_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    def branch(name: str, label: str) -> DataFrame:
        return table(spark, sf_dir, name).agg(
            F.lit(label).alias("category"), F.count("*").alias("cnt")
        )

    return (
        branch("orders", "orders")
        .unionByName(branch("customer", "customers"))
        .unionByName(branch("part", "parts"))
    )


# --- O5: sampling (tools/metabase_schema_discovery.py:197) ------------------
# Deterministic hash-Bernoulli sample: md5 over the row key plays the
# RNG, so BOTH engines compute the identical sample and the check is a
# full value-hash, not rows-only. (Spark's seeded ``df.sample`` exists
# but its RNG is engine-specific — partition-seeded XORShift — so it
# can never be cross-checked; a keyed hash is also the reproducible
# choice at 100 TB, where sampling must be stable under repartitioning
# and retries.)


@register(
    "sample_scan",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM (
            SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                   md5(CAST(l_orderkey AS VARCHAR) || '|'
                       || CAST(l_linenumber AS VARCHAR)) AS h
            FROM lineitem
        )
        WHERE substr(h, 1, 2) < '0d'
        ORDER BY h, l_orderkey, l_linenumber, l_quantity, l_extendedprice
        LIMIT 20
    """,
)
def sample_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
    )
    return (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            h.alias("h"),
        )
        .filter(F.substring("h", 1, 2) < "0d")
        .orderBy("h", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(20)
        .drop("h")
    )


# --- S4: row limit (tools/ingest_runner.py:1475-1477), pinned order ---------


@register(
    "limit_scan",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        LIMIT 100
    """,
)
def limit_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fixture lineitem is NOT TPC-H-unique on (l_orderkey,
    # l_linenumber) — 45,832 distinct pairs over 60,000 rows, with ties
    # at the LIMIT boundary — so the sort must cover every projected
    # column to be total (engines break ties differently otherwise).
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(100)
    )


# --- J1: LEFT JOIN + GROUP BY (tools/verify_clean_state.py:41-46) -----------


@register(
    "left_join_group",
    oracle="""
        SELECT r_name, COUNT(n_nationkey) AS nations
        FROM region LEFT JOIN nation ON r_regionkey = n_regionkey
        GROUP BY r_name
    """,
)
def left_join_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    return (
        region.join(
            nation, region.r_regionkey == nation.n_regionkey, "left"
        )
        .groupBy("r_name")
        .agg(F.count("n_nationkey").alias("nations"))
    )


# --- J2/Q1: row-count reconciliation (tools/ingest_runner.py:1874-1915) -----
# Source vs sink counts paired by key, diff + verdict. The "sink" is a
# deterministic subset (every 97th order dropped) to exercise non-zero
# diffs, mirroring the audit fixture F8.


@register(
    "reconciliation",
    oracle="""
        WITH src AS (
            SELECT o_orderstatus AS status, COUNT(*) AS src_cnt
            FROM orders GROUP BY o_orderstatus
        ), snk AS (
            SELECT o_orderstatus AS status, COUNT(*) AS snk_cnt
            FROM orders WHERE o_orderkey % 97 <> 0 GROUP BY o_orderstatus
        )
        SELECT COALESCE(src.status, snk.status) AS status,
               COALESCE(src_cnt, 0) AS src_cnt,
               COALESCE(snk_cnt, 0) AS snk_cnt,
               COALESCE(src_cnt, 0) - COALESCE(snk_cnt, 0) AS diff,
               CASE WHEN COALESCE(src_cnt, 0) = COALESCE(snk_cnt, 0)
                    THEN 'OK' ELSE 'MISMATCH' END AS verdict
        -- IS NOT DISTINCT FROM mirrors the operator's null-safe key
        -- pairing (a NULL key that reconciles must not split into two
        -- MISMATCH rows)
        FROM src FULL OUTER JOIN snk
          ON src.status IS NOT DISTINCT FROM snk.status
    """,
)
def reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from automatic_etl_spark.operators.audit import reconcile_counts

    orders = table(spark, sf_dir, "orders", fan_out=False)
    sink = orders.filter(F.col("o_orderkey") % 97 != 0)
    return reconcile_counts(orders, sink, key="o_orderstatus", key_alias="status")


# --- P6: JSON field extraction --------------------------------------------
# (tools/create_working_metabase_questions.py:81-100 — JSONExtractString)


@register(
    "json_extract_group",
    oracle="""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    """,
)
def json_extract_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .withColumn(
            "k_bucket",
            F.get_json_object(F.col("props"), "$.k").cast("bigint") % 10,
        )
        .groupBy("k_bucket")
        .agg(F.count("*").alias("cnt"))
    )


# --- P7: JSON key enumeration (tools/metabase_schema_discovery.py:202-210) --


@register(
    "json_keys_freq",
    oracle="""
        SELECT array_to_string(json_keys(props), ',') AS keyset, COUNT(*) AS cnt
        FROM events GROUP BY 1
    """,
)
def json_keys_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .withColumn(
            "keyset", F.array_join(F.json_object_keys(F.col("props")), ",")
        )
        .groupBy("keyset")
        .agg(F.count("*").alias("cnt"))
    )


# --- W1 flagship: ranked dedup + daily rollup -------------------------------
# (tools/ingest_runner.py:1576-1588 — the reference's signature operator)

_DEDUP_LATEST_ORACLE = """
    WITH ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC NULLS LAST, event_id ASC
        ) AS rn
        FROM events
    ), latest AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           COUNT(*) AS cnt,
           (CAST(SUM(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) AS total_value
    FROM latest GROUP BY 1, 2
"""


def flagship_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan → window dedup → date-helper projection → agg, one pipeline.

    Single shuffle on (user_id, event_type) for the window; the rollup
    re-shuffles on (event_date, event_type) with map-side partial agg.
    """
    events = table(spark, sf_dir, "events", fan_out=False)
    latest = latest_version(
        events,
        keys=("user_id", "event_type"),
        version_cols=("ts",),
        tiebreaker=("event_id",),
    )
    return (
        latest.withColumn("event_date", F.to_date("ts"))  # P2 date helper
        .groupBy("event_date", "event_type")
        .agg(F.count("*").alias("cnt"), dsum("value", "total_value"))
    )


register("dedup_latest", oracle=_DEDUP_LATEST_ORACLE)(flagship_dedup_rollup)


# --- W3: subset dedup keeping newest (tools/ingest_runner.py:1395-1401) -----


@register(
    "dedup_subset",
    oracle="""
        WITH ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id ORDER BY ts DESC NULLS LAST, event_id ASC
            ) AS rn
            FROM events
        )
        SELECT event_id, ts, user_id, event_type, value
        FROM ranked WHERE rn = 1
    """,
)
def dedup_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    return latest_version(
        events, keys=("user_id",), version_cols=("ts",), tiebreaker=("event_id",)
    ).select("event_id", "ts", "user_id", "event_type", "value")


# --- Extension: ROLLUP (free via Spark; reference §2.4 note) ----------------


@register(
    "rollup_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               (CAST(SUM(CAST(floor((l_quantity) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) AS sum_qty,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem", fan_out=False)
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("cnt"))
    )


# --- Headline join: revenue per nation (TPC-H Q5-shaped) --------------------
# The BI layer the reference delegates to runs arbitrary star joins
# (README.md:220-246); this is the representative heavy plan for bench.


@register(
    "revenue_by_nation",
    oracle="""
        SELECT n_name, r_name,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS revenue,
               COUNT(*) AS line_cnt
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderstatus <> 'F'
        GROUP BY n_name, r_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out=False (r14): every scan here feeds a join/partial-agg
    # directly — no per-row-heavy expression sits below the first real
    # exchange, so the local fan-out repartition was a pure extra
    # round-robin shuffle (+ its sort) of all three tables (interleaved
    # A/B at sf0.1: 1.59 → 0.99 s).
    lineitem = table(spark, sf_dir, "lineitem", fan_out=False)
    orders = table(spark, sf_dir, "orders", fan_out=False).filter(
        F.col("o_orderstatus") != "F"
    )
    customer = table(spark, sf_dir, "customer", fan_out=False)
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    revenue = micro_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 1e4
    )
    return (
        # broadcast() pinned ONLY for fixed-cardinality dims (nation=25,
        # region=5 rows at ANY scale factor). customer/orders scale with
        # the data — AQE broadcasts them when they fit and falls back to
        # shuffle joins at 100 TB; a forced hint would OOM the driver.
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            (F.sum(revenue).cast("double") / F.lit(1e4)).alias("revenue"),
            F.count("*").alias("line_cnt"),
        )
    )


# --- Extension: window frame (moving average) -------------------------------
# Frame-spec windows are in Spark's extension space (§2.5 note). Sums
# are exact BIGINT cent-units (order-independent under any
# frame-evaluation algorithm); the average is derived as double
# division of identical operands on both sides.


@register(
    "daily_moving_avg",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   SUM(CAST(floor(value * 1e2 + 0.5) AS BIGINT)) AS rev
            FROM events GROUP BY 1
        )
        SELECT d,
               CAST(rev AS DOUBLE) / 1e2 AS day_value,
               CAST(SUM(rev) OVER w AS DOUBLE) / 1e2
                   / COUNT(*) OVER w AS moving_avg_7d
        FROM daily
        WINDOW w AS (ORDER BY d ASC ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def daily_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        table(spark, sf_dir, "events", fan_out=False)
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(micro_long("value", 1e2)).alias("rev"))
    )
    # Unpartitioned window is intentional and bounded: its input is the
    # DAILY rollup (one row per distinct day — thousands of rows even at
    # 100 TB of events), not the raw table. The heavy reduction happens
    # in the partial-agg groupBy above; the single-partition window then
    # touches only the tiny rollup.
    w = Window.orderBy(F.asc("d")).rowsBetween(-6, 0)
    return daily.select(
        "d",
        (F.col("rev").cast("double") / F.lit(1e2)).alias("day_value"),
        (
            F.sum("rev").over(w).cast("double") / F.lit(1e2)
            / F.count("*").over(w)
        ).alias("moving_avg_7d"),
    )


# --- A7/Q2: column profiling (tools/data_cleaner_robust.py:456-462) ---------


@register(
    "column_profile",
    oracle="""
        SELECT COUNT(*) AS row_cnt,
               COUNT(DISTINCT c_mktsegment) AS segment_nunique,
               CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS segment_nulls,
               COUNT(DISTINCT c_nationkey) AS nation_nunique,
               (CAST(SUM(CAST(floor((c_acctbal) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   AS acctbal_total
        FROM customer
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    seg = F.col("c_mktsegment")
    return table(spark, sf_dir, "customer").agg(
        F.count("*").alias("row_cnt"),
        F.countDistinct(seg).alias("segment_nunique"),
        F.sum(F.when(seg.isNull(), 1).otherwise(0)).alias("segment_nulls"),
        F.countDistinct("c_nationkey").alias("nation_nunique"),
        dsum("c_acctbal", "acctbal_total"),
    )


# --- BI delegate: classic analytical shapes (SURVEY.md §2.3 note) -----------
# The reference hands arbitrary SQL over ingested tables to its BI
# layer (README.md:220-246); these two classic pricing/priority reports
# exercise the heavy end of that surface: wide multi-aggregate scan and
# a 3-way join topped with ranked top-N.


@register(
    "pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(floor(l_quantity * 1e2 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e2 AS sum_qty,
               CAST(SUM(CAST(floor(l_extendedprice * 1e2 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e2 AS sum_base_price,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1e4 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e4 AS sum_disc_price,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e6 AS sum_charge,
               CAST(SUM(CAST(floor(l_quantity * 1e2 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e2 / COUNT(*) AS avg_qty,
               CAST(SUM(CAST(floor(l_discount * 1e4 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e4 / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one wide multi-aggregate pass over the filtered
    fact scan — partial aggregation collapses everything map-side, the
    single exchange carries only (flag, status) groups.

    Money sums are exact scaled-integer BIGINT sums rendered through
    ONE int64→double conversion (IEEE round-to-nearest, identical in
    both engines) and one division — never `CAST(SUM(DECIMAL) AS
    DOUBLE)`. The decimal form diverged at pseudo-sf1 (r9 10× sweep,
    first round with replicated lineitem): once the decimal's unscaled
    value exceeds 2^53 (sum_charge at scale 6 crosses at ~9e9 total),
    the decimal→double conversion is DOUBLE-ROUNDED differently per
    engine (JVM BigDecimal.doubleValue vs DuckDB int/10^scale) — a
    last-ulp divergence invisible below ~6M rows. At true 100 TB the
    BIGINT micro-unit sums would themselves need DECIMAL(38,0)
    accumulators past ~9e18 micros; the render-as-canonical-string
    path (decimal_fidelity_agg) is the convention there."""
    li = table(spark, sf_dir, "lineitem", fan_out=False).filter(
        F.col("l_shipdate") <= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))

    def micro_sum(expr, scale: float):
        return F.sum(
            F.floor(expr * F.lit(scale) + F.lit(0.5)).cast("long")
        ).cast("double") / F.lit(scale)

    qty_sum = micro_sum(F.col("l_quantity"), 1e2)
    disc_sum = micro_sum(F.col("l_discount"), 1e4)
    cnt = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qty_sum.alias("sum_qty"),
        micro_sum(F.col("l_extendedprice"), 1e2).alias("sum_base_price"),
        micro_sum(disc_price, 1e4).alias("sum_disc_price"),
        micro_sum(charge, 1e6).alias("sum_charge"),
        (qty_sum / cnt).alias("avg_qty"),
        (disc_sum / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "shipping_priority",
    oracle="""
        SELECT l_orderkey,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filtered sides joined into the fact
    scan (AQE broadcasts them when they fit), grouped revenue, ranked
    top-N (TakeOrderedAndProject — no global sort materializes).
    Deterministic tiebreak on l_orderkey."""
    # fan_out=False (r14): filters + joins + partial agg only below
    # the first exchange — see revenue_by_nation note.
    cust = table(spark, sf_dir, "customer", fan_out=False).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders", fan_out=False).filter(
        F.col("o_orderdate") < F.lit("1998-06-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem", fan_out=False).filter(
        F.col("l_shipdate") > F.lit("1998-06-15 00:00:00").cast("timestamp")
    )
    return (
        # orders/customer scale with the data — no forced broadcast
        # (AQE picks broadcast locally, shuffle joins at cluster scale)
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                scale=4,
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- Classic BI shapes, third batch (SURVEY.md §2.3 note) -------------------


@register(
    "promo_revenue_share",
    oracle="""
        SELECT (CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1e4 + 0.5) AS BIGINT)
                   ELSE 0 END) AS DOUBLE) / 1e4) AS promo_revenue,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS total_revenue,
               (CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1e4 + 0.5) AS BIGINT)
                   ELSE 0 END) AS DOUBLE) / 1e4)
                   / (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS promo_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: the conditional-revenue-share report — one
    month of the fact scan joined to part (AQE broadcasts part when it
    fits), two conditional exact cent-unit sums, the share derived as
    one double division of exact sums so both engines agree
    bit-for-bit."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part")
    rev = micro_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 1e4
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    ).cast("double") / F.lit(1e4)
    total = F.sum(rev).cast("double") / F.lit(1e4)
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        promo.alias("promo_revenue"),
        total.alias("total_revenue"),
        (promo / total).alias("promo_share"),
    )


@register(
    "shipmode_priority_counts",
    oracle="""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_linestatus
    """,
)
def shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-to-orders join with IN-list conditional
    counts over a one-year shipdate window. (Q12 groups by l_shipmode;
    the testdata schema has no shipmode, so l_linestatus carries the
    grouping role.)"""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    # when/otherwise, not a bare boolean cast: isin() over a NULL
    # priority yields NULL, which SUM skips (NULL for an all-null
    # group) while the oracle's CASE ... ELSE 0 sums to 0. A NULL
    # priority counts as NEITHER high nor low on both sides (IN and
    # NOT IN are both NULL → ELSE 0).
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "disjunctive_predicate_scan",
    oracle="""
        SELECT COUNT(*) AS line_cnt,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity >= 1 AND l_quantity <= 25)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity >= 10 AND l_quantity <= 40)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def disjunctive_predicate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of conjunctive predicate groups spanning
    both join sides. Catalyst pushes the single-side residuals down to
    each scan (the p_brand/p_size disjunction prunes part before the
    join; the l_quantity envelope prunes lineitem) and evaluates the
    cross-side conjunctions post-join — the plan to check when OR
    predicates are on the hot path."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    g1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 25)
    )
    g2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    g3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    rev = micro_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 1e4
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(g1 | g2 | g3)
        .agg(
            F.count("*").alias("line_cnt"),
            (F.sum(rev).cast("double") / F.lit(1e4)).alias("revenue"),
        )
    )


@register(
    "value_share_groups",
    oracle="""
        WITH g AS (SELECT (CAST(SUM(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                       AS total FROM events),
        per_user AS (
            SELECT user_id,
                   (CAST(SUM(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) AS user_total
            FROM events GROUP BY user_id
        )
        SELECT user_id, user_total
        FROM per_user, g
        WHERE user_total > 0.002 * total
    """,
)
def value_share_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose share of the GLOBAL sum exceeds a
    fraction. The global total is a 1-row aggregate OF the per-user
    DECIMAL rollup (decimal addition is exact and associative, so it
    equals the oracle's whole-table decimal sum bit-for-bit),
    broadcast-crossJoined back onto the rollup. NOT a
    Window.partitionBy() over the rollup: user cardinality scales with
    the data, and an unpartitioned window funnels every distinct user
    through one task — the single-partition anti-pattern this module's
    scale notes reject. The fact table is still scanned and shuffled
    once: both branches consume the same per-user aggregate exchange,
    which Spark's ReuseExchange collapses."""
    events = table(spark, sf_dir, "events")
    # integer cent-units: the global total is a sum OF the per-user
    # BIGINT sums — integer addition is exact and associative, so it
    # equals the oracle's whole-table sum bit-for-bit
    per_user = events.groupBy("user_id").agg(
        F.sum(micro_long("value", 1e2)).alias("user_cents")
    )
    total = per_user.agg(
        (F.sum("user_cents").cast("double") / F.lit(1e2)).alias("__total")
    )
    return (
        per_user.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            (F.col("user_cents").cast("double") / F.lit(1e2)).alias(
                "user_total"
            ),
            "__total",
        )
        .filter(F.col("user_total") > 0.002 * F.col("__total"))
        .select("user_id", "user_total")
    )


@register(
    "top_supplier_revenue",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey,
                   (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
              -- mirrors the engine's explicit filter: a NULL-suppkey
              -- group must not hold the scalar MAX on either engine
              AND l_suppkey IS NOT NULL
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_rev
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the max-over-AGGREGATE filter — suppliers
    whose quarterly revenue equals the maximum quarterly revenue. The
    heavy reduction (per-supplier revenue) happens once; the scalar
    max is a broadcast 1-row aggregate of that rollup, so the fact
    table is scanned and shuffled exactly once. Exact decimal sums
    make the equality comparison engine-stable."""
    # The explicit isnotnull(l_suppkey) matches the constraint the
    # downstream supplier join infers on its branch — without it the
    # two consumers of `rev` canonicalize differently and AQE cannot
    # reuse the per-supplier aggregate's shuffle (the fact table would
    # be scanned and shuffled twice).
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        & F.col("l_suppkey").isNotNull()
    )
    rev = (
        li.groupBy("l_suppkey").agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "total_rev",
                scale=4,
            )
        )
    )
    supplier = table(spark, sf_dir, "supplier")
    # Scalar max as a broadcast 1-row aggregate of the rollup, not an
    # unpartitioned window: supplier cardinality scales with the data,
    # and Window.partitionBy() would funnel the whole rollup through
    # one task. ReuseExchange keeps the fact scan/shuffle single.
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "returned_item_customers",
    oracle="""
        SELECT c_custkey, c_name, n_name,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue report — returned lineitems in a
    quarter attributed to customers, ranked top-20. Both selective
    filters reach their scans; nation is pinned broadcast (25 rows at
    any scale); top-N is TakeOrderedAndProject with a pinned
    tiebreak."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(rev, "revenue", scale=4))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "nation_trade_trend",
    oracle="""
        SELECT n_name, CAST(year(l_shipdate) AS INT) AS ship_year,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS revenue,
               COUNT(*) AS line_cnt
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE n_name IN ('NATION_1', 'NATION_2')
        GROUP BY n_name, year(l_shipdate)
    """,
)
def nation_trade_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue trend per year for a nation pair —
    date-part extraction as a grouping key over a star join. The
    nation IN-filter propagates through the broadcast join, so only
    the two nations' customers survive into the fact join. (The
    fixture names nations NATION_0..24, not the TPC-H country names —
    using real fixture values keeps the check non-vacuous.)"""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(
            dsum(rev, "revenue", scale=4),
            F.count("*").alias("line_cnt"),
        )
    )


# --- Extension: as-of (point-in-time) join ----------------------------------
# The canonical missing-from-Spark operator (composed from union +
# keyed window, operators/asof.py); the oracle runs DuckDB's NATIVE
# ASOF JOIN, cross-validating the construction against an independent
# implementation of the semantics.


@register(
    "asof_join_lag",
    oracle="""
        WITH p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ),
        s AS (
            SELECT user_id, ts FROM events WHERE event_type = 'signup'
        ),
        j AS (
            SELECT p.event_id, p.ts AS pts, s.ts AS sts
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND p.ts >= s.ts
        )
        SELECT COUNT(*) AS purchase_cnt,
               COUNT(sts) AS matched_cnt,
               CAST(SUM(epoch_ms(pts) - epoch_ms(sts)) AS BIGINT) AS lag_ms_total
        FROM j
    """,
)
def asof_join_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's latest signup at-or-before
    it; reports match coverage and total signup→purchase lag."""
    from automatic_etl_spark.operators.asof import as_of_join

    events = table(spark, sf_dir, "events", fan_out=False)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts"
    )
    joined = as_of_join(purchases, signups, keys=["user_id"])
    return joined.agg(
        F.count("*").alias("purchase_cnt"),
        F.count("right_ts").alias("matched_cnt"),
        F.sum(F.unix_millis("ts") - F.unix_millis("right_ts")).alias(
            "lag_ms_total"
        ),
    )


@register(
    "asof_join_forward_lead",
    oracle="""
        WITH s AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'signup'
        ),
        p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ),
        j AS (
            SELECT s.event_id, s.ts AS sts, p.ts AS pts
            FROM s ASOF LEFT JOIN p
              ON s.user_id = p.user_id AND s.ts <= p.ts
        )
        SELECT COUNT(*) AS signup_cnt,
               COUNT(pts) AS converted_cnt,
               CAST(SUM(epoch_ms(pts) - epoch_ms(sts)) AS BIGINT)
                   AS lead_ms_total
        FROM j
    """,
)
def asof_join_forward_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each signup matched to the user's earliest
    purchase at-or-after it (time-to-convert). Cross-validated
    against DuckDB's native ASOF JOIN with the <= inequality."""
    from automatic_etl_spark.operators.asof import as_of_join_forward

    events = table(spark, sf_dir, "events", fan_out=False)
    signups = events.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    joined = as_of_join_forward(signups, purchases, keys=["user_id"])
    return joined.agg(
        F.count("*").alias("signup_cnt"),
        F.count("right_ts").alias("converted_cnt"),
        F.sum(F.unix_millis("right_ts") - F.unix_millis("ts")).alias(
            "lead_ms_total"
        ),
    )


# --- Extension: range (interval) join ----------------------------------------
# Points-in-intervals with NO equi-key: binned equi-join construction
# (operators/rangejoin.py) versus the oracle's plain BETWEEN join.


@register(
    "range_join_windows",
    oracle="""
        WITH iv AS (
            SELECT event_id AS window_id,
                   epoch_ms(ts) AS start_ms,
                   epoch_ms(ts) + 21600000 AS end_ms
            FROM events WHERE event_id % 199 = 0
        ),
        pts AS (
            SELECT event_id, value, epoch_ms(ts) AS ts_ms FROM events
        ),
        j AS (
            SELECT * FROM pts JOIN iv
              ON ts_ms >= start_ms AND ts_ms < end_ms
        )
        SELECT COUNT(*) AS match_cnt,
               COUNT(DISTINCT event_id) AS matched_events,
               COUNT(DISTINCT window_id) AS matched_intervals,
               (CAST(SUM(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) AS value_total
        FROM j
    """,
)
def range_join_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events landing inside 6-hour windows opened by a deterministic
    event sample — a pure interval-containment join with no equi-key,
    executed as the binned equi-join (1-hour bins)."""
    from automatic_etl_spark.operators.rangejoin import range_join

    hour_ms = 3_600_000
    events = table(spark, sf_dir, "events", fan_out=False)
    points = events.select(
        "event_id", "value", F.unix_millis("ts").alias("ts_ms")
    )
    intervals = events.filter(F.col("event_id") % 199 == 0).select(
        F.col("event_id").alias("window_id"),
        F.unix_millis("ts").alias("start_ms"),
        (F.unix_millis("ts") + 6 * hour_ms).alias("end_ms"),
    )
    joined = range_join(
        points, intervals, "ts_ms", "start_ms", "end_ms", bin_width=hour_ms
    )
    return joined.agg(
        F.count("*").alias("match_cnt"),
        F.countDistinct("event_id").alias("matched_events"),
        F.countDistinct("window_id").alias("matched_intervals"),
        (F.sum(F.floor((F.col("value")) * F.lit(1e2) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e2))
        .alias("value_total"),
    )


# --- Extension: hypertable-style time rollup --------------------------------
# Multi-granularity continuous aggregate (month ⊃ day ⊃ hour) in ONE
# pass — the timescale "hypertable rollup" shape. At 100 TB the
# month/day/hour hierarchy materializes as the silver→gold rollup
# cascade; ROLLUP computes every level with a single shuffle.


@register(
    "time_rollup",
    oracle="""
        SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_b,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_b,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_b,
               COUNT(*) AS cnt,
               (CAST(SUM(CAST(floor((value) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) AS value_total
        FROM events
        GROUP BY ROLLUP (date_trunc('month', ts),
                         date_trunc('day', ts),
                         date_trunc('hour', ts))
    """,
)
def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events", fan_out=False)
    return (
        events.rollup(
            F.date_trunc("month", "ts").alias("month_b"),
            F.date_trunc("day", "ts").alias("day_b"),
            F.date_trunc("hour", "ts").alias("hour_b"),
        )
        .agg(
            F.count("*").alias("cnt"),
            (F.sum(F.floor((F.col("value")) * F.lit(1e2) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e2))
            .alias("value_total"),
        )
    )


# --- BI delegate: subquery shapes -------------------------------------------
# Scalar subqueries, HAVING, and EXISTS are everyday BI-SQL shapes the
# reference's users write against ClickHouse; Catalyst plans all three
# natively (scalar subquery → broadcast scalar, EXISTS → left-semi).


@register(
    "scalar_subquery_filter",
    oracle="""
        SELECT o_orderstatus, COUNT(*) AS cnt,
               (CAST(SUM(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   AS total
        FROM orders
        WHERE o_totalprice > (
            SELECT (CAST(SUM(CAST(floor((o_totalprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   / COUNT(o_totalprice)
            FROM orders
        )
        GROUP BY o_orderstatus
    """,
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price — the scalar-subquery
    filter, as a broadcast of a 1-row aggregate (no driver collect).
    The average derives from an exact DECIMAL sum on both engines (the
    module's determinism rule): a raw-double AVG's last ULPs depend on
    partition merge order, and a price sitting between the two
    engines' averages would flip in/out of the filtered set."""
    orders = table(spark, sf_dir, "orders")
    avg_price = orders.agg(
        (
            (F.sum(F.floor((F.col("o_totalprice")) * F.lit(1e2) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e2))
            / F.count("o_totalprice")
        ).alias("__avg")
    )
    return (
        orders.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice", "total"))
    )


@register(
    "having_filter",
    oracle="""
        SELECT user_id, COUNT(*) AS cnt
        FROM events GROUP BY user_id HAVING COUNT(*) >= 60
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 60)
    )


@register(
    "exists_semi_join",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS cnt
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
        GROUP BY c_mktsegment
    """,
)
def exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join — Catalyst's native decorrelation."""
    customer = table(spark, sf_dir, "customer")
    finished = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return (
        customer.join(
            finished, customer.c_custkey == finished.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "order_count_histogram",
    oracle="""
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM per_cust GROUP BY c_count
    """,
)
def order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join, per-entity count, then a histogram
    OF the counts — two cascaded aggregations where the second groups
    on the first's output (both partial-aggregated; customers with no
    orders land in the c_count=0 bucket via the outer join)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- BI delegate: the raw-SQL front door ------------------------------------
# The reference's BI layer (Superset SQL Lab / Metabase cards) issues
# SQL strings; our engine serves the same surface via register_views +
# spark.sql — this entry runs a pure SQL text, no DataFrame calls.


@register(
    "sql_surface",
    oracle="""
        SELECT e.event_type,
               COUNT(*) AS cnt,
               COUNT(DISTINCT e.user_id) AS users,
               (CAST(SUM(CAST(floor((e.value) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   AS value_total
        FROM events e
        WHERE e.value IS NOT NULL
        GROUP BY e.event_type
    """,
)
def sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("events",))
    return spark.sql(
        """
        SELECT e.event_type,
               COUNT(*) AS cnt,
               COUNT(DISTINCT e.user_id) AS users,
               (CAST(SUM(CAST(floor((e.value) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   AS value_total
        FROM events e
        WHERE e.value IS NOT NULL
        GROUP BY e.event_type
        """
    )


# --- Extension: sessionization (lag + cumulative window) --------------------
# The batch sessionizer every events pipeline needs: order per user,
# lag() finds gaps, a cumulative sum of gap flags numbers the sessions.
# Two window passes over ONE shuffle (same partitioning, Catalyst
# reuses the sort).


@register(
    "sessionization",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w
                             > 1800000
                          OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM ordered
        ),
        per_session AS (
            SELECT user_id, session_id, COUNT(*) AS session_events
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT COUNT(*) AS total_sessions,
               COUNT(DISTINCT user_id) AS users,
               CAST(SUM(session_events) AS BIGINT) AS total_events,
               MAX(session_events) AS max_session_events
        FROM per_session
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization over the events stream table.

    The gap compares MILLISECOND epochs on both engines (unix_millis /
    epoch_ms) — not a whole-second cast against a full-precision
    interval, where two events ~1800.8 s apart could flip the boundary
    differently per engine depending on their fractional parts."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60 * 1000), F.lit(1)
    ).otherwise(F.lit(0))
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = events.select(
        "user_id",
        F.sum(new_session).over(cum).alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("session_events")
    )
    return per_session.agg(
        F.count("*").alias("total_sessions"),
        F.countDistinct("user_id").alias("users"),
        F.sum("session_events").alias("total_events"),
        F.max("session_events").alias("max_session_events"),
    )


@register(
    "session_window_native",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                          OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT user_id,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM ordered
        ),
        per_session AS (
            SELECT user_id, session_id, COUNT(*) AS session_events
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT COUNT(*) AS total_sessions,
               COUNT(DISTINCT user_id) AS users,
               CAST(SUM(session_events) AS BIGINT) AS total_events,
               MAX(session_events) AS max_session_events
        FROM per_session
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator (one groupBy with
    session merging inside the aggregation — no per-row window pass),
    cross-validated against the independent lag-gap islands
    construction in the oracle. An event exactly gap after the last
    one starts a NEW session (session range is [start, last+gap)), so
    the oracle's boundary is >=. Same 30-minute gap as the
    `sessionization` query, which keeps the composed form for engines
    without the operator."""
    events = table(spark, sf_dir, "events")
    per_session = events.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count("*").alias("session_events"))
    return per_session.agg(
        F.count("*").alias("total_sessions"),
        F.countDistinct("user_id").alias("users"),
        F.sum("session_events").alias("total_events"),
        F.max("session_events").alias("max_session_events"),
    )


# --- Extension: exact percentiles -------------------------------------------


@register(
    "value_percentiles",
    oracle="""
        SELECT event_type,
               floor(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
               floor(quantile_cont(value, 0.9) * 1e6 + 0.5) / 1e6 AS p90,
               floor(quantile_cont(value, 0.99) * 1e6 + 0.5) / 1e6 AS p99
        FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`); at 100 TB swap in `approx_percentile`
    (t-digest) — same call shape, bounded memory."""
    events = table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        qround(F.percentile("value", F.lit(0.5))).alias("p50"),
        qround(F.percentile("value", F.lit(0.9))).alias("p90"),
        qround(F.percentile("value", F.lit(0.99))).alias("p99"),
    )


# --- Extension: ranking functions (rank / dense_rank / ntile) ---------------


@register(
    "ranking_functions",
    oracle="""
        WITH ranked AS (
            SELECT event_type, value,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   NTILE(4) OVER w AS quartile
            FROM events
            WHERE value IS NOT NULL
            WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC)
        )
        SELECT event_type, quartile,
               COUNT(*) AS cnt,
               MIN(rnk) AS min_rank,
               MAX(drnk) AS max_dense_rank
        FROM ranked GROUP BY event_type, quartile
    """,
)
def ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window family in one pass: rank,
    dense_rank and ntile share a single (partition, order) → one sort,
    one shuffle. Order is pinned (value DESC, event_id ASC) so ntile
    assignment is engine-independent."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    ranked = events.select(
        "event_type",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return ranked.groupBy("event_type", "quartile").agg(
        F.count("*").alias("cnt"),
        F.min("rnk").alias("min_rank"),
        F.max("drnk").alias("max_dense_rank"),
    )


# --- Extension: pivot (BI cross-tab) ----------------------------------------

_PIVOT_TYPES = ("click", "view", "signup", "purchase", "error")


@register(
    "pivot_monthly_by_type",
    oracle=f"""
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               {", ".join(
                   f"CAST(SUM(CASE WHEN event_type = '{t}' "
                   f"THEN CAST(floor(value * 100) AS BIGINT) END) AS BIGINT) AS {t}"
                   for t in _PIVOT_TYPES)}
        FROM events GROUP BY 1
    """,
)
def pivot_monthly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab: day × event_type cents matrix via `pivot()` with the
    value list PINNED — no extra distinct-discovery job, stable column
    set at any scale (Catalyst compiles this to the same conditional
    aggregation the oracle spells out)."""
    events = table(spark, sf_dir, "events")
    return (
        events.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.floor(F.col("value") * 100).alias("cents"),
        )
        .groupBy("day")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.sum("cents"))
    )


# --- Extension: unpivot / melt ----------------------------------------------


@register(
    "unpivot_measures",
    oracle="""
        WITH m AS (
            SELECT 'quantity' AS measure,
                   (CAST(SUM(CAST(floor((l_quantity) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2) AS total
            FROM lineitem
            UNION ALL
            SELECT 'extendedprice',
                   (CAST(SUM(CAST(floor((l_extendedprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
            FROM lineitem
            UNION ALL
            SELECT 'tax',
                   (CAST(SUM(CAST(floor((l_tax) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4)
            FROM lineitem
        )
        SELECT measure, total FROM m
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt wide measures into (measure, total) rows via `unpivot` —
    the reshape dual of pivot; sums are taken first so only 3 rows
    unpivot (never melt the raw fact table)."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.agg(
        (F.sum(F.floor((F.col("l_quantity")) * F.lit(1e2) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e2))
        .alias("quantity"),
        (F.sum(F.floor((F.col("l_extendedprice")) * F.lit(1e2) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e2))
        .alias("extendedprice"),
        (F.sum(F.floor((F.col("l_tax")) * F.lit(1e4) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e4)).alias("tax"),
    )
    return wide.unpivot(
        [], ["quantity", "extendedprice", "tax"], "measure", "total"
    )


# --- Extension: GROUPING SETS + grouping_id ---------------------------------


@register(
    "grouping_sets_agg",
    oracle="""
        SELECT event_type,
               CAST(user_id % 10 AS BIGINT) AS user_bucket,
               GROUPING(event_type, user_id % 10) AS gid,
               COUNT(*) AS cnt
        FROM events
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id disambiguation — the
    general form behind rollup/cube, one Expand + one shuffle."""
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("events",))
    return spark.sql(
        """
        SELECT event_type,
               CAST(user_id % 10 AS BIGINT) AS user_bucket,
               GROUPING_ID() AS gid,
               COUNT(*) AS cnt
        FROM events
        GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        """
    )


# --- Classic decision-support shapes, continued (SURVEY.md §2.3 note) -------
# The reference's BI layer accepts arbitrary SQL over ingested tables;
# these three cover the remaining canonical join strategies: a fact-side
# EXISTS (big semi join), NOT EXISTS (anti join), and a groupBy-HAVING
# subquery joined back into its own fact table.


@register(
    "priority_semi_count",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_cnt
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
          )
        GROUP BY o_orderpriority
    """,
)
def priority_semi_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: a quarter of orders semi-joined against the big
    fact table, counted by priority. The date filter prunes the orders
    scan before the shuffle; the semi join carries only (l_orderkey)
    from lineitem — column pruning drops the other 10 columns at the
    scan. (Q4's l_commitdate < l_receiptdate predicate is re-expressed
    on l_returnflag; the testdata schema has no commit/receipt dates.)"""
    orders = table(spark, sf_dir, "orders", fan_out=False).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    returned = table(spark, sf_dir, "lineitem", fan_out=False).filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_cnt"))
    )


@register(
    "inactive_customers_anti",
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS cust_cnt,
               (CAST(SUM(CAST(floor((c_acctbal) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   AS acctbal_total
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderstatus = 'F'
              AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00'
        )
        GROUP BY c_mktsegment
    """,
)
def inactive_customers_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with NO recent finished order — NOT
    EXISTS as a left-anti join. The orders side is filtered before the
    join (predicate pushdown to its scan), so the anti join probes a
    small build side; at cluster scale AQE keeps it broadcast as long
    as the filtered side fits, else falls back to shuffle anti join."""
    customer = table(spark, sf_dir, "customer", fan_out=False)
    recent_finished = table(spark, sf_dir, "orders", fan_out=False).filter(
        (F.col("o_orderstatus") == "F")
        & (
            F.col("o_orderdate")
            >= F.lit("2000-06-01 00:00:00").cast("timestamp")
        )
    )
    return (
        customer.join(
            recent_finished,
            customer.c_custkey == recent_finished.o_custkey,
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("cust_cnt"),
            dsum("c_acctbal", "acctbal_total"),
        )
    )


@register(
    "groupwise_max_orders",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS at_max_cnt,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
               MIN(o_orderkey) AS min_orderkey
        FROM (
            SELECT * FROM orders
            QUALIFY o_totalprice = MAX(o_totalprice)
                OVER (PARTITION BY o_orderpriority)
        )
        GROUP BY o_orderpriority
    """,
)
def groupwise_max_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated per-group MAX subquery (rows
    whose price equals their group's maximum), decorrelated the
    Spark-idiomatic way — a window max instead of a self-join against
    a grouped aggregate, so the fact table is scanned ONCE with a
    single partition-keyed shuffle. Ties all survive (same as the SQL
    form); doubles compare exactly so no rounding is needed."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders", fan_out=False)
    w = Window.partitionBy("o_orderpriority")
    return (
        orders.withColumn("__mx", F.max("o_totalprice").over(w))
        .filter(F.col("o_totalprice") == F.col("__mx"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("at_max_cnt"),
            F.max("o_totalprice").alias("max_price"),
            F.min("o_orderkey").alias("min_orderkey"),
        )
    )


@register(
    "large_order_customers",
    oracle="""
        WITH big AS (
            SELECT l_orderkey,
                   (CAST(SUM(CAST(floor((l_quantity) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                       AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(floor(l_quantity * 1e2 + 0.5) AS BIGINT)) > 30000
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice, total_qty
        FROM big
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: a HAVING aggregate over the fact table joined
    back to orders and customer, ranked top-N. The aggregate collapses
    lineitem to qualifying orderkeys FIRST (map-side partial agg + one
    shuffle), so the join-back probes orders with a tiny filtered side
    — AQE broadcasts it at any scale because HAVING > 300 keeps it
    rare. Top-N is TakeOrderedAndProject; tiebreak pinned on
    o_orderkey."""
    big = (
        table(spark, sf_dir, "lineitem", fan_out=False)
        .groupBy("l_orderkey")
        .agg(F.sum(micro_long("l_quantity", 1e2)).alias("__qty"))
        .filter(F.col("__qty") > 30000)
        .select(
            "l_orderkey",
            (F.col("__qty").cast("double") / F.lit(1e2)).alias("total_qty"),
        )
    )
    orders = table(spark, sf_dir, "orders", fan_out=False)
    customer = table(spark, sf_dir, "customer", fan_out=False)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


# --- Classic decision-support shapes, fourth batch (SURVEY.md §2.3 note) ----
# Rounds out the canonical TPC-H strategy catalogue the BI delegate can
# face: a scan-only conditional-revenue probe (Q6), the two-sided
# market-share ratio (Q8), a multi-star profit rollup (Q9), a
# decorrelated per-group-average filter (Q17), and the double
# EXISTS / NOT EXISTS self-join (Q21).


@register(
    "forecast_revenue_delta",
    oracle="""
        SELECT (CAST(SUM(CAST(floor((l_extendedprice * l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS revenue_delta,
               COUNT(*) AS line_cnt
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-aggregate revenue-change probe —
    no join at all. All three predicates sit directly on the parquet
    scan (shipdate/discount/quantity all push down to row-group stats),
    and the single global aggregate is a map-side partial + 1-row
    merge: the cheapest possible plan at any scale. Discount bounds
    compare the same double literals in both engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(
            F.col("l_extendedprice") * F.col("l_discount"),
            "revenue_delta",
            scale=4,
        ),
        F.count("*").alias("line_cnt"),
    )


@register(
    "market_share",
    oracle="""
        WITH base AS (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   CAST(floor(l_extendedprice * (1 - l_discount)
                              * 1e4 + 0.5) AS BIGINT) AS volume,
                   sn.n_name AS supp_nation
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region   ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN part     ON l_partkey = p_partkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        )
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                             THEN volume ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM base
        GROUP BY o_year
        ORDER BY o_year
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's
    ECONOMY-part revenue per year. Seven-table star: every dimension
    (nation ×2, region, part, supplier, customer) broadcasts, so the
    only shuffles are lineitem↔orders and the final 2-row year
    aggregate. The region/part filters cut the fact early via the
    broadcast hash-join probes. The share is one double division of
    two exact integer-unit sums — bit-identical across engines and
    partitionings."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supplier = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    cn = nation.alias("cn")
    sn = nation.alias("sn")
    vol = micro_long(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 1e4
    )
    nat = F.sum(
        F.when(F.col("sn.n_name") == "NATION_3", F.col("volume")).otherwise(
            F.lit(0)
        )
    ).cast("double")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cn), customer.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(region), F.col("cn.n_regionkey") == region.r_regionkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(sn), supplier.s_nationkey == F.col("sn.n_nationkey"))
        .join(part, li.l_partkey == part.p_partkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            F.col("sn.n_name"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg((nat / F.sum("volume").cast("double")).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "nation_profit",
    oracle="""
        SELECT sn.n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               (CAST(SUM(CAST(floor((l_extendedprice * (1 - l_discount)) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4) AS profit
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY nation, o_year
        ORDER BY nation ASC, o_year DESC
    """,
)
def nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation and
    year. The LIKE filter prunes part BEFORE its broadcast, so the
    fact join discards non-matching lineitems at the probe; supplier
    and nation broadcast too, leaving lineitem↔orders as the only
    repartition. Sorted on the unique (nation, year) key — a total
    order, no tiebreak needed. (The reference schema has no partsupp;
    profit is revenue-based, same plan shape.)"""
    li = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier")
    sn = table(spark, sf_dir, "nation").alias("sn")
    part = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    orders = table(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(sn), supplier.s_nationkey == F.col("sn.n_nationkey"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("sn.n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(rev, "profit", scale=4))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@register(
    "small_quantity_revenue",
    oracle="""
        WITH thresh AS (
            SELECT l_partkey,
                   0.2 * ((CAST(SUM(CAST(floor(l_quantity * 1e2 + 0.5)
                                        AS BIGINT)) AS DOUBLE) / 1e2)
                          / COUNT(*)) AS qty_cut
            FROM lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
            )
            GROUP BY l_partkey
        )
        SELECT (CAST(SUM(CAST(floor((l_extendedprice) * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2)
                   / 7.0 AS avg_yearly,
               COUNT(*) AS line_cnt
        FROM lineitem
        JOIN part   ON p_partkey = l_partkey
        JOIN thresh ON thresh.l_partkey = lineitem.l_partkey
        WHERE p_brand = 'Brand#23' AND l_quantity < qty_cut
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20% of a part's own
    average quantity — the correlated AVG subquery, decorrelated the
    scale-right way: lineitem is semi-filtered to the brand's parts
    FIRST (broadcast probe), the per-part threshold aggregates that
    small slice once, and the threshold (thousands of rows at most —
    one row per brand part) broadcasts back onto the same slice. The
    fact table is never shuffled by partkey. The average is built from
    an exact cent-unit sum divided by the count, so the 0.2× cut
    compares the same double in both engines."""
    li = table(spark, sf_dir, "lineitem")
    brand_parts = table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    )
    li_b = li.join(
        F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey")
    )
    thresh = (
        li_b.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg(
            (
                F.lit(0.2)
                * (
                    (
                        F.sum(micro_long("l_quantity", 1e2)).cast("double")
                        / F.lit(1e2)
                    )
                    / F.count("*")
                )
            ).alias("qty_cut")
        )
    )
    return (
        li_b.join(
            F.broadcast(thresh), F.col("l_partkey") == F.col("t_partkey")
        )
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (
                (
                    F.sum(micro_long("l_extendedprice", 1e2)).cast("double")
                    / F.lit(1e2)
                )
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count("*").alias("line_cnt"),
        )
    )


@register(
    "waiting_suppliers",
    oracle="""
        SELECT s_name, COUNT(*) AS numwait
        FROM lineitem l1
        JOIN orders   ON l1.l_orderkey = o_orderkey
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.l_returnflag = 'R'
          AND o_orderstatus = 'F'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R'
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 10
    """,
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY one with returned
    items on a multi-supplier finished order — EXISTS and NOT EXISTS
    against the same fact table, as one left-semi and one left-anti
    join sharing the l_orderkey shuffle key (Spark schedules both off
    the same exchange). The inequality (l_suppkey <>) rides the equi
    join as a residual condition, so no cartesian anywhere. (Q21's
    receiptdate > commitdate predicate is re-expressed on l_returnflag;
    the testdata schema has no commit/receipt dates.)"""
    li = table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supplier = table(spark, sf_dir, "supplier")
    waited = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
        .join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(supplier), F.col("l1.l_suppkey") == supplier.s_suppkey)
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# --- Classic decision-support shapes, fifth batch (SURVEY.md §2.3 note) -----
# The partsupp-style trio (TPC-H Q2/Q16/Q20). The fixture schema has no
# partsupp table, so the supply relation is derived from lineitem:
# distinct (l_partkey, l_suppkey) pairs with MIN(l_extendedprice) as
# the supply-cost stand-in and SUM(l_quantity) as availqty. The plan
# shapes — correlated per-part min over a region-filtered supplier set,
# distinct-supplier counting with a NOT-IN exclusion, and the nested
# semi-join over a correlated aggregate — are the point.


@register(
    "min_cost_supplier",
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice) AS supply_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        eu AS (
            SELECT l_partkey, supply_cost, s_name, s_acctbal, n_name
            FROM ps
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation   ON n_nationkey = s_nationkey
            JOIN region   ON r_regionkey = n_regionkey
            WHERE r_name = 'EUROPE'
        ),
        best AS (
            SELECT *,
                   MIN(supply_cost) OVER (PARTITION BY l_partkey) AS min_cost
            FROM eu
        )
        SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
               p_partkey, p_name, CAST(supply_cost AS DOUBLE) AS supply_cost
        FROM best
        JOIN part ON p_partkey = l_partkey
        WHERE supply_cost = min_cost
          AND p_size = 11 AND p_type = 'ECONOMY'
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 50
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum supply cost over a
    region-filtered supplier set, winner(s) joined back to the part
    dimension. Spark-first plan: the supply relation aggregates
    lineitem once (map-side partial + one shuffle on the pair key);
    supplier⋈nation⋈region is a broadcast chain (dims are tiny at any
    scale — supplier count grows far slower than the fact table); the
    correlated MIN decorrelates into a window over l_partkey instead
    of a self-join against a grouped subquery, so the supply relation
    is scanned once. Part filter is applied AFTER the window (Q2
    semantics: the min ranges over all suppliers of the part) and the
    part dim broadcasts. MIN over doubles is exact — no rounding
    needed for the equality filter. Tiebreak pinned on (s_name,
    p_partkey) so the top-50 is total-ordered on the fixture.

    Reference parity: the BI delegate surface (SURVEY.md §2.3 — the
    reference delegates star joins to ClickHouse SQL)."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supply_cost")
    )
    sup = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "region").filter(
                    F.col("r_name") == "EUROPE"
                )
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu = ps.join(F.broadcast(sup), ps.l_suppkey == sup.s_suppkey)
    w = Window.partitionBy("l_partkey")
    best = eu.withColumn("min_cost", F.min("supply_cost").over(w)).filter(
        F.col("supply_cost") == F.col("min_cost")
    )
    prt = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 11) & (F.col("p_type") == "ECONOMY")
    )
    return (
        best.join(F.broadcast(prt), best.l_partkey == prt.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "supply_cost",
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
            F.asc("p_partkey"),
        )
        .limit(50)
    )


@register(
    "parts_supplier_counts",
    oracle="""
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#4'
          AND p_type NOT LIKE 'MEDIUM%'
          AND p_size IN (2, 5, 11, 17, 23, 28, 37, 41)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can supply each
    surviving (brand, type, size) bucket, excluding a denylisted
    supplier set. The NOT IN compiles to a broadcast anti-join (the
    exclusion list is a filtered dim — tiny at any scale; keys are
    non-null so NOT IN ≡ anti-join); the part predicate trio sits on
    the broadcast build side so the fact scan prunes early; the
    distinct count is Spark's two-phase partial-distinct aggregate —
    no extra shuffle beyond the group keys. Ordered by the full key
    set → total order."""
    li = table(spark, sf_dir, "lineitem")
    excl = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    prt = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(2, 5, 11, 17, 23, 28, 37, 41))
    )
    return (
        li.join(
            F.broadcast(excl),
            li.l_suppkey == excl.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(prt), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


@register(
    "promo_stock_suppliers",
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(floor(l_quantity * 1e2 + 0.5) AS BIGINT))
                       AS avail_qty,
                   SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                             AND l_shipdate <  TIMESTAMP '1997-01-01'
                            THEN CAST(floor(l_quantity * 1e2 + 0.5) AS BIGINT)
                            ELSE 0 END) AS qty_96
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        excess AS (
            SELECT DISTINCT l_suppkey
            FROM ps
            JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE 'small%'
              AND qty_96 * 2 > avail_qty AND qty_96 > 0
        )
        SELECT s_name, s_suppkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier
        JOIN excess ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'ASIA'
        ORDER BY s_name
    """,
)
def promo_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose 1996 shipments of promo parts
    exceed half their all-time quantity for that part — the nested
    semi-join over a correlated aggregate subquery. Decorrelated into
    one pass: both the all-time and the windowed sums come out of a
    single grouped aggregate over lineitem (two conditional sums, one
    shuffle), the promo part filter broadcasts, and the surviving
    supplier keys collapse through DISTINCT before the final broadcast
    joins against supplier/nation/region. Quantities route through
    exact BIGINT cent-units so the half-comparison (expressed as
    qty*2 > total — exact integer arithmetic, no 0.5 double literal)
    is order-independent. s_name is unique → total order."""
    li = table(spark, sf_dir, "lineitem")
    q = micro_long("l_quantity", 1e2)
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(q).alias("avail_qty"),
        F.sum(F.when(in96, q).otherwise(F.lit(0))).alias("qty_96"),
    )
    promo = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    excess = (
        ps.join(F.broadcast(promo), F.col("p_partkey") == F.col("l_partkey"))
        .filter(
            (F.col("qty_96") * 2 > F.col("avail_qty"))
            & (F.col("qty_96") > 0)
        )
        .select("l_suppkey")
        .distinct()
    )
    sup = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                table(spark, sf_dir, "region").filter(
                    F.col("r_name") == "ASIA"
                )
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
    )
    return (
        sup.join(excess, sup.s_suppkey == excess.l_suppkey)
        .select("s_name", "s_suppkey", "s_acctbal")
        .orderBy("s_name")
    )


# --- Extension: Spark 4 SQL pipe syntax + GROUP BY ALL ------------------------
# SPARK-49555: the pipe operator |> composes SQL the way DataFrame
# chains compose — each stage reads top-to-bottom instead of
# inside-out. Same Catalyst plan as the classic form (the parser
# desugars pipes before analysis), so this is pure surface parity:
# users migrating hand-written pipelines get the modern syntax with
# identical semantics. The oracle states the same query in classic
# SQL (DuckDB has no pipe syntax).


@register(
    "sql_pipe_surface",
    oracle="""
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents_total,
               COUNT(DISTINCT user_id) AS users
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type
    """,
)
def sql_pipe_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (|> WHERE / EXTEND / AGGREGATE ...
    GROUP BY ALL) — parser-level sugar over the identical logical
    plan, verified against the classic-SQL oracle."""
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("events",), fan_out=False)
    return spark.sql(
        """
        FROM events
        |> WHERE value IS NOT NULL
        |> EXTEND CAST(floor(value * 100) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS cnt,
                     SUM(cents) AS cents_total,
                     COUNT(DISTINCT user_id) AS users
           GROUP BY event_type
        |> SELECT event_type, cnt, cents_total, users
        """
    )


# --- Extension: recursive CTE (Spark 4, SPARK-24497) --------------------------
# WITH RECURSIVE landed in Spark 4.0 — the org-chart / bill-of-
# materials rollup SQL that previously forced driver-side loops or
# the iterative-DataFrame pattern (operators/graph.py). Hierarchy is
# derived deterministically from user_id (parent = id div 10, a
# strictly-decreasing walk, so UNION ALL recursion terminates without
# cycle handling — Spark does not yet support UNION-distinct
# recursion, probed this round). Each user's event count rolls up to
# every ancestor; the report aggregates per hierarchy level. Scale
# note: recursion depth = digit count (≤7 at 10M users); each round
# is one self-join the engine executes as an iterative plan — for
# unbounded-depth graphs the operators/graph.py pointer-doubling path
# remains the scale answer.


@register(
    "recursive_hierarchy_rollup",
    oracle="""
        WITH RECURSIVE uc AS (
            SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
        ),
        anc(user_id, node) AS (
            SELECT user_id, user_id FROM uc
            UNION ALL
            SELECT user_id, node // 10 FROM anc WHERE node > 0
        ),
        subtree AS (
            SELECT a.node, SUM(u.c) AS subtree_events,
                   COUNT(*) AS subtree_users
            FROM anc a JOIN uc u USING (user_id)
            GROUP BY a.node
        )
        SELECT length(CAST(node AS VARCHAR)) AS level,
               COUNT(*) AS nodes,
               CAST(SUM(subtree_events) AS BIGINT) AS events_total,
               CAST(MAX(subtree_events) AS BIGINT) AS max_subtree_events,
               CAST(SUM(subtree_users) AS BIGINT) AS user_links
        FROM subtree GROUP BY 1
    """,
)
def recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE subtree rollup over the derived user hierarchy
    (parent = user_id div 10): per hierarchy level, node count and
    rolled-up event totals. Same recursion in DuckDB; only the
    integer-division spelling differs (div vs //)."""
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("events",), fan_out=False)
    return spark.sql(
        """
        WITH RECURSIVE uc AS (
            SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
        ),
        anc(user_id, node) AS (
            SELECT user_id, user_id FROM uc
            UNION ALL
            SELECT user_id, node DIV 10 FROM anc WHERE node > 0
        ),
        subtree AS (
            SELECT a.node, SUM(u.c) AS subtree_events,
                   COUNT(*) AS subtree_users
            FROM anc a JOIN uc u USING (user_id)
            GROUP BY a.node
        )
        SELECT length(CAST(node AS STRING)) AS level,
               COUNT(*) AS nodes,
               SUM(subtree_events) AS events_total,
               MAX(subtree_events) AS max_subtree_events,
               SUM(subtree_users) AS user_links
        FROM subtree GROUP BY 1
        """
    )


# --- Extension: collation-aware grouping (Spark 4, SPARK-46830) ---------------
# String collations are first-class in Spark 4: a UTF8_LCASE-collated
# column groups/joins/compares case-insensitively INSIDE the engine —
# no lower() scattered through every predicate, and the comparison
# pushes into hash aggregates and joins like any other binary
# comparison. The query plants deterministic case-mangling
# (Initcap/UPPER by event_id residue), groups on the collated column,
# and must merge the case variants; the canonical output key is
# lower() so the representative value (which variant the hash agg
# kept) never leaks into the result.


@register(
    "collated_group_surface",
    oracle="""
        SELECT lower(event_type) AS etype,
               COUNT(*) AS cnt,
               COUNT(DISTINCT user_id) AS users
        FROM events GROUP BY 1
    """,
)
def collated_group_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via UTF8_LCASE collation over a
    deterministically case-mangled event_type column: the collated
    group must reunite what the mangling split."""
    ev = table(spark, sf_dir, "events", fan_out=False)
    mangled = ev.select(
        "user_id",
        F.when(
            F.col("event_id") % 3 == 0, F.initcap("event_type")
        )
        .when(F.col("event_id") % 3 == 1, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
    )
    return (
        mangled.groupBy(
            F.collate("event_type", "UTF8_LCASE").alias("k")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("user_id").alias("users"),
        )
        .select(
            # lower() inherits the collated type; collate back to
            # UTF8_BINARY so the OUTPUT schema is a plain string
            # (collation is an engine-internal comparison trait, not
            # something a result consumer should see)
            F.collate(F.lower(F.col("k")), "UTF8_BINARY").alias("etype"),
            "cnt",
            "users",
        )
    )


# --- Extension: parameterized SQL + IDENTIFIER clause -------------------------
# The reference builds its SQL by string interpolation (generated
# ClickHouse DDL/queries, reference tools/gen_pipeline.py) — the
# classic injection-and-quoting minefield. Spark's parameter markers
# (spark.sql(..., args=...)) bind VALUES server-side, and the
# IDENTIFIER() clause binds table/column NAMES safely — dynamic SQL
# with zero string concatenation. Catalyst sees the same plan as the
# literal query, so parameterization costs nothing.


@register(
    "parameterized_sql_surface",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS price_units_total
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
    """,
)
def parameterized_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named parameter markers + IDENTIFIER(): the table name and the
    status filter arrive as bound arguments, never interpolated into
    the SQL text."""
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("orders",), fan_out=False)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS cnt,
               SUM(CAST(floor(o_totalprice) AS BIGINT))
                   AS price_units_total
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders", "status": "F"},
    )


# --- Extension: correlated LATERAL join ---------------------------------------
# The SQL-standard lateral join (Spark 3.2+): a per-row correlated
# subquery with its own ORDER BY/LIMIT — the "top-N per key without
# writing a window function" formulation analysts actually type.
# Catalyst rewrites it into the same shapes the window formulation
# plans to (the oracle is written AS the window formulation to prove
# the semantic equivalence), so the surface costs nothing extra.


@register(
    "lateral_join_topn",
    oracle="""
        SELECT event_type, event_id, value FROM (
            SELECT event_type, event_id, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type
                       ORDER BY value DESC NULLS LAST, event_id ASC
                   ) AS rn
            FROM events
        ) WHERE rn <= 2
    """,
)
def lateral_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 events per type via a correlated LATERAL subquery with
    ORDER BY/LIMIT; the oracle states the equivalent window
    formulation — both engines must select the identical rows under
    the pinned tie order."""
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("events",), fan_out=False)
    return spark.sql(
        """
        SELECT l.event_type, l.event_id, l.value
        FROM (SELECT DISTINCT event_type FROM events) d,
        LATERAL (
            SELECT event_type, event_id, value FROM events e
            WHERE e.event_type = d.event_type
            ORDER BY value DESC NULLS LAST, event_id ASC
            LIMIT 2
        ) l
        """
    )


# --- Extension: SHUFFLE_HASH join strategy ------------------------------------
# The one join strategy nothing else in the registry plans: a
# shuffled hash join — both sides shuffle on the key, the smaller
# builds a per-partition hash table, NO sort. On a cluster this beats
# sort-merge when the build side fits per-partition memory but is too
# big to broadcast (the mid-size dimension case); Spark only picks it
# when hinted or when spark.sql.join.preferSortMergeJoin=false, so
# the hint IS the production interface. Values must equal the
# unhinted plan's (the oracle is strategy-blind); the fingerprint pin
# asserts shj=1/smj=0/bhj=0 — the hint actually took.


@register(
    "shuffle_hash_join_agg",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS order_cnt,
               CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
                   AS price_units_total
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
)
def shuffle_hash_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer under a SHUFFLE_HASH hint (broadcast
    disabled for the build side via the hint), aggregated per market
    segment — same values as any strategy, pinned plan shape."""
    orders = table(spark, sf_dir, "orders", fan_out=False)
    customer = table(spark, sf_dir, "customer", fan_out=False).select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        customer.hint("SHUFFLE_HASH"),
        orders.o_custkey == customer.c_custkey,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("order_cnt"),
        F.sum(F.floor("o_totalprice").cast("long")).alias(
            "price_units_total"
        ),
    )


# --- Extension: listagg / string_agg (Spark 4, SPARK-42746) -------------------
# Deterministic ordered string aggregation — the SQL-standard LISTAGG
# ... WITHIN GROUP (ORDER BY ...) that previously required the
# array_sort∘collect_list workaround (sorted_array_agg). The explicit
# WITHIN GROUP order is what makes the result partitioning-invariant;
# bare listagg/collect_list concatenation order is not deterministic
# under shuffle.


@register(
    "string_agg_surface",
    oracle="""
        SELECT n_regionkey AS regionkey,
               COUNT(*) AS n_nations,
               string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
        FROM nation GROUP BY n_regionkey
    """,
)
def string_agg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (ORDER BY) over nations per region —
    value-identical to DuckDB's ordered string_agg. Group sizes are
    bounded by the dimension's domain (5 per region), so the
    concatenated strings stay O(domain), never O(rows) — the guard
    that keeps ordered string aggregation safe at scale."""
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("nation",), fan_out=False)
    return spark.sql(
        """
        SELECT n_regionkey AS regionkey,
               COUNT(*) AS n_nations,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                   AS nations_csv
        FROM nation GROUP BY n_regionkey
        """
    )


# --- Extension: GROUP BY ALL (Spark 3.4+, SPARK-40669) ------------------------


@register(
    "group_by_all_surface",
    oracle="""
        SELECT event_type,
               CAST(ts AS DATE) AS event_date,
               COUNT(*) AS cnt,
               COUNT(DISTINCT user_id) AS users
        FROM events
        GROUP BY ALL
    """,
)
def group_by_all_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL — every non-aggregate select item becomes a
    grouping key (identical semantics in DuckDB, so the oracle uses
    the same sugar). Resolves to the same hash aggregate as an
    explicit GROUP BY; pure parser surface, pinned so dialect users
    can port their queries verbatim."""
    from automatic_etl_spark.sources.parquet import register_views

    register_views(spark, sf_dir, names=("events",), fan_out=False)
    return spark.sql(
        """
        SELECT event_type,
               CAST(ts AS DATE) AS event_date,
               COUNT(*) AS cnt,
               COUNT(DISTINCT user_id) AS users
        FROM events
        GROUP BY ALL
        """
    )


# --- as-of join with tolerance (pandas merge_asof tolerance=) ----------------

ASOF_TOLERANCE_MS = 86_400_000  # 1 day


@register(
    "asof_join_tolerance",
    oracle=f"""
        WITH p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ),
        s AS (
            SELECT user_id, ts FROM events WHERE event_type = 'signup'
        ),
        j AS (
            SELECT p.event_id, p.ts AS pts, s.ts AS sts
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND p.ts >= s.ts
        ),
        tol AS (
            SELECT event_id, pts,
                   CASE WHEN sts IS NOT NULL
                         AND epoch_ms(pts) - epoch_ms(sts)
                             <= {ASOF_TOLERANCE_MS}
                        THEN sts END AS sts,
                   CASE WHEN sts IS NOT NULL
                         AND epoch_ms(pts) - epoch_ms(sts)
                             > {ASOF_TOLERANCE_MS}
                        THEN 1 ELSE 0 END AS dropped
            FROM j
        )
        SELECT COUNT(*) AS purchase_cnt,
               COUNT(sts) AS matched_cnt,
               CAST(SUM(dropped) AS BIGINT) AS dropped_by_tolerance,
               CAST(SUM(epoch_ms(pts) - epoch_ms(sts)) AS BIGINT)
                   AS lag_ms_total
        FROM tol
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`asof_join_lag` with a 1-day match tolerance (pandas
    merge_asof semantics): signups older than the tolerance no longer
    match, and the report separates matches lost to the gap bound
    from purchases that never had a preceding signup. Exactness note
    in operators/asof.as_of_join_tolerance: backward as-of picks the
    LATEST candidate, so the tolerance check AND the dropped marker
    are row-local projections over ONE as-of pass — no second join,
    no extra shuffle (r7: the previous formulation ran the as-of join
    twice and re-joined the results on event_id, tripling the
    dominant shuffle)."""
    from automatic_etl_spark.operators.asof import as_of_join_tolerance

    events = table(spark, sf_dir, "events", fan_out=False)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts"
    )
    tol = as_of_join_tolerance(
        purchases, signups, keys=["user_id"],
        tolerance_ms=ASOF_TOLERANCE_MS,
        mark_dropped="__dropped",
    )
    return tol.agg(
        F.count("*").alias("purchase_cnt"),
        F.count("right_ts").alias("matched_cnt"),
        F.sum(F.col("__dropped").cast("long"))
        .cast("bigint")
        .alias("dropped_by_tolerance"),
        F.sum(F.unix_millis("ts") - F.unix_millis("right_ts")).alias(
            "lag_ms_total"
        ),
    )
