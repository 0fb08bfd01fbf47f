"""Oracle-checked plan for the count-min sketch: heavy hitters get
exact counts AND sketch estimates; both engines build the identical
sketch from the same md5-derived buckets, so even the estimates match
bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automatic_etl_spark.operators import sketch as sk
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import _sql_hex_val
from automatic_etl_spark.sources.parquet import table

TOP = 10


def _sql_bucket(key_expr: str, row: int) -> str:
    h = f"md5('{row}|' || CAST({key_expr} AS VARCHAR))"
    return (
        f"({_sql_hex_val(f'substr({h}, 1, 1)')}) * 16"
        f" + ({_sql_hex_val(f'substr({h}, 2, 1)')})"
    )


def _sql_oracle() -> str:
    row_ctes = ",\n".join(
        f"b{k} AS (SELECT {_sql_bucket('user_id', k)} AS bucket,"
        f" COUNT(*) AS cnt FROM events GROUP BY 1)"
        for k in range(sk.DEPTH)
    )
    joins = "\n".join(
        f"LEFT JOIN b{k} ON b{k}.bucket = {_sql_bucket('t.user_id', k)}"
        for k in range(sk.DEPTH)
    )
    least = ", ".join(f"coalesce(b{k}.cnt, 0)" for k in range(sk.DEPTH))
    return f"""
        WITH top AS (
            SELECT user_id, COUNT(*) AS true_cnt FROM events
            GROUP BY user_id ORDER BY true_cnt DESC, user_id ASC LIMIT {TOP}
        ),
        {row_ctes}
        SELECT t.user_id, t.true_cnt, least({least}) AS est_cnt
        FROM top t
        {joins}
    """


@register(
    "hll_distinct_check",
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_distinct,
               true AS approx_ok
        FROM events GROUP BY event_type
    """,
)
def hll_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counting — the scale path when exact
    COUNT(DISTINCT) would shuffle every key (at 100 TB the HLL sketch
    is a few KB per group vs a full key shuffle). The approx value
    itself is engine-specific, so the oracle checks the HLL ERROR
    ENVELOPE as a boolean: |approx − exact| ≤ 5·rsd·exact (rsd=0.02;
    5σ makes the bound deterministic in practice), alongside the exact
    count which must hash-match."""
    # fan_out=False (r14): the scan feeds the partial aggregate
    # directly — the local fan-out repartition added a full shuffle
    # for no pre-exchange work worth parallelizing.
    events = table(spark, sf_dir, "events", fan_out=False)
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_distinct"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        )
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("approx") - F.col("exact_distinct"))
                <= 5 * 0.02 * F.col("exact_distinct")
            ).alias("approx_ok"),
        )
    )


@register(
    "approx_quantile_check",
    oracle="""
        SELECT CAST(pct AS DOUBLE) AS pct, true AS rank_ok
        FROM (VALUES (0.5), (0.9), (0.99)) AS q(pct)
    """,
)
def approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (KLL-style sketch) — the scale path for
    quantiles (exact percentile sorts every group). The returned value
    is sketch-internal, so the oracle checks the published RANK
    guarantee: the rank of the returned value must lie within ε·N of
    the target rank (accuracy=10000 → ε=1e-4), ±1 for ties. Both the
    sketch and the rank probe are single-pass aggregations."""
    events = table(spark, sf_dir, "events")
    pcts = [0.5, 0.9, 0.99]
    acc = 10000
    approx = events.agg(
        F.percentile_approx("value", pcts, acc).alias("qs"),
        F.count("value").alias("n"),
    )
    probes = approx.select(F.posexplode("qs").alias("i", "q"), "n").select(
        F.element_at(
            F.array(*[F.lit(p) for p in pcts]), F.col("i") + 1
        ).alias("pct"),
        "q",
        "n",
    )
    ranked = probes.join(
        events.select("value"), F.col("value") <= F.col("q"), "left"
    ).groupBy("pct", "n").agg(F.count("value").alias("rank"))
    eps = 1.0 / acc
    return ranked.select(
        "pct",
        (
            F.abs(F.col("rank") - F.col("pct") * F.col("n"))
            <= eps * F.col("n") + 1
        ).alias("rank_ok"),
    )


@register("countmin_heavy_hitters", oracle=_sql_oracle())
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-N users vs their count-min estimates (est >= true by
    the CMS guarantee; equality whenever no bucket collision)."""
    events = table(spark, sf_dir, "events")
    cms = sk.build_sketch(events, "user_id")
    top = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("user_id"))
        .limit(TOP)
    )
    est = sk.estimate_counts(cms, top.select("user_id"), "user_id")
    return top.join(est, "user_id").select("user_id", "true_cnt", "est_cnt")
