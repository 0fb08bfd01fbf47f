"""Oracle-checked plans for referential integrity, runtime join
pruning, and golden-record survivorship.

The reference assumes its FK graph is sound (the generated BI joins in
reference tools/gen_bi_assets.py presuppose parent rows exist) and its
upserts pick a single winner row (ReplacingMergeTree semantics). This
pack adds the production guards around both assumptions: row-level
orphan audits, Spark's runtime bloom-filter join pruning (the 100 TB
mechanism that keeps a selective dimension filter from scanning the
whole fact table), and field-level survivorship merge (MDM
golden-record construction, the generalization of W1 pick-latest
dedup from rows to fields).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import qround
from automatic_etl_spark.scratch import scratch_dir
from automatic_etl_spark.session import session_conf
from automatic_etl_spark.sources.parquet import table

# --- Row-level referential-integrity audit -----------------------------------

_ORPHAN_ORACLE = """
    SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS pair,
           COUNT(*) AS child_rows,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_rows,
           floor(CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
               AS orphan_rate
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders.o_custkey->customer.c_custkey',
           COUNT(*),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           floor(CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer.c_nationkey->region.r_regionkey',
           COUNT(*),
           CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           floor(CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
    FROM customer c LEFT JOIN region r ON c.c_nationkey = r.r_regionkey
"""


def _orphan_row(
    child: DataFrame, ck: str, parent: DataFrame, pk: str, name: str
) -> DataFrame:
    """LEFT join against the broadcast DISTINCT parent key-set: the
    probe side streams, the build side is |parent keys| not |parent
    rows| — at 100 TB the fact table is scanned once, never shuffled."""
    keys = parent.select(F.col(pk).alias("_pk")).distinct()
    hit = child.join(
        F.broadcast(keys), child[ck] == F.col("_pk"), "left"
    )
    return hit.agg(
        F.lit(name).alias("pair"),
        F.count(F.lit(1)).alias("child_rows"),
        F.sum(F.col("_pk").isNull().cast("long")).alias("orphan_rows"),
    ).select(
        "pair",
        "child_rows",
        "orphan_rows",
        qround(
            F.col("orphan_rows").cast("double") / F.col("child_rows")
        ).alias("orphan_rate"),
    )


@register("orphan_fk_audit", oracle=_ORPHAN_ORACLE)
def orphan_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level referential integrity: orphan counts per FK edge —
    the row-granular complement of `fk_discovery_containment` (which
    audits key SETS). Two structurally-sound edges report 0 orphans;
    the deliberate mismatch (nationkey vs regionkey) quantifies real
    orphan mass. Parent key-sets are distinct-projected and broadcast,
    so each audit is one streaming pass over the child table."""
    lineitem = table(spark, sf_dir, "lineitem", fan_out=False)
    orders = table(spark, sf_dir, "orders", fan_out=False)
    customer = table(spark, sf_dir, "customer", fan_out=False)
    region = table(spark, sf_dir, "region", fan_out=False)
    parts = [
        _orphan_row(
            lineitem, "l_orderkey", orders, "o_orderkey",
            "lineitem.l_orderkey->orders.o_orderkey",
        ),
        _orphan_row(
            orders, "o_custkey", customer, "c_custkey",
            "orders.o_custkey->customer.c_custkey",
        ),
        _orphan_row(
            customer, "c_nationkey", region, "r_regionkey",
            "customer.c_nationkey->region.r_regionkey",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- Runtime bloom-filter join pruning ---------------------------------------

_BLOOM_ORACLE = """
    SELECT l.l_returnflag AS returnflag,
           COUNT(*) AS line_cnt,
           CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
"""


@register("runtime_bloom_join_agg", oracle=_BLOOM_ORACLE)
def runtime_bloom_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dimension filter joined to the fact table with
    Spark's RUNTIME BLOOM FILTER injected on the probe side
    (InjectRuntimeFilter): the urgent-orders predicate builds a bloom
    filter that prunes lineitem rows BEFORE the shuffle — at 100 TB
    this is the difference between shuffling the whole fact table and
    shuffling the ~20% that can match. The join strategy is pinned to
    sort-merge with a hint (hints survive conf restoration; broadcast
    joins don't take runtime filters), and the application-side scan
    threshold is dropped to 0 inside the callable because the local
    fixture is far below the 10 GiB production default — at
    production scale the DEFAULT config injects this filter with no
    override at all. Optimization is forced inside the conf window
    (QueryExecution.optimizedPlan is a cached lazy val, so the
    injected bloom filter survives the conf restore). The oracle
    is the PLAIN join — pruning must be result-invisible."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        # InjectRuntimeFilter bails on joins it judges broadcast-able
        # by SIZE (isProbablyShuffleJoin) — true for any local fixture,
        # false for a 100 TB fact table. Disable the size estimate for
        # the optimization window only; the merge hint (not this conf)
        # is what pins the executed join strategy.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with session_conf(spark, confs):
        # fan_out=False: the local fixture fan-out repartition would sit
        # between scan and join and suppress InjectRuntimeFilter (see
        # sources/parquet.table docstring); cluster layouts never take
        # that branch.
        lineitem = table(spark, sf_dir, "lineitem", fan_out=False)
        orders = table(spark, sf_dir, "orders", fan_out=False).where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = lineitem.join(
            orders.hint("merge"),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        out = joined.groupBy(
            F.col("l_returnflag").alias("returnflag")
        ).agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.sum(
                # round-ok: scale-0 cents recovery — a 2-dp money value
                # ×100 lands within 1 ulp of an integer (0.5 margin, no
                # half boundary); both engines round the same double.
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("revenue_cents"),
        )
        # Force optimization INSIDE the conf window: InjectRuntimeFilter
        # runs in the optimizer, whose output is cached on this
        # DataFrame's QueryExecution — without this the lazy optimize
        # would run after the window closes and never inject.
        out._jdf.queryExecution().optimizedPlan()
    return out


# --- Golden-record survivorship merge ----------------------------------------

_GOLDEN_ORACLE = """
    WITH ranked AS (
        SELECT o_custkey, o_orderstatus, o_orderpriority,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC
               ) AS rn,
               COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
               MIN(o_orderdate) OVER (PARTITION BY o_custkey)
                   AS first_order_date,
               MAX(o_orderdate) OVER (PARTITION BY o_custkey)
                   AS last_order_date,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        OVER (PARTITION BY o_custkey)
                    AS BIGINT) AS lifetime_cents
        FROM orders
    )
    SELECT o_custkey AS custkey, n_orders,
           first_order_date, last_order_date, lifetime_cents,
           o_orderstatus AS latest_status,
           o_orderpriority AS latest_priority
    FROM ranked WHERE rn = 1
"""


@register("golden_record_merge", oracle=_GOLDEN_ORACLE)
def golden_record_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM golden-record construction: one surviving record per
    customer merging fields under DIFFERENT survivorship rules —
    most-recent wins for status/priority (total tie-break:
    order_date desc, orderkey desc), min/max for the date span, exact
    integer-cents sum for lifetime value. This generalizes the W1
    pick-latest dedup (operators/dedup.py, reference
    tools/ingest_runner.py dedup modes) from whole-row to per-field
    survivorship. The rank window and ALL rollup fields evaluate as
    window functions over the SAME custkey partitioning — one scan of
    orders, ONE wide shuffle, no self-join (a groupBy+join shape
    would scan the fact table twice and shuffle twice)."""
    orders = table(spark, sf_dir, "orders", fan_out=False)
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    w_all = Window.partitionBy("o_custkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n_orders"),
            F.min("o_orderdate").over(w_all).alias("first_order_date"),
            F.max("o_orderdate").over(w_all).alias("last_order_date"),
            F.sum(
                # round-ok: scale-0 cents recovery — 2-dp money ×100 is
                # within 1 ulp of an integer, 0.5 margin from any half.
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            )
            .over(w_all)
            .alias("lifetime_cents"),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            "n_orders",
            "first_order_date",
            "last_order_date",
            "lifetime_cents",
            F.col("o_orderstatus").alias("latest_status"),
            F.col("o_orderpriority").alias("latest_priority"),
        )
    )


# --- Dynamic partition pruning ------------------------------------------------
# The second runtime-pruning mechanism (sibling of the bloom filter
# above): when the fact table is PARTITIONED on the join key, Spark
# turns the dim-side filter into a partition-pruning subquery at run
# time (PartitionFilters: dynamicpruning#...) and never opens the
# pruned directories at all. At 100 TB with date/tenant partitioning
# this is the dominant scan saver; the bloom filter handles the
# non-partition-key case.

DPP_TYPE_WEIGHTS = (
    ("click", 1), ("view", 2), ("signup", 5), ("purchase", 10),
    ("error", 0),
)
DPP_MIN_WEIGHT = 5  # the dim-side selective filter that drives pruning

_DPP_ORACLE = f"""
    WITH dim(event_type, weight) AS (
        VALUES {", ".join(f"('{t}', {w})" for t, w in DPP_TYPE_WEIGHTS)}
    )
    SELECT e.event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents_total,
           CAST(SUM(d.weight) AS BIGINT) AS weight_total
    FROM events e JOIN dim d ON e.event_type = d.event_type
    WHERE d.weight >= {DPP_MIN_WEIGHT}
    GROUP BY e.event_type
"""


@register("dynamic_partition_pruning_agg", oracle=_DPP_ORACLE)
def dynamic_partition_pruning_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition pruning exercised end-to-end: events are
    written PARTITIONED BY event_type, then joined to a 2-row dim —
    the dim filter becomes a runtime partition-pruning subquery on
    the fact scan (asserted in-plan by the companion unit test), so
    3 of 5 partition directories are never read. The oracle computes
    the same aggregate from the unpartitioned table — pruning must be
    result-invisible. The write is the fixture stand-in for a table
    that is ALREADY partitioned this way in production."""
    ev = table(spark, sf_dir, "events", fan_out=False)
    # ONE fixed per-process target, cleared at call start (the
    # storage_plans dpo_audit precedent): concurrent processes never
    # clear each other's partitions mid-query.
    target = scratch_dir("dpp_audit")
    # One file per partition dir (the compaction_file_audit pattern).
    ev.repartition(5, "event_type").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(target)
    fact = spark.read.parquet(target)
    # The SELECTIVE FILTER on the dim side is what the PartitionPruning
    # rule keys on (hasSelectivePredicate): a pre-filtered literal would
    # not trigger DPP.
    dim = spark.createDataFrame(
        list(DPP_TYPE_WEIGHTS), ["event_type", "weight"]
    ).where(F.col("weight") >= DPP_MIN_WEIGHT)
    joined = fact.join(F.broadcast(dim), "event_type")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.floor(F.col("value") * 100).cast("bigint")
        ).cast("bigint").alias("cents_total"),
        F.sum("weight").cast("bigint").alias("weight_total"),
    )


# --- Three-clause MERGE (upsert + delete) semantics ---------------------------
# The reference's upsert surface is ReplacingMergeTree pick-latest
# (tools/ingest_runner.py dedup modes) plus Debezium delete tombstones
# (tools/kafka_to_clickhouse.py __deleted rewrite) — two separate
# mechanisms. Lakehouse engines unify them as MERGE INTO with WHEN
# MATCHED [AND cond] UPDATE/DELETE and WHEN NOT MATCHED INSERT. Spark
# has the semantics but not a local MERGE-capable catalog in this
# sandbox, so the plan expresses the standard copy-on-write shape:
# ONE full-outer join target↔source on the merge key, with every
# clause a branch of one CASE — the exact physical plan Delta/Iceberg
# generate for a non-pruned MERGE.

MERGE_UPDATE_FACTOR_CENTS = 110  # src price = 1.1 × target, in cents

_MERGE_ORACLE = """
    WITH target AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    source AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) * 110 // 100
                   AS cents,
               CASE WHEN o_orderkey % 10 = 0 THEN 'd' ELSE 'u' END AS op
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
        SELECT CASE
                   WHEN s.k IS NULL THEN 'kept'
                   WHEN t.k IS NULL AND s.op = 'd' THEN 'skipped_delete'
                   WHEN t.k IS NULL THEN 'inserted'
                   WHEN s.op = 'd' THEN 'deleted'
                   ELSE 'updated'
               END AS action,
               CASE
                   WHEN s.k IS NULL THEN t.cents
                   WHEN t.k IS NULL AND s.op = 'd' THEN 0
                   WHEN s.op = 'd' THEN t.cents
                   ELSE s.cents
               END AS cents
        FROM target t FULL OUTER JOIN source s ON t.k = s.k
    )
    SELECT action, COUNT(*) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(CASE WHEN action IN ('kept', 'updated', 'inserted')
                         THEN 1 ELSE 0 END) AS BIGINT) AS survives
    FROM merged GROUP BY action
"""


@register("merge_three_way", oracle=_MERGE_ORACLE)
def merge_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE INTO semantics in one pass: target (orders with
    key%3≠0) merged with a CDC-style source batch (key%2=0; every
    10th key a delete tombstone) under three clauses — WHEN MATCHED
    AND op='d' DELETE, WHEN MATCHED UPDATE (price +10%), WHEN NOT
    MATCHED INSERT (a not-matched delete is a reported no-op). Output
    is the per-action row/cents accounting a MERGE commit log records.

    Physical shape: ONE shuffle-on-key full-outer sort-merge join and
    one small agg — the canonical copy-on-write MERGE plan. At 100 TB
    the join key is the table's bucket/cluster key, so the target side
    pre-shuffles at write time (bucketed_join_agg shows the shuffle-
    free variant), the source batch is orders of magnitude smaller,
    and AQE's skew split covers hot keys. All money stays in integer
    cents (decimal_fidelity_agg policy); the 110/100 update is BIGINT
    division on both engines, truncation identical."""
    orders = table(spark, sf_dir, "orders", fan_out=False)
    # round-ok: scale-0 cents recovery — 2-dp money ×100 is within
    # 1 ulp of an integer, 0.5 margin from any half boundary.
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    target = orders.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("t_cents")
    )
    source = orders.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.call_function(
            "div", cents * MERGE_UPDATE_FACTOR_CENTS, F.lit(100)
        ).alias("s_cents"),
        F.when(F.col("o_orderkey") % 10 == 0, "d")
        .otherwise("u")
        .alias("op"),
    )
    t, s = target.alias("t"), source.alias("s")
    joined = t.join(s, "k", "full_outer")
    action = (
        F.when(F.col("op").isNull(), "kept")
        .when(
            F.col("t_cents").isNull() & (F.col("op") == "d"),
            "skipped_delete",
        )
        .when(F.col("t_cents").isNull(), "inserted")
        .when(F.col("op") == "d", "deleted")
        .otherwise("updated")
    )
    merged_cents = (
        F.when(F.col("op").isNull(), F.col("t_cents"))
        .when(
            F.col("t_cents").isNull() & (F.col("op") == "d"), F.lit(0)
        )
        .when(F.col("op") == "d", F.col("t_cents"))
        .otherwise(F.col("s_cents"))
    )
    return (
        joined.select(action.alias("action"), merged_cents.alias("cents"))
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents_total"),
            F.sum(
                F.col("action")
                .isin("kept", "updated", "inserted")
                .cast("long")
            )
            .cast("bigint")
            .alias("survives"),
        )
    )


# --- Scalable surrogate-key assignment ----------------------------------------
# Warehouses assign dense sequential surrogate keys on load. The naive
# Spark formulation — row_number() over a GLOBAL order — plans a
# single-partition window: one task sorts the entire table, the
# canonical 100 TB scale-killer. The scalable form is two-phase:
# range-partition on the business key, rank locally, then add each
# partition's cumulative offset (a |partitions|-row driver-side frame).
# The result is IDENTICAL to the global row_number by construction —
# ranges are ordered and ranking within a range is total — which is
# exactly what the oracle asserts.

SK_PARTS = 8


@register(
    "surrogate_key_assignment",
    oracle="""
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY doc_id) AS surrogate_key
        FROM documents
    """,
)
def surrogate_key_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense sequential surrogate keys for documents, assigned without
    a global sort: repartitionByRange(doc_id) → per-partition
    row_number → broadcast cumulative partition offsets → key =
    offset + local rank. Equals ROW_NUMBER() OVER (ORDER BY doc_id)
    exactly (the oracle), but every heavy stage is parallel: the range
    exchange, the per-partition sort, and the offset join (broadcast,
    |SK_PARTS| rows). The offsets window runs un-partitioned — over a
    frame of SK_PARTS rows, not data. At cluster scale raise SK_PARTS
    to the executor-core count; correctness is partition-count-
    invariant (asserted by the companion unit across 2/8/27)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    ranged = docs.repartitionByRange(SK_PARTS, "doc_id").select(
        "doc_id", F.spark_partition_id().alias("pid")
    )
    local = ranged.select(
        "doc_id",
        "pid",
        F.row_number()
        .over(Window.partitionBy("pid").orderBy("doc_id"))
        .alias("lrn"),
    ).localCheckpoint(eager=True)
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    offsets = counts.select(
        "pid",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    return local.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        (F.col("off") + F.col("lrn")).cast("bigint").alias("surrogate_key"),
    )


# --- Late-arriving dimension (early-arriving fact) handling -------------------
# The classic warehouse seam: facts land before their dimension row
# does. The standard pattern books the fact against an "unknown
# member" surrogate, then a backfill pass re-resolves once the
# dimension catches up; rows whose member NEVER materializes stay on
# the unknown member and must be visible in audits, not silently
# dropped. The reference ingests facts and dims as independent tables
# and assumes the join works at BI time (gen_bi_assets.py) — this is
# the guard for the window where that assumption is false.

LATE_DIM_MOD = 11   # customers arriving after the facts (backfillable)
NEVER_DIM_MOD = 13  # customers that never materialize

_LATE_DIM_ORACLE = f"""
    WITH full_dim AS (
        SELECT c_custkey FROM customer
        WHERE c_custkey % {NEVER_DIM_MOD} <> 0
    ),
    day1_dim AS (
        SELECT c_custkey FROM full_dim
        WHERE c_custkey % {LATE_DIM_MOD} <> 0
    ),
    classified AS (
        SELECT o.o_orderstatus,
               CASE WHEN d1.c_custkey IS NOT NULL THEN 'resolved_day1'
                    WHEN fd.c_custkey IS NOT NULL THEN 'late_backfilled'
                    ELSE 'permanent_unknown' END AS resolution
        FROM orders o
        LEFT JOIN day1_dim d1 ON o.o_custkey = d1.c_custkey
        LEFT JOIN full_dim fd ON o.o_custkey = fd.c_custkey
    )
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_facts,
           CAST(SUM(CASE WHEN resolution <> 'resolved_day1'
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unknown_initial,
           CAST(SUM(CASE WHEN resolution = 'late_backfilled'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered,
           CAST(SUM(CASE WHEN resolution = 'permanent_unknown'
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_still_unknown
    FROM classified GROUP BY o_orderstatus
"""


@register("late_dimension_backfill", oracle=_LATE_DIM_ORACLE)
def late_dimension_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unknown-member accounting across the late-dimension window:
    facts are first resolved against the day-1 dimension (every 11th
    customer missing — late), then backfilled against the eventual
    full dimension (every 13th customer never arrives): per order
    status, how many facts initially booked to the unknown member,
    how many the backfill recovered, how many stay unknown forever.

    Shape: the fact table streams ONCE against two BROADCAST distinct
    key-sets (dimension keys, not dimension rows — the orphan_fk_audit
    build-side discipline); the resolution CASE and all counters fold
    into one status-keyed aggregate. No fact-side shuffle before the
    final ≤|statuses|-row agg, so the backfill audit costs one scan at
    any fact-table scale."""
    orders = table(spark, sf_dir, "orders", fan_out=False).select(
        "o_custkey", "o_orderstatus"
    )
    customer = table(spark, sf_dir, "customer", fan_out=False)
    full_dim = (
        customer.where(F.col("c_custkey") % NEVER_DIM_MOD != 0)
        .select(F.col("c_custkey").alias("fd_key"))
        .distinct()
    )
    day1_dim = full_dim.where(
        F.col("fd_key") % LATE_DIM_MOD != 0
    ).select(F.col("fd_key").alias("d1_key"))
    hit = orders.join(
        F.broadcast(day1_dim),
        orders.o_custkey == F.col("d1_key"),
        "left",
    ).join(
        F.broadcast(full_dim),
        orders.o_custkey == F.col("fd_key"),
        "left",
    )
    resolution = (
        F.when(F.col("d1_key").isNotNull(), "resolved_day1")
        .when(F.col("fd_key").isNotNull(), "late_backfilled")
        .otherwise("permanent_unknown")
    )
    return (
        hit.select(
            F.col("o_orderstatus").alias("status"),
            resolution.alias("resolution"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_facts"),
            F.sum((F.col("resolution") != "resolved_day1").cast("long"))
            .cast("bigint")
            .alias("n_unknown_initial"),
            F.sum((F.col("resolution") == "late_backfilled").cast("long"))
            .cast("bigint")
            .alias("n_recovered"),
            F.sum(
                (F.col("resolution") == "permanent_unknown").cast("long")
            )
            .cast("bigint")
            .alias("n_still_unknown"),
        )
    )


# --- Ingestion-completeness (id hole) audit -----------------------------------
# A sequence-keyed source (binlog position, Kafka offset, AUTO_INCREMENT
# PK — the reference's chunked JDBC scans key on exactly this,
# tools/ingest_runner.py partitionColumn) admits a cheap completeness
# check: within the observed id range, every id should exist once.
# Finding the HOLES without a global sort: fixed-width id buckets,
# count per bucket, compare to the bucket's arithmetic capacity —
# bucket-local work, no window over the stream. Vanished buckets (all
# ids lost) are counted by arithmetic (n_buckets − full buckets), not
# by groupBy rows, so total loss is never under-reported.

ID_AUDIT_WIDTH = 512
ID_LOSS_MOD = 1000  # planted loss: every id ≡ 17 (mod 1000) dropped

_ID_AUDIT_ORACLE = f"""
    WITH ev AS (
        SELECT event_id AS id FROM events
        WHERE event_id % {ID_LOSS_MOD} <> 17
    ),
    bounds AS (
        SELECT MIN(id) AS lo, MAX(id) AS hi,
               (MAX(id) - MIN(id)) // {ID_AUDIT_WIDTH} + 1 AS nb
        FROM ev
    ),
    per_bucket AS (
        SELECT (id - lo) // {ID_AUDIT_WIDTH} AS bucket,
               COUNT(*) AS present,
               MIN(nb) AS nb, MIN(lo) AS lo, MIN(hi) AS hi
        FROM ev CROSS JOIN bounds
        GROUP BY (id - lo) // {ID_AUDIT_WIDTH}
    ),
    capacity AS (
        SELECT bucket, present, nb, lo, hi,
               CASE WHEN bucket = nb - 1
                    THEN hi - lo + 1 - (nb - 1) * {ID_AUDIT_WIDTH}
                    ELSE {ID_AUDIT_WIDTH} END AS expected
        FROM per_bucket
    )
    SELECT CAST(MAX(nb) AS BIGINT) AS n_buckets,
           CAST(MAX(hi) - MAX(lo) + 1 AS BIGINT) AS total_expected,
           CAST(SUM(present) AS BIGINT) AS total_present,
           CAST(MAX(hi) - MAX(lo) + 1 - SUM(present) AS BIGINT)
               AS total_missing,
           CAST(MAX(nb)
                - SUM(CASE WHEN present = expected THEN 1 ELSE 0 END)
                AS BIGINT) AS buckets_with_holes
    FROM capacity
"""


@register("id_completeness_audit", oracle=_ID_AUDIT_ORACLE)
def id_completeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hole census over the observed id range of a sequence-keyed
    stream with planted loss (every id ≡ 17 mod 1000 dropped): bucket
    the ids into fixed 512-wide slices, compare each bucket's count
    to its arithmetic capacity, and report totals — including buckets
    that vanished entirely, recovered by arithmetic rather than by
    groupBy presence.

    Scale shape: one narrow pass against a broadcast 1-row bounds
    frame, one bucket-keyed aggregate (id-range/512 groups — at a
    100 TB offset range raise the width so the bucket frame stays
    driver-broadcastable), one 1-row rollup. No sort, no window, no
    join wider than a singleton."""
    ev = (
        table(spark, sf_dir, "events", fan_out=False)
        .where(F.col("event_id") % ID_LOSS_MOD != 17)
        .select(F.col("event_id").alias("id"))
    )
    bounds = ev.agg(
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        (
            F.call_function(
                "div", F.max("id") - F.min("id"), F.lit(ID_AUDIT_WIDTH)
            )
            + 1
        ).alias("nb"),
    )
    per_bucket = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.call_function(
                "div", F.col("id") - F.col("lo"), F.lit(ID_AUDIT_WIDTH)
            ).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("present"),
            F.min("nb").alias("nb"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
        )
    )
    expected = F.when(
        F.col("bucket") == F.col("nb") - 1,
        F.col("hi") - F.col("lo") + 1
        - (F.col("nb") - 1) * ID_AUDIT_WIDTH,
    ).otherwise(F.lit(ID_AUDIT_WIDTH))
    capacity = per_bucket.select(
        "bucket", "present", "nb", "lo", "hi", expected.alias("expected")
    )
    return capacity.agg(
        F.max("nb").cast("bigint").alias("n_buckets"),
        (F.max("hi") - F.max("lo") + 1).cast("bigint").alias(
            "total_expected"
        ),
        F.sum("present").cast("bigint").alias("total_present"),
        (F.max("hi") - F.max("lo") + 1 - F.sum("present"))
        .cast("bigint")
        .alias("total_missing"),
        (
            F.max("nb")
            - F.sum((F.col("present") == F.col("expected")).cast("long"))
        )
        .cast("bigint")
        .alias("buckets_with_holes"),
    )
