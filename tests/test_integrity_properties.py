"""Invariant tests for the integrity pack: orphan ground truth, the
bloom-filter injection mechanism (not just result parity), golden-
record survivorship laws, and conf-restore hygiene.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from automatic_etl_spark.plans.all_plans import REGISTRY
from automatic_etl_spark.session import session_conf

SF = "/root/testdata/sf0.001"


def test_orphan_ground_truth(spark):
    """Structurally-sound FK edges report zero orphans; the deliberate
    nationkey->regionkey mismatch reports a strictly positive orphan
    mass (TPC-H shape: regionkeys are a strict subset of nationkeys)."""
    rows = {r.pair: r for r in REGISTRY["orphan_fk_audit"][0](spark, SF).collect()}
    assert rows["lineitem.l_orderkey->orders.o_orderkey"].orphan_rows == 0
    assert rows["orders.o_custkey->customer.c_custkey"].orphan_rows == 0
    miss = rows["customer.c_nationkey->region.r_regionkey"]
    assert 0 < miss.orphan_rows < miss.child_rows
    for r in rows.values():
        assert 0.0 <= r.orphan_rate <= 1.0
        assert (r.orphan_rows == 0) == (r.orphan_rate == 0.0)


def test_bloom_filter_injected_in_registry_query(spark):
    """The registry query must actually carry the injected runtime
    bloom filter (might_contain on the probe side) — result parity
    alone can't distinguish it from a plain join — and must restore
    every conf it touched."""
    before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    df = REGISTRY["runtime_bloom_join_agg"][0](spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in opt
    assert "bloom_filter_agg" in opt
    after = {k: spark.conf.get(k) for k in before}
    assert after == before


def test_golden_record_survivorship_laws(spark):
    """Per golden record: date span is ordered, lifetime value is the
    sum over that customer's orders (cross-checked on raw data for a
    sample), and latest_status matches the max-(date, orderkey) row."""
    golden = {
        r.custkey: r
        for r in REGISTRY["golden_record_merge"][0](spark, SF).collect()
    }
    assert golden
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    raw = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        ),
    )
    for row in raw.limit(50).collect():
        g = golden[row.o_custkey]
        assert g.n_orders == row.n
        assert g.lifetime_cents == row.cents
    for g in golden.values():
        assert g.first_order_date <= g.last_order_date
        assert g.n_orders >= 1


def test_dynamic_partition_pruning_injected(spark):
    """The fact scan must carry a dynamicpruning expression in its
    PartitionFilters — proof the dim filter became a runtime partition
    pruner rather than a post-scan filter."""
    df = REGISTRY["dynamic_partition_pruning_agg"][0](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def test_group_by_all_and_listagg_determinism(spark):
    """listagg WITHIN GROUP must be partitioning-invariant: identical
    output at 2 and 27 shuffle partitions."""
    outs = []
    for parts in ("2", "27"):
        with session_conf(spark, {"spark.sql.shuffle.partitions": parts}):
            rows = sorted(
                (r.regionkey, r.nations_csv)
                for r in REGISTRY["string_agg_surface"][0](spark, SF).collect()
            )
        outs.append(rows)
    assert outs[0] == outs[1]
    for _, csv in outs[0]:
        names = csv.split(",")
        assert names == sorted(names)
