"""Property/invariant tests for the round-5 enrichment pack — checks
the oracle parity sweep cannot express: conservation laws, mass
balance, and partitioning invariance over synthetic inputs.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from automatic_etl_spark.plans.all_plans import REGISTRY
from automatic_etl_spark.session import session_conf
from automatic_etl_spark.plans.enrichment_plans import (
    BPE_TOP_K,
    CHUNK,
    STRIDE,
)

PROP = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

SF = "/root/testdata/sf0.001"


def test_chunking_covers_every_token_exactly_once_modulo_overlap(spark):
    """Chunk accounting identity: with stride S and cap C, the chunk
    token total equals n_tok + overlap, where overlap counts each
    token re-emitted by a later overlapping chunk. For next-start
    coverage: every chunk except the last has length C (since
    C > S means chunks overlap until the tail), so
    chunk_tokens == (n_chunks - 1) * C + last_len with
    1 <= last_len <= C. We assert the weaker always-true bounds."""
    df = REGISTRY["chunk_stride_stats"][0](spark, SF)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n_chunks == (r.n_tok + STRIDE - 1) // STRIDE
        # every token appears in at least its own chunk
        assert r.chunk_tokens >= r.n_tok
        # and at most once per overlapping chunk
        assert r.chunk_tokens <= r.n_chunks * CHUNK
        assert 0.0 <= r.pad_frac < 1.0


def test_semdedup_mass_balance(spark):
    """n_kept + n_pruned == n_members per cluster; every cluster keeps
    at least one survivor (keep-min can never prune the min id)."""
    rows = REGISTRY["semdedup_prune"][0](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_kept + r.n_pruned == r.n_members
        assert r.n_kept >= 1


def test_pagerank_mass_bounded_and_teleport_floor(spark):
    """Without dangling redistribution total rank can only leak mass
    (sum <= 1), never create it, and every node keeps at least the
    teleport floor 0.15/N."""
    rows = REGISTRY["pagerank_two_iter"][0](spark, SF).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.pr for r in rows)
    assert total <= 1.0 + 1e-6
    floor = 0.15 / n
    assert all(r.pr >= floor - 1e-9 for r in rows)


def test_pagerank_scaled_buckets_path(spark):
    """The buckets-∝-N production knob (VERDICT r8 #5): make_planes
    generalizes DEFAULT_PLANES (3 == the default, bounds fail loudly),
    and pagerank under more planes keeps the PageRank invariants —
    more buckets can only DROP edges (cross-bucket pairs are never
    scored), so mass stays bounded and the teleport floor holds."""
    from automatic_etl_spark.operators import similarity as sim
    from automatic_etl_spark.plans.enrichment_plans import (
        pagerank_two_iter,
    )

    assert sim.make_planes(3) == sim.DEFAULT_PLANES
    assert len(sim.make_planes(6)) == 6
    assert all(len(p) == 8 for p in sim.make_planes(6))
    # disjointness: overlapping subsets would correlate sign bits
    seen = set()
    for p in sim.make_planes(8):
        assert not (set(p) & seen)
        seen |= set(p)
    with pytest.raises(ValueError):
        sim.make_planes(9)
    with pytest.raises(ValueError):
        sim.make_planes(0)

    rows = pagerank_two_iter(spark, SF, planes=sim.make_planes(6)).collect()
    n = len(rows)
    assert n > 0
    assert sum(r.pr for r in rows) <= 1.0 + 1e-6
    assert all(r.pr >= 0.15 / n - 1e-9 for r in rows)


def test_fuzzy_match_twin_rule(spark):
    """is_correct == 0 exactly when the dirty key's digits contain a 7
    (the corrupted glyph makes the 7s→1s twin strictly closer)."""
    rows = REGISTRY["fuzzy_match_recovery"][0](spark, SF).collect()
    assert rows
    for r in rows:
        has7 = "7" in str(r.dirty_key)
        assert r.is_correct == (0 if has7 else 1), r
        if has7:
            assert str(r.matched_key) == str(r.dirty_key).replace("7", "1")


def test_outlier_fences_consistent_with_winsorize(spark):
    """The IQR report's quartiles and winsorize's percentiles come
    from the same value-compressed machinery: p05 <= q1 <= q3 <= p95
    must hold per group on any data."""
    iqr = {
        r.event_type: r
        for r in REGISTRY["outlier_iqr_report"][0](spark, SF).collect()
    }
    wins = {
        r.event_type: r
        for r in REGISTRY["winsorize_stats"][0](spark, SF).collect()
    }
    assert set(iqr) == set(wins) and iqr
    for et, r in iqr.items():
        w = wins[et]
        assert w.p05 <= r.q1 <= r.q3 <= w.p95
        assert w.p05 <= w.wins_mean <= w.p95


def test_bpe_pair_count_conservation(spark):
    """Sum over ALL pairs of pair_count equals sum over words of
    (len(word) - 1) * word_count — the BPE accounting identity. Run
    on the un-truncated totals (rank filter removed by recomputing
    with a huge top-k is unnecessary: compare totals directly)."""
    from automatic_etl_spark.functions import text as tx
    from automatic_etl_spark.sources.parquet import table

    docs = table(spark, SF, "documents").select("text")
    words = (
        docs.select(F.explode(tx.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.length("w") >= 2)
    )
    expected = words.select(
        F.sum((F.length("w") - 1) * F.col("c")).alias("s")
    ).first()[0]
    # top-k truncates, so assert the subset bound + rank shape instead
    rows = REGISTRY["bpe_merge_mining"][0](spark, SF).collect()
    assert 0 < len(rows) <= BPE_TOP_K
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
        range(1, len(rows) + 1)
    )
    counts = [r.pair_count for r in sorted(rows, key=lambda r: r.rank)]
    assert counts == sorted(counts, reverse=True)
    assert sum(counts) <= expected


@PROP
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_gap_fill_partition_invariance(spark, seed):
    """time_gap_fill output is identical under different shuffle
    partitionings (the spine construction has no order dependence)."""
    with session_conf(spark, {"spark.sql.shuffle.partitions": str(2 + seed % 30)}):
        a = sorted(
            map(tuple, REGISTRY["time_gap_fill"][0](spark, SF).collect())
        )
    b = sorted(map(tuple, REGISTRY["time_gap_fill"][0](spark, SF).collect()))
    assert a == b


def test_gap_fill_row_count_is_span_times_groups(spark):
    """Exactly (span days) x (distinct groups) rows; zero-filled cells
    plus fact cells account for every (group, day)."""
    import duckdb

    df = REGISTRY["time_gap_fill"][0](spark, SF)
    rows = df.collect()
    con = duckdb.connect()
    days, groups = con.execute(
        f"""SELECT CAST(MAX(o_orderdate) AS DATE)
                   - CAST(MIN(o_orderdate) AS DATE) + 1,
                   COUNT(DISTINCT o_orderpriority)
            FROM read_parquet('{SF}/orders.parquet')"""
    ).fetchone()
    assert len(rows) == days * groups
    assert sum(r.cnt for r in rows) == con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/orders.parquet')"
    ).fetchone()[0]


def test_pit_join_matches_exactly_purchases_with_prior_activity(spark):
    """Each purchase matches AT MOST one SCD2 version (half-open
    intervals partition the timeline), and matches EXACTLY when the
    user has any non-purchase event at-or-before the purchase ts —
    verified against an independent exists-style computation."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.sources.parquet import table

    out = REGISTRY["scd2_point_in_time_join"][0](spark, SF)
    matched = out.agg(F.sum("purchases")).first()[0]

    ev = table(spark, SF, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    activity = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    expected = (
        purchases.join(activity, "user_id")
        .filter(F.col("ts") >= F.col("first_ts"))
        .count()
    )
    assert matched == expected
    assert matched > 0


def test_equidepth_buckets_partition_all_rows(spark):
    """Bucket ids lie in [0, 9] and per-group bucket counts sum to the
    group's row count — the histogram partitions every row exactly
    once; equi-depth property: each bucket holds <= ceil(n/10) + tie
    slack (bounded by the largest tied value-run)."""
    from automatic_etl_spark.plans.enrichment_plans import EQUIDEPTH_BUCKETS
    from automatic_etl_spark.sources.parquet import table

    rows = REGISTRY["value_histogram_equidepth"][0](spark, SF).collect()
    assert rows
    per_group: dict[str, int] = {}
    for r in rows:
        assert 0 <= r.bucket < EQUIDEPTH_BUCKETS
        per_group[r.event_type] = per_group.get(r.event_type, 0) + r.cnt
    totals = {
        r.event_type: r.n
        for r in table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_group == totals


def test_cluster_top_terms_rank_shape(spark):
    """Per cluster: ranks are dense 1..k, counts non-increasing, and
    every ranked term actually occurs in that cluster's documents."""
    from automatic_etl_spark.plans.enrichment_plans import LABEL_TOP_K

    rows = REGISTRY["cluster_top_terms"][0](spark, SF).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.list_id, []).append(r)
    for _list_id, rs in by_cluster.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= LABEL_TOP_K
        counts = [r.term_cnt for r in rs]
        assert counts == sorted(counts, reverse=True)
        assert all(c >= 1 for c in counts)


@PROP
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=120,
    ),
    num=st.integers(min_value=1, max_value=99),
)
def test_grouped_type1_quantile_matches_python_reference(spark, vals, num):
    """operators/quantiles.py vs the definition: the type-1 quantile at
    p = num/100 is sorted_vals[ceil(p*n) - 1] over NON-NULL values.
    Random floats, duplicates AND NULLs included — NULLs must not
    shift the cumulative counts or inflate n (ADVICE r5: Spark windows
    order NULLS FIRST, DuckDB NULLS LAST, so unfiltered NULLs diverge
    silently)."""
    from automatic_etl_spark.operators.quantiles import (
        grouped_type1_quantiles,
    )

    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v double")
    got = grouped_type1_quantiles(
        df, "grp", "v", {"q": (num, 100)}
    ).collect()
    present = sorted(v for v in vals if v is not None)
    n = len(present)
    if n == 0:
        assert got == []
        return
    assert len(got) == 1
    # exact rational ceil(num/100 * n) — float ceil would mis-round at
    # boundaries like 0.1 * 10
    idx = -(-num * n // 100)
    expected = present[idx - 1]
    assert got[0].q == expected
    assert got[0].n_events == n


def test_rank_index_integer_exact_beyond_2_53(spark):
    """The rank index must survive num*n > 2^53: the module contract
    says pure-integer arithmetic (Spark `div`, DuckDB `//`), and a
    double round-trip would snap these values to the nearest
    representable. Checks exact ceil(num*n/den) on n near 2^60.
    (The documented bound is num*n + den-1 < 2^63 — long overflow —
    so cases keep the product inside int64.)"""
    from pyspark.sql import functions as F

    from automatic_etl_spark.operators.quantiles import _rank_index

    cases = [
        (2**60 + 7, 3, 7),
        (2**53 + 1, 1, 2),
        (2**53 + 1, 95, 100),
        (10**17 + 3, 19, 20),
    ]
    df = spark.createDataFrame(
        [(n,) for n, _, _ in cases], "n long"
    )
    for n, num, den in cases:
        got = (
            df.filter(F.col("n") == n)
            .select(_rank_index(F.col("n"), num, den).alias("r"))
            .collect()[0]
            .r
        )
        assert got == (num * n + den - 1) // den
