"""Invariant tests for the round-6 production-ops pack: MERGE
accounting laws, EWMA predictor ground truth, MMR greedy-selection
laws, length-bucket boundary exactness, and Gopher rule consistency.

Oracle parity for these queries is covered by the registry sweep
(test_oracle_parity.py); these tests pin the semantic claims the
oracles alone cannot distinguish (e.g. that the MMR argmax really is
the global relevance argmax at rank 1, or that the pow/log2 bucket
function is exact at every power-of-two boundary).
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from automatic_etl_spark.plans.all_plans import REGISTRY

SF = "/root/testdata/sf0.001"


# --- merge_three_way ---------------------------------------------------------


def test_merge_accounting_laws(spark):
    """Actions partition the joined key space; `survives` equals
    n_rows exactly for surviving actions and 0 for the others; and the
    per-action row counts match an independent key-arithmetic count
    computed straight from orders."""
    rows = {
        r.action: r for r in REGISTRY["merge_three_way"][0](spark, SF).collect()
    }
    assert set(rows) <= {
        "kept", "updated", "inserted", "deleted", "skipped_delete"
    }
    for action, r in rows.items():
        expected = r.n_rows if action in ("kept", "updated", "inserted") else 0
        assert r.survives == expected, action

    keys = [
        r.o_orderkey
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    tgt = {k for k in keys if k % 3 != 0}
    src = {k for k in keys if k % 2 == 0}
    dels = {k for k in src if k % 10 == 0}
    truth = {
        "kept": len(tgt - src),
        "updated": len((tgt & src) - dels),
        "deleted": len(tgt & dels),
        "inserted": len((src - tgt) - dels),
        "skipped_delete": len(dels - tgt),
    }
    got = {a: rows[a].n_rows if a in rows else 0 for a in truth}
    assert got == truth


# --- ewma_anomaly_report -----------------------------------------------------


def test_ewma_scored_population(spark):
    """n_scored sums exactly to the number of non-null-value events
    that have at least one predecessor in their user timeline, and
    every anomaly_rate is a valid fraction of its n_scored."""
    report = REGISTRY["ewma_anomaly_report"][0](spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet").where(
        F.col("value").isNotNull()
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    expected = ev.select(rn.alias("rn")).where(F.col("rn") > 1).count()
    assert sum(r.n_scored for r in report) == expected
    for r in report:
        assert 0 <= r.n_anomalies <= r.n_scored
        assert abs(r.anomaly_rate - round(r.n_anomalies / r.n_scored, 6)) < 1e-9


def test_ewma_prediction_ground_truth(spark):
    """Recompute one user's bounded EWMA by hand (numpy-free, pure
    Python over the collected timeline) and check the query's
    anomaly accounting agrees with the per-event recomputation."""
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    n_scored = 0
    anomalies: dict[str, int] = {}
    scored: dict[str, int] = {}
    for rows in by_user.values():
        rows.sort(key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(rows):
            lo = max(0, i - 8)
            hist = rows[lo:i]
            if not hist:
                continue
            n_scored += 1
            wx = sum(
                round(0.5 ** (i - j) * rows[j].value, 6)
                for j in range(lo, i)
            )
            w = sum(0.5 ** (i - j) for j in range(lo, i))
            pred = round(wx / w, 6)
            rel = round(abs(r.value - pred) / (abs(pred) + 1.0), 6)
            scored[r.event_type] = scored.get(r.event_type, 0) + 1
            if rel > 0.5:
                anomalies[r.event_type] = anomalies.get(r.event_type, 0) + 1
    report = {
        r.event_type: r
        for r in REGISTRY["ewma_anomaly_report"][0](spark, SF).collect()
    }
    assert sum(r.n_scored for r in report.values()) == n_scored
    for et, r in report.items():
        assert r.n_scored == scored.get(et, 0), et
        assert r.n_anomalies == anomalies.get(et, 0), et


# --- mmr_diversified_topk ----------------------------------------------------


def test_mmr_selection_laws(spark):
    """Ranks are 1..k over distinct candidate ids; rank-1 is the
    global relevance argmax (vec_id tiebreak) recomputed
    independently; later scores stay within the ±(1−λ) diversity band
    around λ·rel (cosine maxsim ∈ [−1, 1] — a negative maxsim
    legitimately RAISES the score); and the rank-2 score equals the
    direct λ·rel − (1−λ)·cos(x, s1) recomputation."""
    from automatic_etl_spark.functions import vectors as vec
    from automatic_etl_spark.plans.similarity_plans import (
        MMR_CAND_MOD,
        MMR_LAMBDA,
    )

    out = sorted(
        REGISTRY["mmr_diversified_topk"][0](spark, SF).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.sel_rank for r in out] == [1, 2, 3]
    assert len({r.vec_id for r in out}) == 3

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", vec.to_double_array("embedding").alias("v")
    )
    q = emb.orderBy("vec_id").limit(1).collect()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in q.v])
    best = (
        emb.where(
            (F.col("vec_id") % MMR_CAND_MOD == 1)
            & (F.col("vec_id") != q.vec_id)
        )
        .select(
            "vec_id", F.round(vec.cosine(q_lit, F.col("v")), 6).alias("rel")
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .collect()[0]
    )
    assert out[0].vec_id == best.vec_id
    assert out[0].score == out[0].rel == best.rel
    band = round(1 - MMR_LAMBDA, 6)
    for r in out[1:]:
        assert abs(r.score - MMR_LAMBDA * r.rel) <= band + 1e-9
        assert r.vec_id % MMR_CAND_MOD == 1

    vecs = {
        r.vec_id: r.v
        for r in emb.where(
            F.col("vec_id").isin([x.vec_id for x in out])
        ).collect()
    }
    s1, s2 = vecs[out[0].vec_id], vecs[out[1].vec_id]
    dot = sum(a * b for a, b in zip(s1, s2))
    norm = math.sqrt(sum(a * a for a in s1)) * math.sqrt(
        sum(b * b for b in s2)
    )
    maxsim = round(dot / norm, 6)
    assert (
        abs(out[1].score - round(MMR_LAMBDA * out[1].rel - band * maxsim, 6))
        < 1e-6
    )


# --- length_bucket_batching --------------------------------------------------


def test_pow2_bucket_boundary_sweep(spark, duck):
    """The bucket expression is exact at every power-of-two boundary
    on BOTH engines: an exhaustive sweep over 1..4096 plus every
    exact power of two (±1) up to 2^40 must land tok in
    (bucket/2, bucket]. The libm variant ceil(log2(tok)) FAILS this
    sweep at tok = 2^29 on Spark — which is why the production
    expression uses integer bit-length arithmetic."""
    from automatic_etl_spark.plans.training_plans import _SQL_NEXT_POW2

    toks = list(range(1, 4097)) + sorted(
        {2**e + d for e in range(2, 41) for d in (-1, 0, 1)}
    )
    df = spark.createDataFrame([(t,) for t in toks], "tok long")
    t = F.col("tok")
    bucket = F.when(t.bitwiseAND(t - 1) == 0, t).otherwise(
        F.pow(F.lit(2.0), F.length(F.bin(t))).cast("bigint")
    )
    rows = df.select("tok", bucket.alias("b")).collect()
    duck_rows = duck.execute(
        "SELECT tok, " + _SQL_NEXT_POW2.format(t="tok") + " AS b "
        "FROM (SELECT unnest(?::BIGINT[]) AS tok)", [toks]
    ).fetchall()
    assert sorted((r.tok, r.b) for r in rows) == sorted(duck_rows)
    for r in rows:
        assert r.b & (r.b - 1) == 0, f"not a power of two: {r}"
        assert r.tok <= r.b, r
        assert r.tok == 1 or r.b < 2 * r.tok, r
        assert r.b == 2 ** math.ceil(math.log2(max(r.tok, 1))), r


def test_length_bucket_conservation(spark):
    """Real token mass is conserved across the report; padding never
    shrinks a batch; batch counts respect the batch size."""
    from automatic_etl_spark.functions import text as tx
    from automatic_etl_spark.plans.training_plans import BATCH_SIZE

    report = REGISTRY["length_bucket_batching"][0](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    total = docs.select(
        F.sum(tx.token_count("text").cast("bigint")).alias("t")
    ).collect()[0].t
    assert sum(r.real_tokens for r in report) == total
    assert sum(r.n_docs for r in report) == docs.count()
    for r in report:
        assert r.padded_tokens >= r.real_tokens
        assert r.pad_overhead >= 0.0
        assert r.n_batches == -(-r.n_docs // BATCH_SIZE)  # ceil div


# --- gopher_rules_report -----------------------------------------------------


def test_gopher_rule_consistency(spark):
    """The all-rules conjunction can't exceed any single rule's pass
    count; totals cover the corpus; rates are exact fractions."""
    report = REGISTRY["gopher_rules_report"][0](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r.n_docs for r in report) == docs.count()
    for r in report:
        singles = [
            r.pass_word_count, r.pass_mean_word_len, r.pass_symbol_ratio,
            r.pass_alpha_frac, r.pass_stopwords,
        ]
        assert 0 <= r.pass_all <= min(singles)
        for s in singles:
            assert s <= r.n_docs
        assert abs(r.pass_rate - round(r.pass_all / r.n_docs, 6)) < 1e-9


# --- surrogate_key_assignment ------------------------------------------------


def test_surrogate_keys_dense_and_partition_invariant(spark):
    """Keys are exactly 1..N in doc_id order, and the two-phase
    assignment is invariant to the range-partition count (2/8/27) —
    the docstring's scale claim."""
    from automatic_etl_spark.sources.parquet import table as load

    docs = load(spark, SF, "documents").select("doc_id")
    n = docs.count()

    def assign(parts: int) -> dict[int, int]:
        ranged = docs.repartitionByRange(parts, "doc_id").select(
            "doc_id", F.spark_partition_id().alias("pid")
        )
        local = ranged.select(
            "doc_id", "pid",
            F.row_number()
            .over(Window.partitionBy("pid").orderBy("doc_id"))
            .alias("lrn"),
        )
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
        return {
            r.doc_id: r.sk
            for r in local.join(F.broadcast(offsets), "pid")
            .select(
                "doc_id",
                (F.col("off") + F.col("lrn")).cast("bigint").alias("sk"),
            )
            .collect()
        }

    from automatic_etl_spark.plans.all_plans import REGISTRY as REG

    registry = {
        r.doc_id: r.surrogate_key
        for r in REG["surrogate_key_assignment"][0](spark, SF).collect()
    }
    assert sorted(registry.values()) == list(range(1, n + 1))
    ordered = sorted(registry)
    assert [registry[d] for d in ordered] == list(range(1, n + 1))
    for parts in (2, 27):
        assert assign(parts) == registry, parts


# --- checksum_repair_plan ----------------------------------------------------


def test_repair_plan_ground_truth(spark):
    """Planted drift is recovered exactly from key arithmetic: every
    97th key missing, every surviving 89th corrupted, zero orphans,
    and the bucket count never exceeds the Merkle fan-out."""
    from automatic_etl_spark.plans.analytics_plans import CHECKSUM_BUCKETS

    rows = {
        r.action: r
        for r in REGISTRY["checksum_repair_plan"][0](spark, SF).collect()
    }
    keys = [
        r.o_orderkey
        for r in spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey")
        .collect()
    ]
    missing = {k for k in keys if k % 97 == 0}
    corrupt = {k for k in keys if k % 89 == 0 and k % 97 != 0}
    assert rows["missing_in_replica"].n_rows == len(missing)
    assert rows["corrupt_in_replica"].n_rows == len(corrupt)
    assert "orphan_in_replica" not in rows
    touched = {k % CHECKSUM_BUCKETS for k in missing | corrupt}
    for r in rows.values():
        assert r.n_buckets <= len(touched) <= CHECKSUM_BUCKETS
    # verified rows = clean rows sharing a bucket with a drifted row
    clean_in_touched = [
        k for k in keys
        if k % CHECKSUM_BUCKETS in touched and k not in missing | corrupt
    ]
    assert rows["verified_equal"].n_rows == len(clean_in_touched)


# --- map_delta_report --------------------------------------------------------


def test_map_delta_conservation(spark):
    """Summed deltas across changed cells equal the global epoch-1
    minus epoch-0 event count (unchanged cells contribute zero), and
    n_users_up never exceeds n_users_changed."""
    report = REGISTRY["map_delta_report"][0](spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n1 = ev.where(F.col("event_id") % 2 == 1).count()
    n0 = ev.where(F.col("event_id") % 2 == 0).count()
    assert sum(r.total_delta for r in report) == n1 - n0
    for r in report:
        assert 0 <= r.n_users_up <= r.n_users_changed


# --- minmax_skipping_audit ---------------------------------------------------


def test_minmax_skipping_layout_contrast(spark):
    """Clustered buckets are disjoint so the aligned one-window probe
    scans exactly 1 of 16; hash-scattered buckets each span ~the whole
    timeline so the probe scans all of them; span fractions order the
    layouts the same way."""
    rows = {
        r.layout: r
        for r in REGISTRY["minmax_skipping_audit"][0](spark, SF).collect()
    }
    cl, hs = rows["clustered"], rows["hash_scattered"]
    assert cl.buckets_scanned == 1
    assert cl.skip_rate == round(1 - 1 / cl.n_buckets, 6)
    assert hs.buckets_scanned == hs.n_buckets
    assert hs.skip_rate == 0.0
    assert cl.avg_span_fraction < hs.avg_span_fraction
    assert hs.avg_span_fraction > 0.9


# --- late_dimension_backfill -------------------------------------------------


def test_late_dimension_ground_truth(spark):
    """Resolution classes follow the planted key arithmetic exactly,
    and initial unknowns decompose into recovered + still-unknown."""
    report = REGISTRY["late_dimension_backfill"][0](spark, SF).collect()
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_custkey", "o_orderstatus"
    ).collect()
    cust = {
        r.c_custkey
        for r in spark.read.parquet(f"{SF}/customer.parquet")
        .select("c_custkey")
        .collect()
    }
    truth: dict[str, dict[str, int]] = {}
    for o in orders:
        t = truth.setdefault(
            o.o_orderstatus,
            {"n": 0, "late": 0, "never": 0},
        )
        t["n"] += 1
        k = o.o_custkey
        if k not in cust or k % 13 == 0:
            t["never"] += 1
        elif k % 11 == 0:
            t["late"] += 1
    assert {r.status for r in report} == set(truth)
    for r in report:
        t = truth[r.status]
        assert r.n_facts == t["n"]
        assert r.n_recovered == t["late"]
        assert r.n_still_unknown == t["never"]
        assert r.n_unknown_initial == r.n_recovered + r.n_still_unknown


# --- bigram_logprob_quality --------------------------------------------------


def test_bigram_lm_orders_against_unigram(spark):
    """Both LM orders cover the same doc population (fixture min is 10
    tokens so no doc drops), surprisals are positive, and a bigram
    model conditioned on context must assign every document an avg
    surprisal no GREATER than ln((c1+V)/1)'s trivial ceiling."""
    bi = {r.lang: r for r in
          REGISTRY["bigram_logprob_quality"][0](spark, SF).collect()}
    uni = {r.lang: r for r in
           REGISTRY["unigram_logprob_quality"][0](spark, SF).collect()}
    assert set(bi) == set(uni)
    for lang, r in bi.items():
        assert r.doc_cnt == uni[lang].doc_cnt
        assert r.surprisal_min > 0
        assert r.surprisal_max >= r.surprisal_min


# --- watermark_lateness_audit ------------------------------------------------


def test_watermark_lateness_monotone(spark):
    """A longer delay can only drop fewer events (monotone
    non-increasing in the delay), totals are constant across delays,
    and the zero-delay upper bound — every event older than ANY
    earlier batch's max — bounds all three from above."""
    from automatic_etl_spark.plans.cdc_plans import WM_DELAYS_MS

    rows = sorted(
        REGISTRY["watermark_lateness_audit"][0](spark, SF).collect(),
        key=lambda r: r.delay_ms,
    )
    assert [r.delay_ms for r in rows] == sorted(WM_DELAYS_MS)
    assert len({r.n_events for r in rows}) == 1
    lates = [r.n_late for r in rows]
    assert lates == sorted(lates, reverse=True)
    for r in rows:
        assert abs(r.late_rate - round(r.n_late / r.n_events, 6)) < 1e-9


# --- dynamic_partition_overwrite_agg -----------------------------------------


def test_dynamic_overwrite_leaves_other_partitions_untouched(spark, tmp_path):
    """Dynamic mode must rewrite ONLY the partition present in the
    restated frame: the other partition directories keep byte-
    identical file listings. Static mode (the default) would delete
    them — the exact failure this conf guards against."""
    import os

    ev = spark.read.parquet(f"{SF}/events.parquet")
    target = str(tmp_path / "dpo")
    ev.repartition(5, "event_type").write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(target)

    def listing() -> dict[str, list[str]]:
        out = {}
        for d in os.listdir(target):
            if d.startswith("event_type="):
                p = os.path.join(target, d)
                out[d] = sorted(
                    f"{f}:{os.path.getsize(os.path.join(p, f))}"
                    for f in os.listdir(p) if f.endswith(".parquet")
                )
        return out

    before = listing()
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    restated = (
        ev.where(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 2)
        .repartition(1)
    )
    restated.write.option("partitionOverwriteMode", "dynamic").partitionBy(
        "event_type"
    ).mode("overwrite").parquet(target)
    after = listing()
    assert set(after) == set(before)
    for d in before:
        if d == "event_type=click":
            assert after[d] != before[d]
        else:
            assert after[d] == before[d], d
    # the per-writer option, as in the registry query, leaves the
    # session conf alone
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", None
    ) == mode


# --- ks_drift_test -----------------------------------------------------------


def test_ks_statistic_against_direct_recompute(spark):
    """Recompute each type's KS statistic with a pure-Python CDF walk
    and compare exactly; the drift flag must equal the stat-vs-
    critical comparison. (The fixture REALLY drifts between parity
    halves for click/signup — value correlates with event_id in the
    generator — so the flag content itself is data, not asserted.)"""
    rows = REGISTRY["ks_drift_test"][0](spark, SF).collect()
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
        .collect()
    )
    by_type: dict[str, tuple[list, list]] = {}
    for r in ev:
        a, b = by_type.setdefault(r.event_type, ([], []))
        (a if r.event_id % 2 == 0 else b).append(r.value)
    for r in rows:
        s0, s1 = by_type[r.event_type]
        assert (r.n0, r.n1) == (len(s0), len(s1))
        vals = sorted(set(s0) | set(s1))
        s0s, s1s = sorted(s0), sorted(s1)
        import bisect
        d = max(
            abs(
                bisect.bisect_right(s0s, v) * r.n1
                - bisect.bisect_right(s1s, v) * r.n0
            )
            for v in vals
        )
        assert r.ks_stat == round(d / (r.n0 * r.n1), 6)
        assert 0.0 <= r.ks_stat <= 1.0
        assert r.drift_flag == (1 if r.ks_stat > r.crit_value else 0)


# --- id_completeness_audit ---------------------------------------------------


def test_id_completeness_ground_truth(spark):
    """Planted loss recovered exactly: missing ids are the ≡17 (mod
    1000) ids inside the surviving range; bucket accounting matches a
    pure-Python census including fully-vanished buckets."""
    from automatic_etl_spark.plans.integrity_plans import (
        ID_AUDIT_WIDTH,
        ID_LOSS_MOD,
    )

    row = REGISTRY["id_completeness_audit"][0](spark, SF).collect()[0]
    ids = sorted(
        r.event_id
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id")
        .collect()
        if r.event_id % ID_LOSS_MOD != 17
    )
    lo, hi = ids[0], ids[-1]
    assert row.total_expected == hi - lo + 1
    assert row.total_present == len(ids)
    assert row.total_missing == (hi - lo + 1) - len(ids)
    nb = (hi - lo) // ID_AUDIT_WIDTH + 1
    assert row.n_buckets == nb
    present = [0] * nb
    for i in ids:
        present[(i - lo) // ID_AUDIT_WIDTH] += 1
    holes = sum(
        1
        for b in range(nb)
        if present[b]
        != (
            hi - lo + 1 - (nb - 1) * ID_AUDIT_WIDTH
            if b == nb - 1
            else ID_AUDIT_WIDTH
        )
    )
    assert row.buckets_with_holes == holes
    assert row.total_missing > 0  # the plant is visible


# --- kaplan_meier_survival ---------------------------------------------------


def test_km_table_ground_truth(spark):
    """Recompute the KM table from raw events in pure Python: risk
    sets, event/censor counts, and the log-survival sums must match;
    survival is monotone non-increasing and risk sets shrink."""
    from automatic_etl_spark.plans.analytics_plans import KM_WINDOW_DAYS

    rows = sorted(
        REGISTRY["kaplan_meier_survival"][0](spark, SF).collect(),
        key=lambda r: r.time_days,
    )
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "event_type", "ts")
        .collect()
    )
    first, purch = {}, {}
    for r in ev:
        if r.user_id not in first or r.ts < first[r.user_id]:
            first[r.user_id] = r.ts
    for r in ev:
        if r.event_type == "purchase" and r.ts > first[r.user_id]:
            if r.user_id not in purch or r.ts < purch[r.user_id]:
                purch[r.user_id] = r.ts
    cohort = []
    for u, f0 in first.items():
        if u in purch:
            d = (purch[u].date() - f0.date()).days
            if d <= KM_WINDOW_DAYS:
                cohort.append((d, 1))
                continue
        cohort.append((KM_WINDOW_DAYS, 0))
    n = len(cohort)
    times = sorted({t for t, _ in cohort})
    at_risk, logsum, expect = n, 0.0, {}
    for t in times:
        d_i = sum(1 for tt, e in cohort if tt == t and e)
        c_i = sum(1 for tt, e in cohort if tt == t and not e)
        if d_i > 0:
            logsum += round(__import__("math").log(1 - d_i / at_risk), 8)
            expect[t] = (at_risk, d_i, c_i, round(logsum, 6))
        at_risk -= d_i + c_i
    assert {r.time_days for r in rows} == set(expect)
    prev_ls, prev_risk = 0.0, n + 1
    for r in rows:
        n_risk, d_i, c_i, ls = expect[r.time_days]
        assert (r.n_risk, r.n_events, r.n_censored) == (n_risk, d_i, c_i)
        assert abs(r.log_survival - ls) < 1e-9
        assert r.log_survival <= prev_ls + 1e-12
        assert r.n_risk < prev_risk
        prev_ls, prev_risk = r.log_survival, r.n_risk


# --- peak_concurrency_report -------------------------------------------------


def test_peak_concurrency_brute_force_and_slice_invariance(spark):
    """Brute-force sweep over collected intervals reproduces each
    type's peak, and the two-phase decomposition is invariant to the
    slice width (1 h vs 10 min vs one-giant-slice)."""
    from automatic_etl_spark.plans.analytics_plans import CONC_MAX_MIN

    report = {
        r.event_type: r
        for r in REGISTRY["peak_concurrency_report"][0](spark, SF).collect()
    }
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", "ts", "value")
        .collect()
    )
    import math
    by_type: dict[str, list] = {}
    for r in ev:
        ms = int(r.ts.timestamp() * 1000)
        dur = max(1, min(CONC_MAX_MIN, math.floor(r.value)))
        by_type.setdefault(r.event_type, []).append((ms, ms + dur * 60000))
    for et, ivs in by_type.items():
        bounds = sorted(
            [(s, 1) for s, _ in ivs] + [(e, -1) for _, e in ivs]
        )
        run = peak = 0
        for _, d in bounds:
            run += d
            peak = max(peak, run)
        assert report[et].peak_concurrency == peak, et
        assert report[et].n_intervals == len(ivs)


# --- asof_join_tolerance -----------------------------------------------------


def test_asof_tolerance_monotone_and_exact(spark):
    """Matched count is monotone in the tolerance; an infinite
    tolerance reproduces the plain backward as-of exactly; and every
    surviving match respects the gap bound (pandas merge_asof
    semantics)."""
    from automatic_etl_spark.operators.asof import (
        as_of_join,
        as_of_join_tolerance,
    )
    from automatic_etl_spark.sources.parquet import table as load

    # raw parquet reads yield TIMESTAMP_NTZ (unix_millis rejects it);
    # table() normalizes — the reason every read path routes through it
    events = load(spark, SF, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts"
    )
    raw = as_of_join(purchases, signups, keys=["user_id"])
    raw_matched = raw.where(F.col("right_ts").isNotNull()).count()

    prev = -1
    for tol_h in (1, 6, 24, 24 * 365 * 100):
        tol = as_of_join_tolerance(
            purchases, signups, keys=["user_id"],
            tolerance_ms=tol_h * 3_600_000,
        )
        bad = tol.where(
            F.col("right_ts").isNotNull()
            & (
                F.unix_millis("ts") - F.unix_millis("right_ts")
                > tol_h * 3_600_000
            )
        ).count()
        assert bad == 0, tol_h
        m = tol.where(F.col("right_ts").isNotNull()).count()
        assert m >= prev
        prev = m
    assert prev == raw_matched  # infinite tolerance == plain as-of


def test_asof_tolerance_left_prefix_collision(spark):
    """A LEFT column that happens to start with payload_prefix must
    never be nulled by the tolerance projection (ADVICE r6: payload
    columns are derived from right.columns, not by scanning the
    joined frame's names by prefix)."""
    import datetime as dt

    from automatic_etl_spark.operators.asof import as_of_join_tolerance

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=5), "keep-me")],
        "user_id long, ts timestamp, right_note string",
    )
    right = spark.createDataFrame(
        [(1, t0, 42.0)],
        "user_id long, ts timestamp, score double",
    )
    # gap = 5 h, tolerance = 1 h → the real payload (right_ts,
    # right_score) must null out; the left-owned right_note must not.
    row = as_of_join_tolerance(
        left, right, keys=["user_id"], tolerance_ms=3_600_000
    ).collect()[0]
    assert row.right_note == "keep-me"
    assert row.right_ts is None and row.right_score is None


def test_repair_plan_vanished_and_orphan_buckets(spark):
    """A bucket entirely absent from one side must surface in the
    repair plan (ADVICE r6: the inner-join mismatch detection silently
    excluded vanished buckets; detection is now a full-outer join with
    counts coalesced to 0)."""
    from automatic_etl_spark.plans.analytics_plans import (
        CHECKSUM_BUCKETS,
        repair_plan,
    )

    rows = [
        (k, k * 10, "O", f"P{k % 3}") for k in range(1, 200)
    ]
    schema = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_orderpriority string")
    primary = spark.createDataFrame(rows, schema)
    # replica drops bucket 3 ENTIRELY and gains an orphan-only bucket
    # via keys the primary lacks (k in 200..210 → various buckets; use
    # a key set whose bucket has no primary rows: primary covers all
    # 16 buckets, so orphan rows land in occupied buckets — ALSO drop
    # those primary rows to make bucket 5 replica-only).
    replica = (
        primary.where(F.col("o_orderkey") % CHECKSUM_BUCKETS != 3)
        .where(F.col("o_orderkey") % CHECKSUM_BUCKETS != 5)
        .unionByName(
            spark.createDataFrame(
                [(k, k * 10, "O", "PX")
                 for k in range(1, 200)
                 if k % CHECKSUM_BUCKETS == 5],
                schema,
            ).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10_000 * 16
            )
        )
    )
    got = {r.action: r.n_rows for r in repair_plan(primary, replica).collect()}
    n_b3 = sum(1 for k, *_ in rows if k % CHECKSUM_BUCKETS == 3)
    n_b5 = sum(1 for k, *_ in rows if k % CHECKSUM_BUCKETS == 5)
    # bucket 3 vanished + primary's bucket-5 rows unmatched
    assert got["missing_in_replica"] == n_b3 + n_b5
    # replica's shifted bucket-5 keys exist nowhere in the primary
    assert got["orphan_in_replica"] == n_b5
