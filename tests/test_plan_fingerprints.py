"""Plan-fingerprint regression gate (VERDICT r5 #6).

Row-level oracles prove VALUES; they are blind to a physical plan
silently degrading — a broadcast join falling back to shuffle, a
window-group-limit pruning lost, an extra exchange from a careless
repartition. At 100 TB those are the regressions that matter, so the
AQE-final operator counts of the most expensive registry queries are
PINNED here. A deliberate plan change must update this table in the
same commit — that's the point: plan shape changes become reviewable
diffs instead of judging-time archaeology.

Counts come from operators/planaudit.plan_fingerprint (the same
extractor tools/gen_plans_report.py uses for PLANS.md): shuffle
exchanges (broadcast exchanges excluded — those are the cheap kind,
chosen on purpose), join strategy counts, window-group-limit and
top-N pruning, map-side partial aggregation. Codegen span counts are
NOT pinned (Spark-version-sensitive, not load-bearing).

Measured at the driver's correctness scale (sf0.01): AQE join
selection depends on runtime sizes, so the pin must be taken at a
fixed, realistic SF — sf0.001's tiny tables would broadcast
everything and hide smj/shj regressions.
"""

from __future__ import annotations

import pytest

from automatic_etl_spark.operators.planaudit import plan_fingerprint
from automatic_etl_spark.plans.all_plans import REGISTRY

SF = "/root/testdata/sf0.01"

# query -> pinned AQE-final operator counts. Keep sorted; regenerate a
# row with:
#   python -c "from automatic_etl_spark.operators.planaudit import *; ..."
# or rerun tools/gen_plans_report.py and copy the row.
PINNED: dict[str, dict[str, int]] = {
    "ann_ivf_topk": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 4, "topN": 0, "partialAgg": 1, "exch": 3,
    },
    "ann_recall_report": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 3,
        "wgl": 6, "topN": 0, "partialAgg": 6, "exch": 7,
    },
    "bm25_topk": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 2, "topN": 0, "partialAgg": 3, "exch": 3,
    },
    "boilerplate_ngrams": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 8, "exch": 5,
    },
    # tolerance AND the dropped marker are row-local projections over
    # ONE as-of pass (r7: the double-join formulation is gone) — any
    # join appearing here means it stopped being free
    "asof_join_tolerance": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 2,
    },
    # order-2 LM: both zipfian joins broadcast at sf0.01 (AQE); the
    # pin guards the vocab singleton staying a bnlj broadcast, not a
    # keyed shuffle. r14: context counts now derive from the
    # distinct-bigram frame (Σ c12 per w1) instead of a second full
    # pass over the exploded stream, and per-bigram surprisal is
    # precomputed before the ONE stream join — +1 exchange and +1
    # partial agg on the (small) distinct-bigram frame, −1 full-data
    # pass of the stream.
    "bigram_logprob_quality": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 10, "exch": 7,
    },
    # shuffle-free sort-merge join over co-bucketed tables: exch=1 is
    # the downstream agg only; a second exchange means bucketing broke
    "bucketed_join_agg": {
        "bhj": 0, "smj": 1, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    "clean_table_pipeline": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 2,
    },
    # exactly one post-write exchange feeding the audit agg; a second
    # data shuffle would mean the partitioned write lost its
    # co-partitioning
    "compaction_file_audit": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 2,
    },
    "cube_sales_margins": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    # per-row HOFs only: the single exchange is the label aggregate
    "higher_order_array_ops": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 5, "exch": 1,
    },
    # anti-entropy: the row re-check joins against BROADCAST
    # mismatched-bucket lists (bhj=2); the two SMJs are the full-outer
    # key join and the full-outer MISMATCH-DETECTION join (ADVICE r6:
    # detection went inner→full-outer so vanished buckets surface —
    # full outer cannot broadcast, but it runs on ≤16-row bucket
    # stats, so the extra SMJ is noise at any scale)
    "checksum_repair_plan": {
        "bhj": 2, "smj": 2, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 6,
    },
    "dedup_connected_components": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 2,
    },
    # W1 flagship: window-group-limit pruning must survive (wgl=2 —
    # partial + final); losing it means full sort of every group
    "dedup_latest": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 2, "topN": 0, "partialAgg": 2, "exch": 2,
    },
    # returns an eagerly-materialized localCheckpoint of the ≤5-row
    # real read-back aggregate over the dynamically-overwritten
    # partition tree (r7: the fixed per-process target replaced the
    # rmtree-forced localCheckpoint whose bare-scan fingerprint was
    # vacuous — all zeros could never catch a drift)
    "dynamic_partition_overwrite_agg": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    "exact_dedup": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 2, "topN": 0, "partialAgg": 2, "exch": 2,
    },
    # K-bounded EWMA: the rank-range self-join broadcasts at sf0.01
    # (AQE size call); the load-bearing pin is the absence of any
    # nested-loop join — a bnlj here means the equi-key was lost and
    # the range predicate went quadratic
    "ewma_anomaly_report": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 4,
    },
    # one codegen'd narrow map + ONE source-keyed agg; a second
    # exchange means the rule battery stopped fusing
    "gopher_rules_report": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 7, "exch": 1,
    },
    # bucket window + two aggs all reuse ONE bucket_len partitioning
    "length_bucket_batching": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 7, "exch": 1,
    },
    # copy-on-write MERGE: ONE full-outer SMJ (both sides shuffle on
    # the merge key) + action agg; exch=5 includes the two local
    # fixture fan-out repartitions (no-ops at cluster scale)
    "merge_three_way": {
        "bhj": 0, "smj": 1, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 3,
    },
    "incremental_dedup": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 3,
    },
    "left_join_group": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 1, "exch": 1,
    },
    # the LATERAL formulation must plan with window-group-limit
    # pruning (wgl>0), not a per-key nested loop
    "lateral_join_topn": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 3, "topN": 0, "partialAgg": 0, "exch": 2,
    },
    # two-phase concurrency sweep: local windows partition on
    # (type, slice); a single-partition per-type timeline window
    # appearing here is the regression this guards
    "peak_concurrency_report": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 3,
    },
    # inverted-index cosine: tf and u are localCheckpoint-materialized
    # (each feeds multiple consumers), so the final plan is the pair
    # join + agg over the checkpointed u — the pin covers that tail
    "sparse_cosine_pairs": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 1, "exch": 1,
    },
    # two-phase surrogate keys: range exchange + offsets join ONLY —
    # a single-partition global-window exchange appearing here is the
    # exact regression this pin guards against
    "surrogate_key_assignment": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 1, "exch": 2,
    },
    # batch frame + bounds + delay grid all broadcast (bnlj=3 are the
    # singleton/tiny cross joins); the event stream must never shuffle
    # on anything but the final 3-key agg
    "watermark_lateness_audit": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 3,
        "wgl": 0, "topN": 0, "partialAgg": 5, "exch": 4,
    },
    "python_udtf_chunker": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    # map-typed state: the epoch-map self-join merges on user_id
    # (smj=1); everything else is the two-level agg
    "map_delta_report": {
        "bhj": 0, "smj": 1, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 7, "exch": 7,
    },
    # fact table streams once against two broadcast key-sets; a shj/
    # smj here means a dimension stopped broadcasting
    # id holes: bounds singleton (bnlj) + bucket agg + 1-row rollup;
    # no sort, no window
    "id_completeness_audit": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 11, "exch": 3,
    },
    # KM: two user-keyed aggs join broadcast at sf0.01; the cohort
    # size singleton is the bnlj; the compressed-table windows add no
    # exchange of their own
    "kaplan_meier_survival": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 7,
    },
    # exact KS on the value-compressed frame: ONE type-keyed shuffle
    # reused by both windows and the final agg (exch=2 incl. the
    # fixture fan-out); joins must stay absent
    "ks_drift_test": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 5, "exch": 2,
    },
    "late_dimension_backfill": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 3,
    },
    # the bnlj pair is the broadcast 1-row bounds frame (a cross join
    # with a singleton — the cheap kind); keyed joins must stay absent
    "minmax_skipping_audit": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 0, "topN": 0, "partialAgg": 9, "exch": 3,
    },
    # calibration stays on ROW-form signatures (3 consumers amortized
    # by the groupBy's ReusedExchange — see the plan's comment; the
    # wide form measured ~2x slower here)
    "minhash_jaccard_calibration": {
        "bhj": 9, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 13, "exch": 5,
    },
    # r10: ROW-form signatures (explode + map-side-min groupBy) — the
    # r8 map-side wide choice is reversed: its higher-order transform
    # hashes on the interpreted path (A/B on the honestly-scaled 10x
    # corpus: wide ~45 s vs row ~10 s, alternating fresh JVMs), while
    # the groupBy exchange carries ~1 row/doc (explode preserves the
    # parent partitioning, so partial mins finish each doc map-side).
    # partialAgg grows because the aggregate subtree prints at every
    # signature occurrence; exch stays 4 — the exchanges are reused.
    "minhash_lsh_dedup": {
        "bhj": 6, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 14, "exch": 4,
    },
    # r9: signatures MATERIALIZED to parquet before the LSH back half —
    # all consumers (band keys, census) scan the signature table, so
    # no signature-build expression appears downstream at all; the
    # extra bnlj/exch vs minhash_lsh_dedup is the 1-row sig_cnt census
    # broadcast-joined onto the output
    "minhash_lsh_matview": {
        "bhj": 5, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 0, "topN": 0, "partialAgg": 7, "exch": 5,
    },
    "multimodal_features_arrow": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 5, "exch": 2,
    },
    "null_safe_quantiles": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 5, "exch": 2,
    },
    "near_dup_canonical": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 1,
    },
    "outlier_iqr_report": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 5, "exch": 3,
    },
    # r14: degree-annotated edge list (the per-round deg groupBy+join
    # collapsed into the one-time edge prep) + round-1 rank frame
    # checkpointed (round 2's two consumers read blocks instead of
    # re-deriving the round-1 subtree): bhj 6→2, bnlj 6→1,
    # partialAgg 4→2, exch 8→5 in the returned (round-2) plan
    "pagerank_two_iter": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 5,
    },
    # r14: the quantized-topK overlap join is explicitly broadcast
    # (qt ≤ |queries|·K rows by construction) — pre-hint the executed
    # plan FLAPPED between SMJ and BHJ across runs (exch 2↔4↔5),
    # which is why this row was never pinnable before
    "embedding_quantize_recall": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 4, "topN": 0, "partialAgg": 1, "exch": 2,
    },
    "pricing_summary": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 1,
    },
    # top-N must plan as TakeOrderedAndProject, never global sort
    "recent_n": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 1, "partialAgg": 0, "exch": 0,
    },
    "repeated_window_dedup": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 2,
    },
    # star join: every dimension broadcast (bhj=4), fact never shuffles
    # pre-agg
    "revenue_by_nation": {
        "bhj": 4, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    "rollup_agg": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    "semdedup_prune": {
        "bhj": 1, "smj": 1, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 2,
    },
    "sequence_packing": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 1,
    },
    "shipping_priority": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 1, "partialAgg": 1, "exch": 1,
    },
    # the SHUFFLE_HASH hint must take (shj=1): the only registry plan
    # exercising the shuffled-hash strategy
    "shuffle_hash_join_agg": {
        "bhj": 0, "smj": 0, "shj": 1, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 3,
    },
    # broadcast eval spans (bhj for the audit join, bnlj for the
    # contains probe) — the corpus itself never shuffles pre-agg
    "substring_decontaminate": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 4,
    },
    "tfidf_top_terms": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 2, "topN": 0, "partialAgg": 3, "exch": 4,
    },
    "asof_join_forward_lead": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 2,
    },
    "collated_group_surface": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 2,
    },
    "corrupt_records_audit": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    "mad_robust_scale": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 4,
    },
    "parameterized_sql_surface": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    "python_datasource_scan": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 1,
    },
    "recursive_hierarchy_rollup": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 7, "exch": 3,
    },
    "sorted_array_agg": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 2,
    },
    "sql_pipe_surface": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 2,
    },
    "try_arithmetic_surface": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 1,
    },
    "xml_source_agg": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 1,
    },
    "window_frame_functions": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 1,
    },
    "zipf_slope_by_lang": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 2,
    },
    # --- round-6 discovery pack ---
    # ONE multi-distinct scan (Catalyst Expand): a second exchange
    # would mean per-column passes crept in
    "candidate_key_report": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 17, "exch": 2,
    },
    "functional_dependency_audit": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 12, "exch": 9,
    },
    # parent key-sets broadcast (bhj=4); smj/shj here would mean a
    # dimension stopped broadcasting
    "fk_discovery_containment": {
        "bhj": 4, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 8, "exch": 12,
    },
    "column_entropy_profile": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 15, "exch": 6,
    },
    # exch=1: the digit frame is materialized, so the grand total must
    # NOT re-scan orders (bnlj is the broadcast total singleton)
    "benford_first_digit": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 1, "exch": 1,
    },
    "event_transition_matrix": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 1, "partialAgg": 1, "exch": 2,
    },
    # basket frame materialized once for its four consumers; marginals
    # broadcast (bhj), total as broadcast singleton (bnlj), top-15 via
    # TakeOrderedAndProject (topN)
    "cooccurrence_lift": {
        "bhj": 3, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 1, "partialAgg": 3, "exch": 5,
    },
    # second aggregate is a rollup of the first's keys: two exchanges
    # total, no third
    "k_anonymity_report": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 5, "exch": 2,
    },
    # --- integrity pack ---
    # every parent key-set broadcasts (bhj=3): an smj here means a
    # fact-table shuffle crept into what must be a streaming pass
    "orphan_fk_audit": {
        "bhj": 3, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 6,
    },
    # smj=1 pinned by the merge hint — the shuffle-join path the
    # runtime bloom filter exists for (injection itself is asserted
    # in test_integrity_properties)
    "runtime_bloom_join_agg": {
        "bhj": 0, "smj": 1, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 3,
    },
    # single custkey-partitioned window evaluates rank + all rollup
    # fields: no join, no partial agg; exch=2 is the custkey shuffle
    # plus the local fan-out shim
    "golden_record_merge": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 0, "exch": 1,
    },
    # --- mixing pack ---
    # source-keyed agg materialized; 1-row total enters as a broadcast
    # singleton (bnlj)
    "temperature_mix_allocation": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 1, "exch": 1,
    },
    # (source, text-hash) dedup agg, then a source rollup of the
    # already-partitioned frame: two exchanges, no join
    "effective_token_report": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 2,
    },
    "quality_dedup_correlation": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 2,
    },
    # partitioned-fact ⋈ broadcast filtered dim; the dynamicpruning
    # PartitionFilter itself is asserted in test_integrity_properties
    "dynamic_partition_pruning_agg": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 1,
    },
    "string_agg_surface": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    "group_by_all_surface": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 2,
    },
    # --- profiling pack ---
    # bounded top-K vocab (topN) broadcast onto the coverage join
    "oov_rate_report": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 1, "partialAgg": 3, "exch": 2,
    },
    # one streaming pass per audited column, 1-row aggregates unioned
    "pii_column_discovery": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 10, "exch": 5,
    },
    "join_size_estimate_report": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 2,
    },
    # centroid frame joins pre-checkpoint; the visible bhj is the
    # label-stats broadcast back onto the materialized distance frame
    "label_centroid_outliers": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 2,
    },
}

# Round-7 extension (VERDICT r6 #6): every registry query whose
# PLANS.md row shows >=4 shuffle exchanges is now pinned — those
# are the plans where a silent regression (lost broadcast, lost
# pruning, extra repartition) costs the most at 100 TB. With this
# block, every >=4-exchange query carries a pin (programmatically
# re-verified against PLANS.md whenever plans change — the r7 review
# caught scalar_subquery_filter missing from the original count); the
# remaining unpinned queries are all <=3-exchange shapes whose
# oracles plus PLANS.md regeneration give adequate drift signal.
PINNED.update({
    # the scalar subquery must stay a broadcast 1-row agg, never a
    # per-row join
    # r7: the threshold avg now derives from an exact decimal sum
    # (one extra partial agg), still a broadcast 1-row scalar
    "scalar_subquery_filter": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 4,
    },
    "countmin_heavy_hitters": {
        "bhj": 5, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 2, "partialAgg": 5, "exch": 5,
    },
    "dq_constraint_report": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 4,
    },
    "dq_metric_drift": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 0, "topN": 0, "partialAgg": 10, "exch": 6,
    },
    "dup_graph_triangles": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 5,
    },
    # r7: median vec_id moved off the global-order window (single-
    # partition sort) onto the two-phase range/local-rank pattern —
    # more exchanges, all parallel and bounded
    "embedding_drift_epochs": {
        "bhj": 3, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 0, "topN": 0, "partialAgg": 12, "exch": 7,
    },
    "funnel_conversion": {
        "bhj": 3, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 0, "topN": 0, "partialAgg": 7, "exch": 7,
    },
    "kmeans_two_iter": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 0, "topN": 0, "partialAgg": 9, "exch": 6,
    },
    "market_share": {
        "bhj": 7, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 4,
    },
    # r10: row-form signatures — see minhash_lsh_dedup note
    "minhash_lsh_capped": {
        "bhj": 9, "smj": 0, "shj": 0, "bnlj": 2,
        "wgl": 0, "topN": 0, "partialAgg": 23, "exch": 7,
    },
    "nation_profit": {
        "bhj": 4, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 1, "exch": 4,
    },
    "ngram_jaccard_pairs": {
        "bhj": 3, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 3,
    },
    "parts_supplier_counts": {
        "bhj": 2, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 1, "exch": 4,
    },
    "promo_stock_suppliers": {
        "bhj": 4, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 5,
    },
    # The audit report is the rows already checked against the write
    # (a local relation), so these plans hold no dedup window and no
    # shuffle; the audit's own plan is pinned by its Spark job count in
    # test_engine_layers.test_ingest_audit_runs_the_load_once
    "ingest_e2e": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 0, "exch": 0,
    },
    "pipeline_e2e": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 0, "exch": 0,
    },
    # NULL-safe key pairing is a union of the tagged source and sink
    # keys grouped once (audit.count_by_key): one shuffle on the key,
    # no join
    "reconciliation": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 1,
    },
    # r7: EXCEPT is subtract() (left-anti + distinct in one operator)
    # instead of exceptAll().distinct() — three fewer exchanges
    "set_ops": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 4,
    },
    "small_quantity_revenue": {
        "bhj": 3, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 4, "exch": 4,
    },
    "snapshot_diff": {
        "bhj": 0, "smj": 1, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 2, "exch": 3,
    },
    "time_gap_fill": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 3,
    },
    # r7: fan_out=False on the count-only scans dropped the two
    # fan-out repartition exchanges — COUNT(*) answers from footers
    "top_tables_by_size": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 6, "exch": 6,
    },
    "unigram_logprob_quality": {
        "bhj": 1, "smj": 0, "shj": 0, "bnlj": 1,
        "wgl": 0, "topN": 0, "partialAgg": 8, "exch": 4,
    },
    "union_all_labels": {
        "bhj": 0, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 0, "partialAgg": 3, "exch": 4,
    },
    "waiting_suppliers": {
        "bhj": 4, "smj": 0, "shj": 0, "bnlj": 0,
        "wgl": 0, "topN": 1, "partialAgg": 1, "exch": 5,
    },
})


@pytest.mark.parametrize("name", sorted(PINNED))
def test_plan_fingerprint_pinned(spark, name):
    got = plan_fingerprint(REGISTRY[name][0](spark, SF))
    assert got == PINNED[name], (
        f"{name}: executed-plan fingerprint drifted.\n"
        f"  pinned: {PINNED[name]}\n"
        f"  got:    {got}\n"
        "If the plan change is DELIBERATE, update PINNED in this file "
        "(and regenerate PLANS.md) in the same commit."
    )


def test_every_heavy_query_is_pinned():
    """Self-enforcing coverage rule: every PLANS.md row with >=4
    shuffle exchanges must carry a pin. The r7 review found one query
    silently missing from a hand-maintained '48' count — this check
    replaces counting by hand, and catches queries that CROSS the
    threshold when their plan legitimately changes (ingest_e2e did
    exactly that in r7)."""
    import re

    with open("/root/repo/PLANS.md") as fh:
        plans = fh.read()
    heavy = {
        m.group(1)
        for m in re.finditer(r"^\| (\w+) \| (\d+) \|", plans, re.M)
        if int(m.group(2)) >= 4
    }
    missing = sorted(heavy - set(PINNED))
    assert not missing, (
        f"unpinned >=4-exchange queries: {missing} — add PINNED rows "
        "(and keep PLANS.md regenerated) in the same commit"
    )
