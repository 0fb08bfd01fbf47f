#!/usr/bin/env python
"""Cost attribution for near_dup_canonical (VERDICT r7 #3).

Times each stage of the slowest bench headliner in isolation at the
bench SF, and counts connected-components hook rounds for both the
plain label-propagation and the pointer-doubling (compress=True)
variants:

  1. LSH front  — chain corpus → shingles → minhash signatures →
     banded candidate pairs (count materializes the stage)
  2. Jaccard verify — candidate-driven shingle join + threshold
  3. CC rounds  — min-label propagation to fixpoint (rounds reported)
  4. final agg  — survivor rollup per language

Stage boundaries are forced with localCheckpoint(eager=True) so each
wall time covers exactly one stage (otherwise Spark would lazily fold
stage N's work into stage N+1's first action). Checkpointing adds
materialization cost the fused bench query doesn't pay, so the stage
SUM here slightly exceeds the bench number — the RATIOS are the
signal. Prints one JSON line; paste the numbers into COVERAGE.md.

Usage: python tools/attr_near_dup.py [sf_dir]  (default sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import functions as F

    from automatic_etl_spark.operators import text_dedup as td
    from automatic_etl_spark.operators.graph import connected_components
    from automatic_etl_spark.plans.curation_plans import (
        BANDS,
        JACCARD_THRESHOLD,
        NUM_HASHES,
        ROWS_PER_BAND,
        _chain_corpus,
    )
    from automatic_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="attr-near-dup")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"sf_dir": sf_dir}

    t0 = time.monotonic()
    corpus = _chain_corpus(spark, sf_dir).localCheckpoint(eager=True)
    # the production front: row-form signatures over shingle rows,
    # which the Jaccard-verify stage below reuses
    sh = td.shingle_rows(corpus)
    signatures = td.minhash_signatures(sh, NUM_HASHES)
    candidates = td.lsh_candidate_pairs(
        signatures, BANDS, ROWS_PER_BAND
    ).localCheckpoint(eager=True)
    out["n_candidates"] = candidates.count()
    out["lsh_front_sec"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    edges = (
        td.jaccard_pairs(sh, candidates=candidates)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a_id", "b_id")
        .localCheckpoint(eager=True)
    )
    out["n_edges"] = edges.count()
    out["jaccard_verify_sec"] = round(time.monotonic() - t0, 2)

    nodes = corpus.select("doc_id")
    for variant, compress in (("plain", False), ("compress", True)):
        t0 = time.monotonic()
        stats: dict = {}
        comp = connected_components(
            nodes, edges, compress=compress, stats=stats
        )
        comp.count()
        out[f"cc_{variant}_sec"] = round(time.monotonic() - t0, 2)
        out[f"cc_{variant}_rounds"] = stats["rounds"]
        if variant == "plain":
            t0 = time.monotonic()
            comp.join(
                corpus.select(F.col("doc_id").alias("node"), "lang"), "node"
            ).groupBy("lang").agg(F.count("*").alias("c")).collect()
            out["final_agg_sec"] = round(time.monotonic() - t0, 2)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
