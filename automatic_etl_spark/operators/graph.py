"""Connected components over a pair table — the canonicalization step
every near-dup pipeline needs (LSH emits PAIRS; survivor selection
needs CLUSTERS: pair → component → keep-one).

Extends the reference's exact-dedup intent (tools/ingest_runner.py:
1576-1588 keeps one row per key) to transitively-linked near-dup sets.

Algorithm: iterative minimum-label propagation. Every node starts
labeled with its own id; each round, a node takes the min of its label
and its neighbors' labels; converged when no label changes. Rounds
needed = graph diameter — for near-dup graphs that is small (dup
clusters are tight cliques/chains), which is why label propagation is
the standard choice over pointer-doubling (large-star/small-star,
Kiveris et al. "Connected Components in MapReduce", SoCC'14) until
diameters get pathological.

Scale notes (100 TB):
- Each round is one (src-keyed) shuffle join + one groupBy min with
  map-side partial aggregation — O(E) per round, no quadratic term.
- ``localCheckpoint`` after every round truncates the lineage chain so
  plan size stays constant across iterations (the standard iterative-
  algorithm guard; without it round k replays rounds 1..k-1).
- The convergence probe is a scalar ``count`` per round (driver gets
  ONE number, never data).
- ``max_iter`` bounds worst-case chains; hitting the bound raises
  rather than silently emitting a half-merged labeling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automatic_etl_spark.operators.checkpoints import release


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "a_id",
    dst_col: str = "b_id",
    max_iter: int = 20,
    compress: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node with its component's MINIMUM node id.

    ``nodes``: one row per node (singletons included — unpaired docs
    become their own component). ``edges``: undirected pairs.
    Returns (node, component). When ``stats`` is a dict, it receives
    ``{"rounds": n}`` on return — the number of hook rounds executed
    including the final no-change probe round (the observable the
    round-count pin and the compress-crossover analysis rest on).

    ``compress=True`` adds a pointer-jumping step per round
    (Shiloach-Vishkin hook+compress): after the neighbor-min hook,
    every label is replaced by its label's label (p(u) := p(p(u)) via
    one self-join). Information reach then grows ~2^t instead of t, so
    rounds drop from O(diameter) to O(log diameter) at the cost of a
    second shuffle join per round. Measured crossover (COVERAGE.md r8
    attribution): a compress round costs ~1.6× a plain round, so
    compress wins when diameter+1 > 1.6·(⌈log₂ d⌉+1) — **d ≥ 4**. Use
    it for long chains; plain label propagation stays the default on
    the tight near-dup cliques where diameter ≈ 1-3. Both variants
    converge to the identical min-label fixpoint (compress is a no-op
    at the fixpoint, where every label is already the component min,
    so the hook-only convergence probe remains exact).

    A delta-frontier hook (join only last round's changed labels) was
    measured and rejected: +3…+9% slower on the near-dup graphs, which
    converge in ~3 rounds (bench_baselines/ab_cc_delta_r15.jsonl).
    """
    # Materialize the DIRECTED edge list first (r14): the symmetrize
    # union references `edges` twice, and for LSH-verified near-dup
    # edges that subtree is the expensive front of the whole query —
    # without this checkpoint the one `sym` materialization evaluates
    # the candidate-generation + Jaccard-verify pipeline TWICE (the
    # two union branches differ in projection, so Spark's
    # ReusedExchange cannot collapse them).
    edges = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    # No distinct and no second checkpoint on the symmetrized view
    # (r14): min-label propagation is duplicate-insensitive (the
    # groupBy MIN below is unchanged by repeated edges), so the
    # distinct's full shuffle bought nothing, and the union over the
    # materialized directed blocks is narrow/constant-depth — each
    # round re-reads the blocks, never recomputes the edge front.
    # (Heavily duplicated caller edge lists would inflate the per-round
    # join input — the near-dup callers all pass unique a<b pairs.)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("component")
    ).localCheckpoint(eager=True)
    prev_ckpt = labels

    for round_no in range(1, max_iter + 1):
        if stats is not None:
            stats["rounds"] = round_no
        nbr_min = (
            labels.join(sym, labels["node"] == sym["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        relabeled = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (
                    F.col("nbr_component").isNotNull()
                    & (F.col("nbr_component") < F.col("component"))
                )
                .cast("int")
                .alias("changed"),
            )
            # LAZY checkpoint (r14): the convergence probe right below
            # is the materializing action — its partial-agg map stage
            # computes every partition exactly once and persists the
            # blocks as it goes, so eager=True's separate count job per
            # round bought nothing. (Lazy is only safe when the FIRST
            # consumer reads the frame exactly once: the probe does;
            # `edges`/`labels` above stay eager because their first
            # consumer reads them from two concurrent stages, which
            # would compute the subtree twice.) One scheduler barrier
            # per round removed — on the spiky sandbox VM each job is
            # also one more draw from the multi-second-stall tail.
            .localCheckpoint(eager=False)
        )
        changed = relabeled.agg(F.sum("changed")).first()[0] or 0
        # the new checkpoint is materialized — the previous round's
        # label blocks are dead weight from here, free them now
        # (prev_ckpt is always the checkpoint FRAME itself: a
        # projection over it would not expose the LogicalRDD)
        release(prev_ckpt)
        prev_ckpt = relabeled
        labels = relabeled.drop("changed")
        if changed == 0:
            release(edges)
            return labels
        if compress:
            # p(u) := p(p(u)) — component values are node ids, so the
            # lookup is a self-join; inner is safe (every component id
            # is present as a node)
            labels = (
                relabeled.alias("l")
                .join(
                    relabeled.select(
                        F.col("node").alias("p_node"),
                        F.col("component").alias("p_component"),
                    ),
                    F.col("l.component") == F.col("p_node"),
                )
                .select(
                    F.col("l.node").alias("node"),
                    F.col("p_component").alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            release(prev_ckpt)
            prev_ckpt = labels
    raise RuntimeError(
        f"connected_components: no convergence in {max_iter} rounds — "
        "graph diameter exceeds the bound; raise max_iter or switch to "
        "pointer-doubling"
    )
