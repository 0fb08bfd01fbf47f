#!/usr/bin/env python
"""Interleaved A/B for registry queries under host noise.

The sandbox VM shows multi-x scheduler spikes and slow loadavg decay,
so sequential before/after sessions confound variant with regime.
This harness runs BOTH variants alternately (A B A B ...) in ONE
session, so regime drift hits both arms equally; report min and
median per arm.

A "variant" is a callable patch applied before building the plan
(e.g. monkeypatching an operator helper); `None` means stock code.

Usage: python tools/ab_interleaved.py <experiment> <query> [pairs]
Experiments are defined in EXPERIMENTS below.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _patch_shingle_checkpoint(enable: bool):
    """Toggle a localCheckpoint wrapper on td.shingle_rows."""
    from automatic_etl_spark.operators import text_dedup as td

    orig = td.shingle_rows.__wrapped__ if hasattr(td.shingle_rows, "__wrapped__") else td.shingle_rows
    if enable:
        def wrapped(*a, **k):
            return orig(*a, **k).localCheckpoint(eager=True)
        wrapped.__wrapped__ = orig
        td.shingle_rows = wrapped
    else:
        td.shingle_rows = orig


def _patch_no_fanout(enable: bool):
    """Force fan_out=False on EVERY table() scan (B arm) — a probe for
    queries whose fan-out repartition may be pure overhead. Winners
    get per-callsite fan_out=False after code review, never a global
    flip."""
    from automatic_etl_spark.sources import parquet

    if not hasattr(_patch_no_fanout, "orig"):
        _patch_no_fanout.orig = parquet.table
    orig = _patch_no_fanout.orig
    if enable:
        def wrapped(spark, sf_dir, name, fan_out=True):
            return orig(spark, sf_dir, name, fan_out=False)
        parquet.table = wrapped
    else:
        parquet.table = orig
    # plan modules import `table` by name — repoint them all
    import sys as _sys

    for mod_name, mod in list(_sys.modules.items()):
        if mod_name.startswith("automatic_etl_spark.plans") and hasattr(
            mod, "table"
        ):
            mod.table = parquet.table


def _patch_gram_bind(enable: bool):
    """A arm: legacy gram builders that re-evaluate ``tokens(text)``
    inside the transform lambda per element; B arm: the committed
    ``_bind_array`` form (tokens evaluated once per row)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from automatic_etl_spark.functions import text as tx

    if not hasattr(tx, "_orig_shingles"):
        tx._orig_shingles = tx.shingles
        tx._orig_word_ngrams = tx.word_ngrams

    def _legacy_grams(c, n, distinct):
        toks = tx.tokens(c)
        count = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), count - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
        if distinct:
            grams = F.array_distinct(grams)
        return F.when(count >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    if enable:
        tx.shingles = tx._orig_shingles
        tx.word_ngrams = tx._orig_word_ngrams
    else:
        tx.shingles = lambda c, n=3: _legacy_grams(c, n, True)
        tx.word_ngrams = lambda c, n=2: _legacy_grams(c, n, False)


def _patch_cc_lazy(enable: bool):
    """A arm: per-round relabeled checkpoint EAGER (legacy — a
    dedicated count job per round); B arm: committed lazy checkpoint
    (the convergence probe materializes it)."""
    from automatic_etl_spark.operators import graph

    if not hasattr(graph, "_orig_cc_lazy"):
        import inspect
        import textwrap

        src = inspect.getsource(graph.connected_components)
        graph._orig_cc_lazy = graph.connected_components
        legacy_src = src.replace(".localCheckpoint(eager=False)",
                                 ".localCheckpoint(eager=True)")
        ns = dict(graph.__dict__)
        exec(textwrap.dedent(legacy_src), ns)  # noqa: S102 — A/B harness only
        graph._legacy_cc = ns["connected_components"]

    from automatic_etl_spark.plans import curation_plans

    fn = graph._orig_cc_lazy if enable else graph._legacy_cc
    curation_plans.connected_components = fn


def _swap_registry_source(mod, qname: str, transform_src):
    """Build a source-rewritten variant of REGISTRY[qname]'s function
    (decorator stripped, ``transform_src`` applied) and return
    (original_fn, legacy_fn). The harness re-reads REGISTRY per run,
    so experiments may swap the entry directly."""
    import inspect
    import textwrap

    from automatic_etl_spark.plans.registry import REGISTRY

    fn, _oracle = REGISTRY[qname]
    orig_key, legacy_key = f"_orig_{qname}", f"_legacy_{qname}"
    if not hasattr(mod, legacy_key):
        src = textwrap.dedent(inspect.getsource(fn))
        lines = src.splitlines()
        start = next(i for i, l in enumerate(lines) if l.startswith("def "))
        stripped = "\n".join(lines[start:])
        body = transform_src(stripped)
        # A transform that matches nothing builds a byte-identical
        # "variant" and the A/B silently measures noise (the r14
        # boiler_ckpt bug, r14 ADVICE) — fail loudly instead.
        assert body != stripped, (
            f"{qname}: transform_src changed nothing — the experiment "
            "would compare identical code"
        )
        ns = dict(mod.__dict__)
        exec(body, ns)  # noqa: S102 — A/B harness only
        setattr(mod, orig_key, fn)
        setattr(mod, legacy_key, ns[fn.__name__])
    return getattr(mod, orig_key), getattr(mod, legacy_key)


def _patch_cand_ckpt(enable: bool):
    """INVERTED arms (r14 ADVICE — the docstring used to state them
    backwards): A arm (enable=False) installs the VARIANT — an eager
    candidates checkpoint; B arm (enable=True) keeps the COMMITTED
    code — lazy candidates whose count + verify branches re-derive the
    distinct pair set, leaning on AQE stage reuse. The recorded +2%
    median for A is the cost of the checkpoint, which is why the
    committed form stays lazy."""
    from automatic_etl_spark.plans import dedup_plans as dp
    from automatic_etl_spark.plans.registry import REGISTRY

    for q in ("minhash_lsh_dedup",):
        orig, legacy = _swap_registry_source(
            dp, q,
            lambda src: src.replace(
                "candidates = td.lsh_candidate_pairs(signatures, BANDS, ROWS_PER_BAND)",
                "candidates = td.lsh_candidate_pairs(signatures, BANDS,"
                " ROWS_PER_BAND).localCheckpoint(eager=True)",
            ),
        )
        # NOTE inverted arms for this experiment: the committed code is
        # the UNcheckpointed form (the A/B rejected the checkpoint), so
        # enable=True keeps stock and the "legacy" arm is the variant.
        REGISTRY[q] = (orig if enable else legacy, REGISTRY[q][1])


def _patch_boiler_ckpt(enable: bool):
    """INVERTED arms, like cand_ckpt (r14 ADVICE — the original
    strip-the-checkpoint transform was a NO-OP because the committed
    function has no checkpoint, so both arms ran identical code and
    the +6% record measured noise): A arm (enable=False) installs the
    VARIANT — the grams frame eagerly localCheckpoint'ed; B arm
    (enable=True) keeps the COMMITTED no-checkpoint form (the explode
    front runs once per consumer)."""
    from automatic_etl_spark.plans import training_plans as tp
    from automatic_etl_spark.plans.registry import REGISTRY

    orig, legacy = _swap_registry_source(
        tp, "boilerplate_ngrams",
        lambda s: s.replace(
            'F.explode(tx.shingles("text", BOILER_N)).alias("g"),\n    )',
            'F.explode(tx.shingles("text", BOILER_N)).alias("g"),\n'
            "    ).localCheckpoint(eager=True)",
        ),
    )
    REGISTRY["boilerplate_ngrams"] = (
        orig if enable else legacy, REGISTRY["boilerplate_ngrams"][1]
    )


def _patch_pr_r1_ckpt(enable: bool):
    """A arm: lazy r1 (round-2 re-derives round 1 in both consuming
    branches); B arm: committed eager r1 checkpoint."""
    from automatic_etl_spark.plans import enrichment_plans as ep
    from automatic_etl_spark.plans.registry import REGISTRY

    orig, legacy = _swap_registry_source(
        ep, "pagerank_two_iter",
        lambda src: src.replace(".localCheckpoint(eager=True)\n    )", "\n    )", 1),
    )
    REGISTRY["pagerank_two_iter"] = (
        orig if enable else legacy, REGISTRY["pagerank_two_iter"][1]
    )


def _patch_pr_deg(enable: bool):
    """A arm: legacy pagerank edge prep (bare sym checkpoint, deg
    recomputed + 3-way join inside each rank round); B arm: the
    committed degree-annotated edge list (one join per round)."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.plans import enrichment_plans as ep

    if not hasattr(ep, "_orig_pr_ready"):
        ep._orig_pr_ready = ep._pr_edges_iterate_ready
        ep._orig_pr_iterate = ep._pr_iterate

    def _legacy_ready(edges):
        return (
            edges.select(
                F.col("a_id").alias("src"), F.col("b_id").alias("dst")
            )
            .unionAll(
                edges.select(
                    F.col("b_id").alias("src"), F.col("a_id").alias("dst")
                )
            )
            .localCheckpoint(eager=True)
        )

    def _legacy_iterate(ranks, sym):
        deg = sym.groupBy("src").agg(F.count("*").alias("d"))
        contribs = (
            sym.join(ranks, sym.src == ranks.node)
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    F.col("r") / F.col("d") * F.lit(1e9) + F.lit(0.5)
                ).cast("long").alias("contrib_nanos"),
            )
            .groupBy("node")
            .agg(F.sum("contrib_nanos").alias("s_nanos"))
        )
        return ranks.select("node").join(contribs, "node", "left").select(
            "node",
            (
                F.lit(ep._PR_DAMP)
                * (
                    F.coalesce(F.col("s_nanos"), F.lit(0)).cast("double")
                    / F.lit(1e9)
                )
            ).alias("r"),
        )

    ep._pr_edges_iterate_ready = (
        ep._orig_pr_ready if enable else _legacy_ready
    )
    ep._pr_iterate = ep._orig_pr_iterate if enable else _legacy_iterate


def _patch_vec_cast(enable: bool):
    """A arm: legacy ``to_double_array`` = transform(x -> cast(x)) —
    an interpreted lambda per element, re-run per PAIR inside dot();
    B arm: the committed plain array Cast (codegen'd, and simplified
    away entirely on already-double input)."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.functions import vectors

    if not hasattr(vectors, "_orig_to_double_array"):
        vectors._orig_to_double_array = vectors.to_double_array

    def _legacy(c):
        return F.transform(vectors._col(c), lambda x: x.cast("double"))

    vectors.to_double_array = (
        vectors._orig_to_double_array if enable else _legacy
    )


def _patch_cdc_inline(enable: bool):
    """A arm: legacy r14 unwrap_envelope (per-field env extraction —
    CollapseProject substitutes the parse into each consumer, leaving
    2 pruned from_json per row in the executed plan); B arm: committed
    r15 inline(array(env)) form (one Generate-evaluated parse)."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.streaming import cdc

    if not hasattr(cdc, "_orig_unwrap"):
        cdc._orig_unwrap = cdc.unwrap_envelope

    def _legacy(parsed, env_col="_env"):
        env = F.col(env_col)
        is_delete = env.getField("op") == "d"
        record = F.when(is_delete, env.getField("before")).otherwise(
            env.getField("after")
        )
        return (
            parsed.where(env.getField("op").isNotNull())
            .withColumn("_rec", record)
            .withColumn("__deleted", is_delete)
            .withColumn("_op", env.getField("op"))
            .withColumn("_ts_ms", env.getField("ts_ms"))
            .select("_rec.*", "__deleted", "_op", "_ts_ms")
        )

    cdc.unwrap_envelope = cdc._orig_unwrap if enable else _legacy


def _patch_dim_wide(enable: bool):
    """INVERTED arms (the variant was measured and REJECTED — see the
    committed `_dim_sums` docstring): A arm (enable=False) installs
    the wide-aggregate VARIANT — one groupBy(list_id) with 64
    decimal-sum + 64 count buffers, stack-unpivoted to the
    (list_id, pos, s, c) contract, value-identical incl. null/short
    arrays; B arm (enable=True) keeps the COMMITTED posexplode form.
    Recorded: A 2× slower at sf0.1, ~neutral at the 10× corpus."""
    from pyspark.sql import functions as F

    from automatic_etl_spark.operators import similarity as sim

    if not hasattr(sim, "_orig_dim_sums"):
        sim._orig_dim_sums = sim._dim_sums

    def _wide(inverted, dim=64):
        aggs = []
        for i in range(1, dim + 1):
            aggs.append(
                F.sum(
                    F.try_element_at(
                        "n_vec", F.lit(i)
                    ).cast("decimal(28,12)")
                ).alias(f"s{i}")
            )
            aggs.append(
                F.count(
                    F.when(F.size("n_vec") >= i, F.lit(1))
                ).alias(f"c{i}")
            )
        wide = inverted.groupBy("list_id").agg(*aggs)
        stack_args = ", ".join(
            f"{i - 1}, s{i}, c{i}" for i in range(1, dim + 1)
        )
        return (
            wide.select(
                "list_id",
                F.expr(f"stack({dim}, {stack_args}) AS (pos, s, c)"),
            )
            .filter(F.col("c") > 0)
        )

    sim._dim_sums = sim._orig_dim_sums if enable else _wide


def _patch_cand_mat(enable: bool):
    """INVERTED arms (the variant was measured and REJECTED — see the
    committed minhash_lsh_matview comment): A arm (enable=False)
    installs the VARIANT — the candidate table written once beside
    the signature table and scanned by both consumers; B arm
    (enable=True) keeps the COMMITTED lazy candidates. Recorded:
    A ~neutral at sf0.1, 10-28% slower at the 10× corpus (AQE stage
    reuse already serves both consumers)."""
    from automatic_etl_spark.plans import dedup_plans as dp
    from automatic_etl_spark.plans.registry import REGISTRY

    orig, legacy = _swap_registry_source(
        dp, "minhash_lsh_matview",
        lambda src: src.replace(
            "candidates = td.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND)",
            'cand_dir = sig_dir + "_cand"\n'
            "    td.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND).write.mode(\n"
            '        "overwrite"\n'
            "    ).parquet(cand_dir)\n"
            "    candidates = spark.read.parquet(cand_dir)",
        ),
    )
    REGISTRY["minhash_lsh_matview"] = (
        orig if enable else legacy, REGISTRY["minhash_lsh_matview"][1]
    )


def _patch_pyds_drain(enable: bool):
    """A arm: legacy python_stream_source_totals drain (a
    spark.table(name).count() JOB per 0.3 s wakeup); B arm: committed
    r15 driver-local recentProgress poll at 0.05 s."""
    import re

    from automatic_etl_spark.plans import cdc_plans as cp
    from automatic_etl_spark.plans.registry import REGISTRY

    def _to_legacy(src: str) -> str:
        return re.sub(
            r"deadline = time\.time\(\) \+ 120\n"
            r"(?:.*\n)*?\s+time\.sleep\(0\.05\)",
            "deadline = time.time() + 120\n"
            "        while time.time() < deadline:\n"
            "            if spark.table(name).count() >= rows:\n"
            "                break\n"
            "            time.sleep(0.3)",
            src,
        )

    orig, legacy = _swap_registry_source(
        cp, "python_stream_source_totals", _to_legacy
    )
    REGISTRY["python_stream_source_totals"] = (
        orig if enable else legacy,
        REGISTRY["python_stream_source_totals"][1],
    )


# Which arm runs the COMMITTED (stock) code, per experiment — the arm
# main()'s finally-block restores after each query, so an exception
# never leaves a variant patched in. B is the committed arm (including
# the inverted-arm cand_ckpt/boiler_ckpt/dim_wide/cand_mat, whose
# enable=True IS stock) except where listed: no_fanout's A restores the
# stock table() and B forces the fan_out=False probe; shingle_ckpt's A
# is the committed shingle_rows (its callers checkpoint the result) and
# B wraps it in a second checkpoint. tests/test_ab_arms.py applies A,
# B, then this arm for every experiment and checks that the engine's
# module attributes and REGISTRY entries are the originals again.
STOCK_ARM = {"no_fanout": "A", "shingle_ckpt": "A"}

EXPERIMENTS = {
    "cdc_inline": (
        lambda: _patch_cdc_inline(False),
        lambda: _patch_cdc_inline(True),
    ),
    "pyds_drain": (
        lambda: _patch_pyds_drain(False),
        lambda: _patch_pyds_drain(True),
    ),
    "vec_cast": (
        lambda: _patch_vec_cast(False),
        lambda: _patch_vec_cast(True),
    ),
    "cc_lazy": (
        lambda: _patch_cc_lazy(False),
        lambda: _patch_cc_lazy(True),
    ),
    "pr_deg": (
        lambda: _patch_pr_deg(False),
        lambda: _patch_pr_deg(True),
    ),
    "pr_r1_ckpt": (
        lambda: _patch_pr_r1_ckpt(False),
        lambda: _patch_pr_r1_ckpt(True),
    ),
    "cand_ckpt": (
        lambda: _patch_cand_ckpt(False),
        lambda: _patch_cand_ckpt(True),
    ),
    "boiler_ckpt": (
        lambda: _patch_boiler_ckpt(False),
        lambda: _patch_boiler_ckpt(True),
    ),
    "shingle_ckpt": (
        lambda: _patch_shingle_checkpoint(False),
        lambda: _patch_shingle_checkpoint(True),
    ),
    "gram_bind": (
        lambda: _patch_gram_bind(False),
        lambda: _patch_gram_bind(True),
    ),
    "dim_wide": (
        lambda: _patch_dim_wide(False),
        lambda: _patch_dim_wide(True),
    ),
    "cand_mat": (
        lambda: _patch_cand_mat(False),
        lambda: _patch_cand_mat(True),
    ),
    "no_fanout": (
        lambda: _patch_no_fanout(False),
        lambda: _patch_no_fanout(True),
    ),
}


def restore_stock(exp_name: str) -> None:
    """Put the COMMITTED arm of ``exp_name`` back in place."""
    set_a, set_b = EXPERIMENTS[exp_name]
    (set_a if STOCK_ARM.get(exp_name, "B") == "A" else set_b)()


def main() -> int:
    exp_name, queries = sys.argv[1], sys.argv[2].split(",")
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    set_a, set_b = EXPERIMENTS[exp_name]

    from automatic_etl_spark.plans.all_plans import REGISTRY
    from automatic_etl_spark.session import get_spark

    spark = get_spark(app_name=f"ab-{exp_name}")
    spark.sparkContext.setLogLevel("ERROR")

    def _reset():
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    import json

    for query in queries:
        # warm both arms on the smallest fixture. REGISTRY is re-read
        # after every arm switch so experiments may swap the entry
        # itself (source-rewritten variants), not just helpers.
        warm = "/root/testdata/sf0.001"
        try:
            for setv in (set_a, set_b):
                setv()
                REGISTRY[query][0](spark, warm).collect()

            times: dict[str, list[float]] = {"A": [], "B": []}
            for i in range(pairs):
                for arm, setv in (("A", set_a), ("B", set_b)):
                    setv()
                    _reset()
                    fn = REGISTRY[query][0]
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).collect()
                    times[arm].append(round(time.perf_counter() - t0, 3))
        except Exception as exc:  # noqa: BLE001 — keep the sweep going
            print(json.dumps({"query": query, "error": str(exc)[:200]}),
                  flush=True)
            continue
        finally:
            restore_stock(exp_name)
        out = {
            arm: {
                "runs": v,
                "min": min(v),
                "median": round(statistics.median(v), 3),
            }
            for arm, v in times.items()
        }
        out["query"] = query
        out["loadavg"] = list(os.getloadavg())
        print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
