"""Oracle-checked plans for corpus/vocabulary profiling, PII column
discovery, planner-style cardinality estimation, and embedding
label-noise mining.

Reference anchors: the PII/name heuristics extend the reference's
column-name-driven date detection (reference tools/ingest_runner.py
name-pattern regexes) to sensitive-data discovery; the cardinality
estimate mirrors what its generated BI queries implicitly trust the
warehouse optimizer to know. Float policy: per-term rounding at one
site + DECIMAL sums (the unigram_logprob_quality precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automatic_etl_spark.functions import text as tx
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import qround
from automatic_etl_spark.sources.parquet import table

# --- Vocabulary coverage / OOV rate ------------------------------------------

VOCAB_K = 1000

_OOV_ORACLE = f"""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(
                   regexp_split_to_array(trim(lower(text)), '\\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
            ORDER BY cnt DESC, tok ASC LIMIT {VOCAB_K}
        )
    )
    SELECT t.source,
           COUNT(*) AS total_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS in_vocab_tokens,
           floor((1.0 - CAST(SUM(CASE WHEN v.tok IS NOT NULL
                                      THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*)) * 1e6 + 0.5) / 1e6 AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.source
"""


@register("oov_rate_report", oracle=_OOV_ORACLE)
def oov_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-K
    vocabulary — the tokenizer-coverage check run before committing a
    vocab: a source with high OOV will fragment into bytes/unknowns.
    The vocabulary is a bounded top-K (total order cnt desc, tok asc →
    TakeOrderedAndProject over the token aggregate) and BROADCASTS to
    the coverage join, so the corpus-side token stream never
    shuffles twice."""
    docs = table(spark, sf_dir, "documents", fan_out=False)
    toks = docs.select(
        "source", F.explode(tx.tokens("text")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("_v"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.col("_v").isNotNull().cast("long"))
            .cast("bigint")
            .alias("in_vocab_tokens"),
            qround(
                F.lit(1.0)
                - F.sum(F.col("_v").isNotNull().cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


# --- PII column discovery -----------------------------------------------------
# Column-NAME heuristics (the reference's name-pattern approach,
# tools/ingest_runner.py date-column regexes, turned on sensitive
# data) combined with VALUE-pattern hit rates over the actual data.

_PII_NAME_RE = "(^|_)(name|phone|addr|email|ssn|acct|account)"
# value shape: "looks like a personal-name token pair" — two
# capitalized words; or digit runs >= 7 (phone/account-like)
_PII_VALUE_RE = "([A-Z][a-z]+ [A-Z][a-z]+|[0-9]{7,})"

_PII_COLUMNS = (
    ("customer", "c_name"),
    ("customer", "c_mktsegment"),
    ("supplier", "s_name"),
    ("part", "p_name"),
    ("part", "p_type"),
)

import re as _re_mod

_PII_ORACLE = "\nUNION ALL\n".join(
    f"""
        SELECT '{t}.{c}' AS column_name,
               {('true' if _re_mod.search(_PII_NAME_RE, c) else 'false')} AS name_flag,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN regexp_matches(CAST({c} AS VARCHAR),
                                                 '{_PII_VALUE_RE}')
                             THEN 1 ELSE 0 END) AS BIGINT) AS value_hits,
               floor(CAST(SUM(CASE WHEN regexp_matches(
                                        CAST({c} AS VARCHAR),
                                        '{_PII_VALUE_RE}')
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*) * 1e6 + 0.5) / 1e6 AS hit_rate
        FROM {t}
    """
    for t, c in _PII_COLUMNS
)


@register("pii_column_discovery", oracle=_PII_ORACLE)
def pii_column_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII COLUMN discovery: which structured columns look sensitive?
    Name-pattern flag (schema-level, free) plus value-pattern hit
    rate (one streaming regexp pass per column, no shuffle until the
    1-row per-column aggregate). Complements `pii_scan_stats`/
    `pii_redaction`, which scan free text — this is the structured-
    side inventory a masking policy starts from."""
    import re as _re

    parts = []
    for t, c in _PII_COLUMNS:
        df = table(spark, sf_dir, t, fan_out=False)
        hit = F.col(c).cast("string").rlike(_PII_VALUE_RE)
        parts.append(
            df.agg(
                F.lit(f"{t}.{c}").alias("column_name"),
                F.lit(bool(_re.search(_PII_NAME_RE, c))).alias("name_flag"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(hit.cast("long")).cast("bigint").alias("value_hits"),
            ).select(
                "column_name",
                "name_flag",
                "n_rows",
                "value_hits",
                qround(
                    F.col("value_hits").cast("double") / F.col("n_rows")
                ).alias("hit_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- Histogram-based join-size estimation ------------------------------------

EST_BUCKETS = 32

_JOINSIZE_ORACLE = f"""
    WITH per_key AS (
        SELECT l_partkey AS k, COUNT(*) AS c
        FROM lineitem GROUP BY l_partkey
    ),
    per_bucket AS (
        SELECT CAST(k % {EST_BUCKETS} AS INT) AS bucket,
               COUNT(*) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS rows_in_bucket,
               CAST(SUM(c * c) AS BIGINT) AS exact_pairs
        FROM per_key GROUP BY 1
    )
    SELECT bucket, n_keys, rows_in_bucket, exact_pairs,
           CAST(round(CAST(rows_in_bucket AS DOUBLE) * rows_in_bucket
                      / n_keys) AS BIGINT) AS est_pairs,
           floor(CAST(round(CAST(rows_in_bucket AS DOUBLE) * rows_in_bucket
                            / n_keys) AS DOUBLE)
                 / exact_pairs * 1e6 + 0.5) / 1e6 AS est_ratio
    FROM per_bucket
"""


@register("join_size_estimate_report", oracle=_JOINSIZE_ORACLE)
def join_size_estimate_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Planner-style cardinality estimation audited against ground
    truth: the exact self-join size on l_partkey is Σ_k c(k)² (never
    executed — computed from per-key counts), the histogram estimate
    is (Σc)²/|keys| per bucket under the uniformity assumption every
    cost-based optimizer makes. est_ratio quantifies how much skew
    breaks that assumption per bucket — the diagnostic for when an
    optimizer's join-order choice can't be trusted and hints/stats
    are needed. Two aggregates, the second over the first's keys."""
    li = table(spark, sf_dir, "lineitem", fan_out=False)
    per_key = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per_bucket = per_key.groupBy(
        (F.col("k") % EST_BUCKETS).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").cast("bigint").alias("rows_in_bucket"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_pairs"),
    )
    # round-ok: scale-0 round of an integer-ratio double, mirrored
    # symmetrically in the oracle SQL — both engines round the SAME
    # double with no 10^k scaling step, so they cannot diverge.
    est = F.round(
        F.col("rows_in_bucket").cast("double")
        * F.col("rows_in_bucket")
        / F.col("n_keys")
    ).cast("bigint")
    return per_bucket.select(
        "bucket",
        "n_keys",
        "rows_in_bucket",
        "exact_pairs",
        est.alias("est_pairs"),
        qround(
            est.cast("double") / F.col("exact_pairs")
        ).alias("est_ratio"),
    )


# --- Embedding label-noise mining --------------------------------------------

OUTLIER_FACTOR = 1.5

_CENTROID_ORACLE = f"""
    WITH ex AS (
        SELECT vec_id, label,
               unnest(CAST(embedding AS DOUBLE[])) AS val,
               unnest(range(1, len(embedding) + 1)) AS dim
        FROM embeddings
    ),
    cent AS (
        SELECT label, dim,
               floor(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*) * 1e6 + 0.5) / 1e6 AS mval
        FROM ex GROUP BY label, dim
    ),
    dists AS (
        SELECT e.vec_id, e.label,
               floor(sqrt(CAST(SUM(CAST(floor(
                   (e.val - c.mval) * (e.val - c.mval) * 1e9 + 0.5) / 1e9
                   AS DECIMAL(28,9))) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS dist
        FROM ex e JOIN cent c ON e.label = c.label AND e.dim = c.dim
        GROUP BY e.vec_id, e.label
    ),
    stats AS (
        SELECT label,
               COUNT(*) AS cnt,
               floor((CAST(SUM(CAST(floor((dist) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6)
                     / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_dist,
               MAX(dist) AS max_dist
        FROM dists GROUP BY label
    )
    SELECT s.label, s.cnt, s.mean_dist, s.max_dist,
           CAST(SUM(CASE WHEN d.dist > {OUTLIER_FACTOR} * s.mean_dist
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM stats s JOIN dists d ON s.label = d.label
    GROUP BY s.label, s.cnt, s.mean_dist, s.max_dist
"""


@register("label_centroid_outliers", oracle=_CENTROID_ORACLE)
def label_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-sample mining: per label, each vector's distance to
    its label centroid; vectors beyond {1.5}× the label's mean
    distance are flagged — the cheap geometric pass run before
    trusting labels for supervised fine-tuning. Everything is keyed
    by (label, dim) or (vec, label) — the (labels × dims) centroid
    frame broadcasts back onto the distance join; no pairwise
    vector-vector work anywhere. Means and distances are decimal-
    pinned at one quantize site each (the embedding_drift_epochs
    conventions)."""
    from automatic_etl_spark.functions import vectors as vec

    emb = table(spark, sf_dir, "embeddings", fan_out=False)
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(vec.to_double_array("embedding")).alias("pos", "val"),
    ).select(
        "vec_id", "label", (F.col("pos") + 1).alias("dim"), "val"
    )
    cent = ex.groupBy("label", "dim").agg(
        qround(
            F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mval")
    )
    dists = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            qround(
                F.sqrt(
                    F.sum(
                        qround(
                            (F.col("val") - F.col("mval"))
                            * (F.col("val") - F.col("mval")),
                            9,
                        ).cast("decimal(28,9)")
                    ).cast("double")
                )
            ).alias("dist")
        )
    ).localCheckpoint(eager=True)
    stats = dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        qround(
            (F.sum(F.floor((F.col("dist")) * F.lit(1e6) + F.lit(0.5)).cast("long")) / F.lit(1e6)).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_dist"),
        F.max("dist").alias("max_dist"),
    )
    return (
        dists.join(F.broadcast(stats), "label")
        .groupBy("label", "cnt", "mean_dist", "max_dist")
        .agg(
            F.sum(
                (F.col("dist") > OUTLIER_FACTOR * F.col("mean_dist")).cast(
                    "long"
                )
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )
