"""Oracle-checked plans for the text-analysis pack.

The DuckDB oracle SQL is GENERATED from the same constants
(``LANG_MARKERS`` etc.) that drive the Spark expressions, so the two
engines can't drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from automatic_etl_spark.functions import text as tx
from automatic_etl_spark.plans.dedup_plans import PLANT_OFFSET
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import _sql_hex_val, qround
from automatic_etl_spark.sources.parquet import table

# --- SQL mirrors of functions/text.py ---------------------------------------


def _sql_token_count(col: str) -> str:
    # empty tokens dropped, mirroring functions/text.py tokens()
    return (
        f"len(list_filter(regexp_split_to_array(trim({col}), '\\s+'),"
        f" x -> x <> ''))"
    )


def _sql_marker_hit(col: str, word: str) -> str:
    # mirror functions/text._marker_hit: CJK markers are substrings
    # (unsegmented script), others whole-word via space padding
    if tx._is_cjk_marker(word):
        return (
            f"CASE WHEN instr(lower({col}), '{word}') > 0 "
            f"THEN 1 ELSE 0 END"
        )
    return (
        f"CASE WHEN instr(' ' || lower({col}) || ' ', ' {word} ') > 0 "
        f"THEN 1 ELSE 0 END"
    )


def _sql_lang_score(col: str, lang: str) -> str:
    return " + ".join(_sql_marker_hit(col, w) for w in tx.LANG_MARKERS[lang])


def _sql_punct_count(col: str) -> str:
    return f"len(regexp_extract_all({col}, '[^\\w\\s]'))"


def _sql_lang_id_from_scores() -> str:
    """CASE over pre-computed score columns s_en..s_zh (see lang_id)."""
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in tx.LANG_ORDER) + ")"
    expr = "'unknown'"
    for lang in reversed(tx.LANG_ORDER):
        expr = (
            f"CASE WHEN s_{lang} > 0 AND s_{lang} = {best} "
            f"THEN '{lang}' ELSE {expr} END"
        )
    return expr


def _sql_quality_score(col: str) -> str:
    n_tok = f"CAST({_sql_token_count(col)} AS DOUBLE)"
    stop = f"CAST({_sql_lang_score(col, 'en')} AS DOUBLE)"
    punct = f"CAST({_sql_punct_count(col)} AS DOUBLE)"
    return (
        f"floor((0.4 * least({n_tok} / 100.0, 1.0)"
        f" + 0.3 * ({stop} / 4.0)"
        f" + 0.3 * (1.0 - least({punct} / greatest({n_tok}, 1.0), 1.0)))"
        f" * 1e6 + 0.5) / 1e6"
    )


_SQL_FINGERPRINT = (
    "substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16)"
)


# --- token counting ----------------------------------------------------------


@register(
    "token_stats",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS doc_cnt,
               CAST(SUM({_sql_token_count('text')}) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}'))) AS BIGINT)
                   AS bpe_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=False)
    return docs.groupBy("lang").agg(
        F.count("*").alias("doc_cnt"),
        F.sum(tx.token_count("text")).alias("ws_tokens"),
        F.sum(tx.bpe_token_count("text")).alias("bpe_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# --- language identification -------------------------------------------------


@register(
    "lang_id_confusion",
    oracle=f"""
        WITH scored AS (
            SELECT lang,
                   {", ".join(f"{_sql_lang_score('text', lang)} AS s_{lang}"
                              for lang in tx.LANG_ORDER)}
            FROM documents
        )
        SELECT lang, {_sql_lang_id_from_scores()} AS predicted,
               COUNT(*) AS cnt
        FROM scored GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.lang_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("cnt"))
    )


# --- quality scoring ---------------------------------------------------------


@register(
    "quality_histogram",
    oracle=f"""
        WITH scored AS (
            SELECT source, {_sql_quality_score('text')} AS q FROM documents
        )
        SELECT source,
               CAST(floor(q * 10) AS BIGINT) AS bucket,
               COUNT(*) AS cnt,
               (CAST(SUM(CAST(floor((q) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) AS q_total
        FROM scored GROUP BY 1, 2
    """,
)
def quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    q = tx.quality_score("text")
    return (
        docs.select("source", q.alias("q"))
        .groupBy(
            "source", F.floor(F.col("q") * 10).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("cnt"),
            (F.sum(F.floor((F.col("q")) * F.lit(1e6) + F.lit(0.5)).cast("long")) / F.lit(1e6)).cast("double").alias("q_total"),
        )
    )


# --- fingerprinting ----------------------------------------------------------
# Duplicate docs are constructed (every 10th doc re-appended under a
# shifted id) so the fingerprint groups are non-trivial.


@register(
    "fingerprint_stats",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < {PLANT_OFFSET}
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id, text
            FROM documents WHERE doc_id % 10 = 0 AND doc_id < {PLANT_OFFSET}
        ), fp AS (
            SELECT doc_id, {_SQL_FINGERPRINT} AS fingerprint FROM corpus
        ), groups AS (
            SELECT fingerprint, COUNT(*) AS sz, MIN(doc_id) AS keeper
            FROM fp GROUP BY fingerprint
        )
        SELECT COUNT(*) AS distinct_docs,
               CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
               CAST(SUM(sz - 1) AS BIGINT) AS removable_rows,
               CAST(SUM(keeper) AS BIGINT) AS keeper_id_total
        FROM groups
    """,
)
def fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_id < PLANT_OFFSET clamp: planted ids must never collide with
    # real ones at any table size (see dedup_plans.PLANT_OFFSET).
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < PLANT_OFFSET)
    )
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text"
        )
    )
    groups = (
        corpus.select(tx.doc_fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("sz"), F.min("doc_id").alias("keeper"))
    )
    return groups.agg(
        F.count("*").alias("distinct_docs"),
        F.sum((F.col("sz") > 1).cast("int")).alias("dup_groups"),
        F.sum(F.col("sz") - 1).alias("removable_rows"),
        F.sum("keeper").alias("keeper_id_total"),
    )


# --- TF-IDF top terms --------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle="""
        WITH toks AS (
            SELECT lang, doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       x -> x <> '')) AS term
            FROM documents
        ),
        term_stats AS (
            SELECT lang, term, COUNT(*) AS total_tf,
                   COUNT(DISTINCT doc_id) AS df
            FROM toks GROUP BY 1, 2
        ),
        nl AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        scored AS (
            SELECT t.lang, term, total_tf, df,
                   floor(total_tf * ln(1.0 + CAST(n_docs AS DOUBLE) / df)
                         * 1e6 + 0.5) / 1e6
                       AS score
            FROM term_stats t JOIN nl USING (lang)
        )
        SELECT lang, term, total_tf, df, score
        FROM scored
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY score DESC, term ASC
        ) <= 5
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 corpus terms per language by TF-IDF. Determinism: tf and
    df reduce to INTEGER aggregates, so the one double op (ln) happens
    exactly once per term on identical inputs in both engines; the
    score is rounded before ranking and ties break on the term.
    Scale shape: explode → one (lang, term) aggregation with map-side
    partial agg, a broadcast of the per-lang doc counts, and a per-lang
    top-N window (WindowGroupLimit prunes to 5 per partition before the
    final shuffle)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents", fan_out=False)
    toks = docs.select(
        "lang", "doc_id", F.explode(tx.tokens("text")).alias("term")
    )
    term_stats = toks.groupBy("lang", "term").agg(
        F.count("*").alias("total_tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    n_docs = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    scored = term_stats.join(F.broadcast(n_docs), "lang").select(
        "lang",
        "term",
        "total_tf",
        "df",
        qround(
            F.col("total_tf")
            * F.log(1.0 + F.col("n_docs").cast("double") / F.col("df"))
        ).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# --- stratified train/valid/test split ---------------------------------------


_SQL_SPLIT_BUCKET = (
    "(("
    + _sql_hex_val("substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 1)")
    + ") * 16 + ("
    + _sql_hex_val("substr(md5('split|' || CAST(doc_id AS VARCHAR)), 2, 1)")
    + ")) % 10"
)


@register(
    "stratified_split",
    oracle=f"""
        WITH assigned AS (
            SELECT lang, text,
                   CASE WHEN {_SQL_SPLIT_BUCKET} < 8 THEN 'train'
                        WHEN {_SQL_SPLIT_BUCKET} = 8 THEN 'valid'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT lang, split, COUNT(*) AS doc_cnt,
               CAST(SUM({_sql_token_count('text')}) AS BIGINT) AS ws_tokens
        FROM assigned GROUP BY 1, 2
    """,
)
def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split for training export: the
    assignment hashes ONLY the stable doc_id (salted md5 → bucket %10,
    80/10/10), so it is reproducible across runs, engines, and
    repartitioning — no sample()/rand() nondeterminism — and any later
    re-ingest of the same ids lands in the same split. Stratification
    falls out per language because the hash is independent of lang.
    Scale shape: pure narrow map + one aggregation; the split column
    also works as a partition key for the export write."""
    docs = table(spark, sf_dir, "documents", fan_out=False)
    h = tx.md5_hex(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
    bucket = (
        tx.hex_val(F.substring(h, 1, 1)) * 16
        + tx.hex_val(F.substring(h, 2, 1))
    ) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "valid").otherwise("test")
    )
    return (
        docs.select("lang", "text", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("doc_cnt"),
            F.sum(tx.token_count("text")).alias("ws_tokens"),
        )
    )


# --- the curation funnel (end-to-end training-data pipeline) ----------------

QUALITY_THRESHOLD = 0.5


@register(
    "curation_funnel",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, lang, text FROM documents
            WHERE doc_id < {PLANT_OFFSET}
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id, lang, text
            FROM documents WHERE doc_id % 10 = 0 AND doc_id < {PLANT_OFFSET}
        ),
        scored AS (
            SELECT doc_id, lang, text,
                   {_sql_quality_score('text')} AS q,
                   {_SQL_FINGERPRINT} AS fp
            FROM corpus
        ),
        quality AS (
            SELECT * FROM scored WHERE q >= {QUALITY_THRESHOLD}
        ),
        deduped AS (
            SELECT * FROM quality
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY fp ORDER BY doc_id ASC
            ) = 1
        )
        SELECT lang,
               COUNT(*) AS kept_docs,
               CAST(SUM({_sql_token_count('text')}) AS BIGINT) AS ws_tokens,
               CAST(SUM(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}'))) AS BIGINT)
                   AS bpe_tokens,
               (CAST(SUM(CAST(floor((q) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) AS quality_total
        FROM deduped GROUP BY lang
    """,
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline as ONE lazy plan:
    corpus (with planted duplicates) → quality-score filter → exact
    near-dup removal (fingerprint, keep lowest doc_id) → per-language
    token accounting. Scale shape: one scan, one window shuffle on the
    fingerprint, one final aggregation — the funnel never materializes
    intermediates."""
    from pyspark.sql import Window

    docs = (
        table(spark, sf_dir, "documents", fan_out=False)
        .select("doc_id", "lang", "text")
        .filter(F.col("doc_id") < PLANT_OFFSET)
    )
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "lang", "text"
    )
    corpus = docs.unionByName(planted)
    scored = corpus.select(
        "doc_id",
        "lang",
        "text",
        tx.quality_score("text").alias("q"),
        tx.doc_fingerprint("text").alias("fp"),
    ).filter(F.col("q") >= QUALITY_THRESHOLD)
    w = Window.partitionBy("fp").orderBy(F.asc("doc_id"))
    deduped = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("kept_docs"),
        F.sum(tx.token_count("text")).alias("ws_tokens"),
        F.sum(tx.bpe_token_count("text")).alias("bpe_tokens"),
        (F.sum(F.floor((F.col("q")) * F.lit(1e6) + F.lit(0.5)).cast("long")) / F.lit(1e6)).cast("double").alias(
            "quality_total"
        ),
    )


# --- Gopher-style rule battery -----------------------------------------------
# Published pretraining pipelines gate documents on an explicit rule
# battery BEFORE any learned scoring (Gopher, Rae et al. 2021, Table
# A1; reused by MassiveText/FineWeb). The single quality_score above
# is the blended heuristic; this reports each rule separately so a
# corpus owner can see WHICH gate kills their documents per source.
# Thresholds are scaled to the synthetic fixtures; the rule SHAPES
# are the published ones.

GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 5, 1000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 2.0, 12.0   # mean word length bounds
GOPHER_MAX_SYMBOL_RATIO = 0.1                # '#' & '...' per word
GOPHER_MIN_ALPHA_FRAC = 0.7                  # words with a letter
GOPHER_MIN_STOPWORDS = 2                     # distinct EN markers

_SQL_GWORDS = (
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
    " x -> x <> '')"
)

_GOPHER_ORACLE = f"""
    WITH scored AS (
        SELECT source,
               CAST(len({_SQL_GWORDS}) AS BIGINT) AS n,
               CAST(list_sum(list_transform({_SQL_GWORDS}, w -> len(w)))
                    AS BIGINT) AS sumlen,
               CAST(len(list_filter({_SQL_GWORDS},
                    w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha,
               CAST(len(regexp_extract_all(text, '#')) AS BIGINT)
                   + CAST(len(regexp_extract_all(text, '\\.\\.\\.'))
                          AS BIGINT) AS symbols,
               CAST({_sql_lang_score('text', 'en')} AS BIGINT) AS stops
        FROM documents
    ),
    flags AS (
        SELECT source,
               CASE WHEN n BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                    THEN 1 ELSE 0 END AS ok_words,
               CASE WHEN CAST(sumlen AS DOUBLE) / greatest(n, 1)
                         BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
                    THEN 1 ELSE 0 END AS ok_mwl,
               CASE WHEN CAST(symbols AS DOUBLE) / greatest(n, 1)
                         < {GOPHER_MAX_SYMBOL_RATIO}
                    THEN 1 ELSE 0 END AS ok_symbols,
               CASE WHEN CAST(alpha AS DOUBLE) / greatest(n, 1)
                         > {GOPHER_MIN_ALPHA_FRAC}
                    THEN 1 ELSE 0 END AS ok_alpha,
               CASE WHEN stops >= {GOPHER_MIN_STOPWORDS}
                    THEN 1 ELSE 0 END AS ok_stopwords
        FROM scored
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(ok_words) AS BIGINT) AS pass_word_count,
           CAST(SUM(ok_mwl) AS BIGINT) AS pass_mean_word_len,
           CAST(SUM(ok_symbols) AS BIGINT) AS pass_symbol_ratio,
           CAST(SUM(ok_alpha) AS BIGINT) AS pass_alpha_frac,
           CAST(SUM(ok_stopwords) AS BIGINT) AS pass_stopwords,
           CAST(SUM(ok_words * ok_mwl * ok_symbols * ok_alpha
                    * ok_stopwords) AS BIGINT) AS pass_all,
           floor(CAST(SUM(ok_words * ok_mwl * ok_symbols * ok_alpha
                          * ok_stopwords) AS DOUBLE) / COUNT(*)
                 * 1e6 + 0.5) / 1e6
               AS pass_rate
    FROM flags GROUP BY source
"""


@register("gopher_rules_report", oracle=_GOPHER_ORACLE)
def gopher_rules_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source pass counts for the five Gopher quality gates (word
    count bounds, mean word length bounds, symbol-to-word ratio,
    alphabetic-word fraction, stopword presence) plus the all-rules
    conjunction and its pass rate.

    Every rule is a pure Column expression over the shared lowercased
    whitespace tokenization (functions/text.py tokens()) — array
    higher-order functions, zero UDFs — so the whole battery is one
    narrow map fused into WholeStageCodegen followed by ONE source-
    keyed aggregate. Ratio comparisons divide as double with the
    identical guard (greatest(n,1)) on both engines; indicators are
    integers thereafter, so the aggregate is exact."""
    docs = table(spark, sf_dir, "documents", fan_out=False)
    words = tx.tokens("text")
    n = F.size(words).cast("bigint")
    sumlen = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    alpha = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ).cast("bigint")
    symbols = (
        F.regexp_count(F.col("text"), F.lit("#"))
        + F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
    ).cast("bigint")
    stops = tx.lang_score("text", "en").cast("bigint")
    guard = F.greatest(n, F.lit(1)).cast("double")

    def ind(cond) -> Column:
        return F.coalesce(cond.cast("long"), F.lit(0))

    flags = docs.select(
        "source",
        ind(n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)).alias("ok_words"),
        ind(
            (sumlen.cast("double") / guard).between(
                GOPHER_MIN_MWL, GOPHER_MAX_MWL
            )
        ).alias("ok_mwl"),
        ind(
            (symbols.cast("double") / guard) < GOPHER_MAX_SYMBOL_RATIO
        ).alias("ok_symbols"),
        ind(
            (alpha.cast("double") / guard) > GOPHER_MIN_ALPHA_FRAC
        ).alias("ok_alpha"),
        ind(stops >= GOPHER_MIN_STOPWORDS).alias("ok_stopwords"),
    )
    pass_all = F.sum(
        F.col("ok_words") * F.col("ok_mwl") * F.col("ok_symbols")
        * F.col("ok_alpha") * F.col("ok_stopwords")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok_words").cast("bigint").alias("pass_word_count"),
        F.sum("ok_mwl").cast("bigint").alias("pass_mean_word_len"),
        F.sum("ok_symbols").cast("bigint").alias("pass_symbol_ratio"),
        F.sum("ok_alpha").cast("bigint").alias("pass_alpha_frac"),
        F.sum("ok_stopwords").cast("bigint").alias("pass_stopwords"),
        pass_all.cast("bigint").alias("pass_all"),
        qround(
            pass_all.cast("double") / F.count(F.lit(1))
        ).alias("pass_rate"),
    )
