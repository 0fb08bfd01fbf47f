"""Text-analysis functions for training-data pipelines (SURVEY.md §7
Phase 7 — beyond-reference scale ops over the ``documents`` table).

All pure ``Column`` expressions (JVM-side, codegen-friendly): language
ID via marker-word heuristic, quality scoring, token counting,
fingerprinting, shingling. Every function here has a 1:1 ANSI-SQL
mirror used by the oracle plans, so semantics stay locked across
engines.

Scale notes: everything is per-row (embarrassingly parallel, no
shuffle); shingling explodes ~tokens-per-doc rows per document, so
downstream aggregations use map-side partial min/sum combines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from automatic_etl_spark.functions.quantize import qround

# Marker words per language — whole-word presence scored 0..4. Chosen
# to be disjoint across languages so the argmax is stable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "with"),
    "es": ("el", "que", "los", "una"),
    "de": ("der", "und", "nicht", "das"),
    "fr": ("et", "les", "dans", "une"),
    "zh": ("的", "是", "在", "了"),
}
# Precedence for argmax ties (first wins) — pinned for determinism.
LANG_ORDER = ("en", "es", "de", "fr", "zh")

BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of the lowercased text; empty/blank text → [].

    Empty strings from leading/trailing separators are dropped so the
    semantics match Python's ``str.split()`` (``trim`` strips only
    0x20; a leading ``\\t`` would otherwise yield a phantom ''
    token — found by the hypothesis property tests)."""
    t = F.trim(F.lower(_col(c)))
    return F.array_remove(F.split(t, r"\s+"), "")


def token_count(c: Column | str) -> Column:
    """Whitespace token count (the reference-free baseline tokenizer)."""
    t = F.trim(_col(c))
    return F.size(F.array_remove(F.split(t, r"\s+"), ""))


def bpe_token_count(c: Column | str) -> Column:
    """BPE-ish token count: letter runs, single digits, punctuation —
    a cheap, deterministic proxy for subword tokenizers."""
    return F.regexp_count(_col(c), F.lit(BPE_ISH_PATTERN))


def _is_cjk_marker(word: str) -> bool:
    return any(ord(ch) >= 0x2E80 for ch in word)


def _marker_hit(c: Column, word: str) -> Column:
    # CJK markers match as SUBSTRINGS: Chinese is unsegmented, so a
    # space-padded whole-word probe can never hit (the zh markers were
    # dead code until r7). Space-delimited scripts keep the padded
    # whole-word match so 'the' does not fire inside 'theme'.
    if _is_cjk_marker(word):
        return (F.instr(F.lower(c), word) > 0).cast("int")
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    return (F.instr(padded, f" {word} ") > 0).cast("int")


def lang_score(c: Column | str, lang: str) -> Column:
    """0..4: how many of the language's marker words appear."""
    col = _col(c)
    score = F.lit(0)
    for word in LANG_MARKERS[lang]:
        score = score + _marker_hit(col, word)
    return score


def lang_id(c: Column | str) -> Column:
    """Argmax language over marker scores; all-zero → 'unknown'.

    Ties resolve by LANG_ORDER precedence (deterministic).
    """
    col = _col(c)
    scores = {lang: lang_score(col, lang) for lang in LANG_ORDER}
    best = F.greatest(*scores.values())
    expr = F.lit("unknown")
    # Build the CASE from lowest precedence up so earlier languages win.
    for lang in reversed(LANG_ORDER):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def punct_count(c: Column | str) -> Column:
    return F.regexp_count(_col(c), F.lit(r"[^\w\s]"))


def quality_score(c: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length, stopword ratio,
    punctuation density. Floor-quantized at 6 decimals (both engines
    compute identical doubles; qround is bit-identical cross-engine
    where native round is not)."""
    col = _col(c)
    n_tok = token_count(col).cast("double")
    stop_hits = lang_score(col, "en").cast("double")
    punct = punct_count(col).cast("double")
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (stop_hits / F.lit(4.0))
        + F.lit(0.3)
        * (F.lit(1.0) - F.least(punct / F.greatest(n_tok, F.lit(1.0)), F.lit(1.0)))
    )
    return qround(score)


def md5_hex(c: Column | str) -> Column:
    """md5 over UTF-8 bytes — explicit encode keeps ANSI happy and
    matches DuckDB's md5(VARCHAR)."""
    return F.md5(F.encode(_col(c), "UTF-8"))


def hex_val(digit: Column) -> Column:
    """Lowercase hex digit → 0..15 via ascii arithmetic (portable: no
    conv()/from_hex divergence between engines; the DuckDB mirror is
    ``plans.relational._sql_hex_val``)."""
    return F.when(digit.between("0", "9"), F.ascii(digit) - 48).otherwise(
        F.ascii(digit) - 87
    )


def doc_fingerprint(c: Column | str, length: int = 16) -> Column:
    """Content fingerprint: md5-prefix of the normalized text."""
    normalized = F.regexp_replace(F.trim(F.lower(_col(c))), r"\s+", " ")
    return F.substring(md5_hex(normalized), 1, length)


def _bind_array(arr: Column, body) -> Column:
    """Evaluate ``arr`` ONCE per row and hand it to ``body`` as a bound
    lambda variable.

    Spark's interpreted higher-order-function path re-evaluates any
    non-lambda-variable subtree referenced inside a lambda on EVERY
    element — an n-gram transform that mentions ``tokens(text)`` per
    element re-runs the whole trim/lower/regexp-split per gram slot
    (measured 8-9x on the sf0.1 shingle explode). Wrapping the
    expression as ``transform(array(arr), a -> body(a))[0]`` binds it
    to a lambda variable, which IS evaluated once and shared."""
    return F.get(F.transform(F.array(arr), body), 0)


def _gram_join(toks: Column, n: int) -> Column:
    count = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), count - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )
    return F.when(count >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(c: Column | str, n: int = 2) -> Column:
    """ALL n-gram (word) sequences in order, duplicates kept — the
    repetition-analysis primitive (``shingles`` dedups; repetition
    scoring needs the multiplicity)."""
    return _bind_array(tokens(c), lambda toks: _gram_join(toks, n))


def shingles(c: Column | str, n: int = 3) -> Column:
    """Distinct n-gram (word) shingles as an array column."""
    return _bind_array(
        tokens(c), lambda toks: F.array_distinct(_gram_join(toks, n))
    )
