"""Property-based tests (hypothesis) for the cleaning expression
library — beyond the reference's fixture-only strategy (SURVEY.md §5):
each property batches every generated example into ONE DataFrame pass,
and asserts the vectorized Column expressions against a pure-Python
model of the reference semantics.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from automatic_etl_spark.functions import cleaning as cl

PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# Mixed garbage: sentinels, int/float text, raw text.
int_like = st.one_of(
    st.sampled_from(list(cl.NULL_SENTINELS)),
    st.integers(min_value=-(2**40), max_value=2**40).map(str),
    st.integers(min_value=-(2**31), max_value=2**31).map(lambda i: f"{i}.0"),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=12,
    ),
)


import re as _re

_NUMERIC_TEXT = _re.compile(cl.NUMERIC_TEXT_PATTERN)


def _expected_clean_integer(s: str, pk: bool) -> int | None:
    t = s.strip()
    out = None
    # The model enforces the SAME pinned numeric-text contract as the
    # engine (cl.NUMERIC_TEXT_PATTERN) — NOT Python's float(), which
    # accepts a wider set ('1_0', 'inf', '0x..'-adjacent forms) than
    # either Spark's guarded cast or DuckDB. The hypothesis sweep
    # found Spark's raw cast parsing '0d' (Java suffix form) → 0; the
    # gate nulls it on both sides now.
    if t not in cl.NULL_SENTINELS and _NUMERIC_TEXT.match(t):
        d = float(t)
        if math.isfinite(d) and d == math.floor(d):
            i = int(math.floor(d))
            # try_cast(long) nulls outside int64
            if -(2**63) <= i <= 2**63 - 1:
                out = i
    return (0 if out is None else out) if pk else out


@PROP
@given(values=st.lists(int_like, min_size=1, max_size=60), pk=st.booleans())
def test_clean_integers_matches_python_model(spark, values, pk):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    got = [
        r["c"]
        for r in df.select(cl.clean_integers("raw", pk=pk).alias("c")).collect()
    ]
    assert got == [_expected_clean_integer(v, pk) for v in values]


@PROP
@given(values=st.lists(st.text(max_size=40), min_size=1, max_size=60))
def test_normalize_strings_idempotent_and_clean(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    once = cl.normalize_strings("raw")
    twice = cl.normalize_strings(once)
    rows = df.select(once.alias("a"), twice.alias("b")).collect()
    for r in rows:
        assert r["a"] == r["b"]  # idempotent
        if r["a"] is not None:
            assert r["a"] == r["a"].strip()
            assert "  " not in r["a"]
            assert not any(ord(ch) < 0x20 or 0x7F <= ord(ch) <= 0x9F for ch in r["a"])
            assert r["a"] != ""


@PROP
@given(
    years=st.lists(st.integers(min_value=0, max_value=9999), min_size=1, max_size=60)
)
def test_sanitize_dates_year_range(spark, years):
    dates = [f"{y:04d}-06-15" for y in years]
    df = spark.createDataFrame([(d,) for d in dates], "raw string")
    got = [
        r["c"] for r in df.select(cl.sanitize_dates("raw").alias("c")).collect()
    ]
    for y, ts in zip(years, got):
        if 1901 <= y <= 2099:
            assert ts is not None and ts.year == y
            assert (ts.hour, ts.minute, ts.second) == (0, 0, 0)
        else:
            assert ts is None


@PROP
@given(
    values=st.lists(
        st.floats(allow_nan=True, allow_infinity=True), min_size=1, max_size=60
    )
)
def test_clean_floats_and_clamp(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "raw double")
    rows = df.select(
        cl.clean_floats("raw").alias("f"),
        cl.clamp_numeric(F.col("raw"), "Int16").alias("clamped"),
    ).collect()
    for v, r in zip(values, rows):
        if math.isnan(v) or math.isinf(v):
            assert r["f"] is None
        else:
            assert r["f"] == v
            assert -32768 <= r["clamped"] <= 32767


@PROP
@given(values=st.lists(int_like, min_size=1, max_size=60))
def test_clean_floats_from_text_matches_model(spark, values):
    """Raw-text float coercion obeys the pinned numeric-text contract:
    conforming text parses, everything else (suffix forms, underscores,
    inf spellings) nulls — identically to the Python model below."""
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    got = [
        r["f"]
        for r in df.select(
            cl.clean_floats("raw", from_text=True).alias("f")
        ).collect()
    ]
    expected = []
    for v in values:
        t = v.strip()
        out = None
        if _NUMERIC_TEXT.match(t):
            d = float(t)
            if math.isfinite(d):
                out = d
        expected.append(out)
    assert got == expected


@PROP
@given(values=st.lists(st.text(max_size=20), min_size=1, max_size=40))
def test_zero_dates_and_sentinels_always_null(spark, values):
    payload = list(cl.ZERO_DATES) + list(cl.NULL_SENTINELS) + values
    df = spark.createDataFrame([(v,) for v in payload], "raw string")
    got = [
        r["c"] for r in df.select(cl.sanitize_dates("raw").alias("c")).collect()
    ]
    for v, ts in zip(payload, got):
        if v.strip() in cl.ZERO_DATES or v.strip() in cl.NULL_SENTINELS:
            assert ts is None


# --- dedup: latest_version vs a pure-Python model ----------------------------

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),        # key
        st.one_of(st.none(), st.integers(min_value=0, max_value=20)),  # version
        st.integers(min_value=0, max_value=10**6),     # tiebreak id (unique-ish)
        st.text(max_size=5),                           # payload
    ),
    min_size=1,
    max_size=80,
)


def _expected_latest(rows):
    best = {}
    for k, v, i, p in rows:
        cur = best.get(k)
        # DESC NULLS LAST on version, then ASC on id
        cand_rank = ((v is None), -(v if v is not None else 0), i)
        if cur is None or cand_rank < cur[0]:
            best[k] = (cand_rank, (k, v, i, p))
    return sorted(r for _, r in best.values())


@PROP
@given(rows=rows_strategy)
def test_latest_version_matches_python_model(spark, rows):
    from automatic_etl_spark.operators.dedup import latest_version

    # make tiebreak ids unique so the expected winner is well-defined
    rows = [(k, v, i * 100 + n, p) for n, (k, v, i, p) in enumerate(rows)]
    df = spark.createDataFrame(
        rows, "k long, version long, id long, payload string"
    )
    got = sorted(
        (r["k"], r["version"], r["id"], r["payload"])
        for r in latest_version(df, ["k"], ["version"], ("id",)).collect()
    )
    assert got == _expected_latest(rows)


# --- text: token_count / fingerprint determinism ------------------------------


@PROP
@given(values=st.lists(st.text(max_size=30), min_size=1, max_size=50))
def test_token_count_matches_python_split(spark, values):
    from automatic_etl_spark.functions import text as tx

    df = spark.createDataFrame([(v,) for v in values], "raw string")
    got = [
        r["c"] for r in df.select(tx.token_count("raw").alias("c")).collect()
    ]
    for v, n in zip(values, got):
        expected = len([t for t in v.strip().lower().split() if t])
        # tokens() splits on ASCII \s+ after trim/lower; python split()
        # is unicode-aware, so only assert on ASCII-space inputs
        if all((not ch.isspace()) or ch in " \t\n\r\x0b\x0c" for ch in v):
            assert n == expected, (v, n, expected)


# --- as-of join vs a pure-Python model ---------------------------------------

asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=0, max_value=50),  # ts
        st.integers(min_value=0, max_value=99),  # val
    ),
    min_size=1,
    max_size=40,
)


@PROP
@given(left=asof_rows, right=asof_rows)
def test_as_of_join_matches_python_model(spark, left, right):
    from automatic_etl_spark.operators.asof import as_of_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _) in enumerate(left)], "k long, ts long, lid long"
    )
    rdf = spark.createDataFrame(right, "k long, ts long, val long")
    got = {
        r["lid"]: (r["right_ts"], r["right_val"])
        for r in as_of_join(ldf, rdf, keys=["k"]).collect()
    }

    def model(k, t):
        cand = [(rt, v) for rk, rt, v in right if rk == k and rt <= t]
        # ties on ts resolve to the max payload (struct-order tiebreak)
        return max(cand) if cand else (None, None)

    for i, (k, t, _) in enumerate(left):
        assert got[i] == model(k, t), (i, k, t, got[i], model(k, t))


# --- count-min sketch: never undercounts, mass conserved ----------------------


@PROP
@given(
    keys=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=120)
)
def test_countmin_never_undercounts(spark, keys):
    from collections import Counter

    from automatic_etl_spark.operators import sketch as sk

    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    cms = sk.build_sketch(df, "user_id")
    # per-row mass conservation: every sketch row holds all |keys| rows
    per_row = {
        r["row"]: r["total"]
        for r in cms.groupBy("row").agg(F.sum("cnt").alias("total")).collect()
    }
    assert all(v == len(keys) for v in per_row.values())

    probes = df.distinct()
    est = {
        r["user_id"]: r["est_cnt"]
        for r in sk.estimate_counts(cms, probes, "user_id").collect()
    }
    true = Counter(keys)
    for k, t in true.items():
        assert est[k] >= t  # the CMS guarantee


def test_countmin_width_depth_sweep(spark):
    """Sweep the sketch shape: the CMS guarantee (never undercount) and
    per-row mass conservation must hold at EVERY (depth, width), and
    estimates must be monotonically non-increasing in depth (more hash
    rows → min over a superset → tighter), with width fixed."""
    from collections import Counter

    from automatic_etl_spark.operators import sketch as sk

    keys = [i * i % 37 for i in range(300)]  # skewed, deterministic
    true = Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    probes = df.distinct()

    for width in (16, 64, 256):
        prev_est = None
        for depth in (1, 2, 4):
            cms = sk.build_sketch(df, "user_id", depth=depth, width=width)
            rows = cms.collect()
            assert all(r["bucket"] < width for r in rows)
            per_row = Counter()
            for r in rows:
                per_row[r["row"]] += r["cnt"]
            assert all(v == len(keys) for v in per_row.values())
            est = {
                r["user_id"]: r["est_cnt"]
                for r in sk.estimate_counts(
                    cms, probes, "user_id", depth=depth, width=width
                ).collect()
            }
            for k, t in true.items():
                assert est[k] >= t, (width, depth, k)
                if prev_est is not None:
                    assert est[k] <= prev_est[k], (width, depth, k)
            prev_est = est


# --- text near-dup suite vs pure-Python models -------------------------------

_VOCAB = ["alpha", "beta", "gamma", "delta"]
_doc_strategy = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=10).map(" ".join),
    min_size=1,
    max_size=8,
)


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@PROP
@given(texts=_doc_strategy)
def test_jaccard_pairs_matches_python_model(spark, texts):
    from automatic_etl_spark.operators import text_dedup as td

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in td.jaccard_pairs(td.shingle_rows(docs)).collect()
    }
    sets = [_py_shingles(t) for t in texts]
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            inter = len(sets[i] & sets[j])
            if inter:
                want[(i, j)] = inter / len(sets[i] | sets[j])
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v)


@PROP
@given(texts=_doc_strategy)
def test_lsh_candidates_catch_identical_docs(spark, texts):
    """LSH soundness on the certain cases: identical shingle sets →
    identical MinHash signatures → every band collides, so the pair
    MUST be a candidate; and the candidate-driven Jaccard must agree
    with the exact all-pairs baseline on the candidate subset."""
    from automatic_etl_spark.operators import text_dedup as td

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = td.shingle_rows(docs)
    sigs = td.minhash_signatures(sh)
    cands = td.lsh_candidate_pairs(sigs)
    got_pairs = {(r["a_id"], r["b_id"]) for r in cands.collect()}

    sets = [_py_shingles(t) for t in texts]
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if sets[i] and sets[i] == sets[j]:
                assert (i, j) in got_pairs, (i, j, texts[i])

    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in td.jaccard_pairs(sh).collect()
    }
    via_cands = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in td.jaccard_pairs(sh, candidates=cands).collect()
    }
    for k, v in via_cands.items():
        assert exact[k] == pytest.approx(v)


@PROP
@given(texts=_doc_strategy)
def test_simhash_matches_python_model(spark, texts):
    import hashlib

    from automatic_etl_spark.operators import text_dedup as td

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in td.simhash16(docs).collect()}

    want = {}
    for i, t in enumerate(texts):
        toks = set(t.lower().split())
        if not toks:
            continue  # explode of an empty token array drops the doc
        bits = []
        for d in range(16):
            vote = 0
            for tok in toks:
                h = hashlib.md5(tok.encode()).hexdigest()
                vote += 1 if int(h[d], 16) % 2 == 1 else -1
            bits.append("1" if vote > 0 else "0")
        want[i] = "".join(bits)
    assert got == want


# --- TF-IDF vs a pure-Python model --------------------------------------------


@PROP
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=8).map(
                " ".join
            ),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_tfidf_matches_python_model(spark, docs):
    """The per-language top-5 TF-IDF ranking must match a pure-Python
    tf/df/ln model (same rounding, same score-desc/term-asc order)."""
    import math

    import pandas as pd

    from automatic_etl_spark.plans.all_plans import REGISTRY

    # single-FILE parquet, like the fixtures sources/parquet.table expects
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [t for _, t in docs],
            "lang": [l for l, _ in docs],
            "source": "src",
            "n_chars": [len(t) for _, t in docs],
        }
    )
    from automatic_etl_spark.scratch import scratch_dir

    d = scratch_dir("t_tfidf_prop")
    pdf.to_parquet(f"{d}/documents.parquet", index=False)

    got = {
        (r["lang"], r["term"]): (r["total_tf"], r["df"], r["score"])
        for r in REGISTRY["tfidf_top_terms"][0](spark, d).collect()
    }

    want = {}
    for lang in {l for l, _ in docs}:
        texts = [t for l, t in docs if l == lang]
        n_docs = len(texts)
        stats = {}
        for t in texts:
            toks = t.lower().split()
            for tok in toks:
                tf, dfc = stats.get(tok, (0, 0))
                stats[tok] = (tf + 1, dfc)
            for tok in set(toks):
                tf, dfc = stats[tok]
                stats[tok] = (tf, dfc + 1)
        scored = [
            (term, tf, dfc, round(tf * math.log(1.0 + n_docs / dfc), 6))
            for term, (tf, dfc) in stats.items()
        ]
        scored.sort(key=lambda x: (-x[3], x[0]))
        for term, tf, dfc, score in scored[:5]:
            want[(lang, term)] = (tf, dfc, score)

    assert set(got) == set(want)
    for k, (tf, dfc, score) in want.items():
        assert got[k][0] == tf and got[k][1] == dfc
        assert got[k][2] == pytest.approx(score, abs=1e-9)


# --- stratified split: assignment is a pure function of doc_id ---------------


@PROP
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=80,
        unique=True,
    ),
    parts=st.integers(min_value=1, max_value=4),
)
def test_split_bucket_matches_python_model(spark, ids, parts):
    """The split bucket must depend ONLY on doc_id — same value under
    any partitioning — and match the salted-md5 Python model exactly
    (this is what makes re-ingests land in the same split)."""
    import hashlib

    from automatic_etl_spark.functions import text as tx

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long").repartition(
        parts
    )
    h = tx.md5_hex(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
    bucket = (
        tx.hex_val(F.substring(h, 1, 1)) * 16 + tx.hex_val(F.substring(h, 2, 1))
    ) % 10
    got = {
        r["doc_id"]: r["b"] for r in df.select("doc_id", bucket.alias("b")).collect()
    }
    for i in ids:
        hx = hashlib.md5(f"split|{i}".encode()).hexdigest()
        assert got[i] == (int(hx[0], 16) * 16 + int(hx[1], 16)) % 10


# --- range join vs a pure-Python model ---------------------------------------


@PROP
@given(
    points=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=40),
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=15,
    ),
    width=st.integers(min_value=1, max_value=20),
)
def test_range_join_matches_python_model(spark, points, intervals, width):
    from automatic_etl_spark.operators.rangejoin import range_join

    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid long, p long"
    )
    idf = spark.createDataFrame(
        [(j, s, s + ln) for j, (s, ln) in enumerate(intervals)],
        "iid long, s long, e long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pdf, idf, "p", "s", "e", bin_width=width).collect()
    )
    expected = sorted(
        (i, j)
        for i, p in enumerate(points)
        for j, (s, ln) in enumerate(intervals)
        if s <= p < s + ln
    )
    assert got == expected


# --- sessionization vs a pure-Python model -----------------------------------


@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # user
            st.integers(min_value=0, max_value=7200),  # ts seconds
        ),
        min_size=1,
        max_size=60,
    ),
    gap=st.integers(min_value=60, max_value=3600),
)
def test_session_count_matches_python_model(spark, rows, gap):
    from pyspark.sql import Window

    rows = [(u, t, i) for i, (u, t) in enumerate(rows)]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = F.col("ts") - F.lag("ts").over(w)
    new_session = F.when(g.isNull() | (g > gap), 1).otherwise(0)
    got = (
        df.select("user_id", new_session.alias("ns"))
        .groupBy("user_id")
        .agg(F.sum("ns").alias("sessions"))
    )
    got = {r["user_id"]: r["sessions"] for r in got.collect()}

    expected = {}
    by_user: dict = {}
    for u, t, i in rows:
        by_user.setdefault(u, []).append((t, i))
    for u, ts in by_user.items():
        ts.sort()
        n = 1
        for (prev, _), (cur, _) in zip(ts, ts[1:]):
            if cur - prev > gap:
                n += 1
        expected[u] = n
    assert got == expected


# --- word_ngrams (curation repetition primitive) ------------------------------

_word = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122),
    min_size=1,
    max_size=6,
)
_doc = st.lists(_word, min_size=0, max_size=20).map(" ".join)


def _expected_bigrams(text: str) -> list[str]:
    toks = text.lower().split()
    return [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]


@PROP
@given(texts=st.lists(_doc, min_size=1, max_size=30))
def test_word_ngrams_matches_python_model(spark, texts):
    from automatic_etl_spark.functions import text as tx

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        list(r["g"])
        for r in df.select(tx.word_ngrams("text", 2).alias("g")).collect()
    ]
    assert got == [_expected_bigrams(t) for t in texts]


@PROP
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=1, max_value=12),
        ).filter(lambda e: e[0] != e[1]),
        min_size=0,
        max_size=15,
    )
)
def test_connected_components_matches_python_model(spark, edges):
    """Min-label propagation must agree with a pure-Python union-find
    over arbitrary small graphs (nodes 1..12, singletons included)."""
    from automatic_etl_spark.operators.graph import connected_components

    parent = {i: i for i in range(1, 13)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for i in range(1, 13):
        root = find(i)
        expected[i] = min(j for j in range(1, 13) if find(j) == root)

    nodes = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id long")
    edf = spark.createDataFrame(
        edges or [(None, None)], "a_id long, b_id long"
    ).dropna()
    got = {
        r.node: r.component for r in connected_components(nodes, edf).collect()
    }
    assert got == expected


@PROP
@given(left=asof_rows, right=asof_rows)
def test_as_of_join_forward_matches_python_model(spark, left, right):
    """Forward as-of: earliest right row with rt >= t; ties on ts
    resolve to the MIN payload (payload asc in the window order,
    first-ignorenulls over the following frame)."""
    from automatic_etl_spark.operators.asof import as_of_join_forward

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _) in enumerate(left)], "k long, ts long, lid long"
    )
    rdf = spark.createDataFrame(right, "k long, ts long, val long")
    got = {
        r["lid"]: (r["right_ts"], r["right_val"])
        for r in as_of_join_forward(ldf, rdf, keys=["k"]).collect()
    }

    def model(k, t):
        cand = [(rt, v) for rk, rt, v in right if rk == k and rt >= t]
        return min(cand) if cand else (None, None)

    for i, (k, t, _) in enumerate(left):
        assert got[i] == model(k, t), (i, k, t, got[i], model(k, t))
