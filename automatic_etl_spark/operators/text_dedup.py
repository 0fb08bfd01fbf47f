"""Near-duplicate detection operators for document corpora
(SURVEY.md §7 Phase 7 — the training-data dedup suite).

Four strategies over the ``documents`` table, all built from portable
primitives (md5-prefix hex strings) so a DuckDB oracle can mirror them
exactly:

- exact: hash-groupBy on content fingerprint (one shuffle).
- n-gram Jaccard: shingle self-join → |∩| / |∪|.
- MinHash + LSH: K min-hashes per doc → band keys → bucket join →
  candidate pairs, then exact Jaccard verification on candidates only.
- SimHash: per-token hash digit parity votes → 16-bit signature;
  identical signatures bucket near-dups.

Scale notes (100 TB): the all-pairs Jaccard join is quadratic in
bucket size and exists as the verifier / small-corpus baseline; the
scale path is LSH — shuffle cost is O(docs × bands), and candidate
verification touches only bucket-mates. Skewed buckets (boilerplate
shingles) are handled by AQE skew-join locally; at cluster scale pass
``max_bucket_size`` to :func:`lsh_candidate_pairs` to cap the
quadratic in-bucket term (oversized buckets are dropped and REPORTED,
never silently truncated).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automatic_etl_spark.functions import text as tx


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingle) rows, shingles distinct within a doc.

    BOUNDARY: a doc with fewer than ``n`` tokens yields ZERO shingles
    and is therefore invisible to every shingle-based strategy
    (MinHash/LSH/Jaccard) — short duplicated boilerplate must be
    caught by the exact-fingerprint path (fingerprint_stats /
    exact_dedup), which has no length floor. Callers that need
    short-doc coverage should union both strategies, not lower n
    globally (n<3 explodes the candidate space on normal-length
    docs)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tx.shingles(text_col, n)).alias("shingle"),
    )


def hex_hash(c: Column | str, salt: str = "", length: int = 8) -> Column:
    """Portable hash: md5-prefix hex string. Lexicographic MIN over
    fixed-width lowercase hex == numeric MIN over the hash value, and
    both engines agree byte-for-byte."""
    col = F.col(c) if isinstance(c, str) else c
    payload = F.concat(F.lit(f"{salt}|"), col) if salt else col
    return F.substring(tx.md5_hex(payload), 1, length)


def minhash_signatures(shingles_df: DataFrame, num_hashes: int = 8) -> DataFrame:
    """One row per doc with columns h0..h{K-1} — the MinHash signature.

    Single groupBy computing all K mins with map-side partial
    aggregation; no per-hash passes. This is the DEFAULT form (r10):
    the per-row md5×K hashing runs inside whole-stage codegen, and the
    exchange carries ~1 row per doc, not doc×shingle — explode keeps a
    doc's shingles in its parent's partition, so the partial aggregate
    finishes each doc before the shuffle. Against a map-side form
    (``array_min`` over a per-row ``transform`` of the shingle array,
    no explode and no groupBy; 10×-scaled corpus, fresh JVMs) it ran
    5.8 s vs 19.2 s at 10× and 1.0 s vs 2.4 s warm at sf0.1 — the
    higher-order ``transform`` evaluates its lambda on Spark's
    interpreted path per array element.
    """
    aggs = [
        F.min(hex_hash("shingle", salt=str(k))).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return shingles_df.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """Melt signatures into (doc_id, band, key) rows — docs sharing a
    (band, key) are LSH candidates."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*entries)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def bucket_sizes(keyed: DataFrame, bucket_cols: list[str]) -> DataFrame:
    """(bucket_cols..., bucket_n) census — the single source both
    capping and any drop-reporting must derive from, so a caller that
    also reports dropped buckets reuses ONE aggregate subtree (Spark's
    ReusedExchange then computes the census once per action) instead
    of re-running the full upstream chain for the report branch."""
    return keyed.groupBy(*bucket_cols).agg(F.count("*").alias("bucket_n"))


def cap_buckets(
    keyed: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int,
    on_drop: Callable[[int], None] | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Drop rows belonging to buckets larger than ``max_bucket_size``.

    A bucket shared by thousands of members is boilerplate (a hot
    shingle band, a dense projection cell) — its in-bucket pair join is
    quadratic and its pairs are near-worthless for dedup, so the
    standard policy at scale is to drop the bucket wholesale. The size
    aggregation groups on the SAME key as the downstream pair join, so
    the two stages share one shuffle partitioning.

    ``on_drop`` receives the dropped-bucket count (a tiny aggregate
    job); pass it whenever capping is enabled in production so the
    truncation is observable, never silent. ``sizes`` accepts a
    precomputed :func:`bucket_sizes` frame so a caller that ALSO
    consumes the census (e.g. a dropped-bucket report column) shares
    the exact subtree instead of paying the aggregation twice.
    """
    if sizes is None:
        sizes = bucket_sizes(keyed, bucket_cols)
    if on_drop is not None:
        on_drop(sizes.filter(F.col("bucket_n") > max_bucket_size).count())
    kept = sizes.filter(F.col("bucket_n") <= max_bucket_size).select(*bucket_cols)
    return keyed.join(kept, bucket_cols)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
    on_drop: Callable[[int], None] | None = None,
    keys: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Distinct (a_id, b_id) pairs sharing at least one band bucket.

    ``max_bucket_size`` bounds the quadratic in-bucket pair blow-up
    (the 100 TB requirement): buckets with more members are dropped
    before the pair join and their count reported via ``on_drop``.
    ``keys``/``sizes`` accept the precomputed :func:`lsh_band_keys` /
    :func:`bucket_sizes` frames when the caller also consumes them,
    so shared subtrees are built once (see :func:`cap_buckets`).
    """
    if keys is None:
        keys = lsh_band_keys(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        keys = cap_buckets(keys, ["band", "key"], max_bucket_size, on_drop, sizes)
    a = keys.alias("a")
    b = keys.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )


def jaccard_pairs(
    shingles_df: DataFrame, candidates: DataFrame | None = None
) -> DataFrame:
    """(a_id, b_id, jaccard) for doc pairs sharing ≥1 shingle.

    ``candidates`` (from LSH) restricts the pair space — without it
    this is the exact quadratic baseline.
    """
    sizes = shingles_df.groupBy("doc_id").agg(F.count("*").alias("n"))
    if candidates is not None:
        # Candidate-driven intersection — NOT a filtered self-join.
        # Expand each candidate pair with the a-side's shingles, then
        # probe the b-side's (doc, shingle) set: cost is linear in
        # |candidates| × shingles-per-doc, immune to hot-shingle skew
        # (join keys are (doc, shingle), ~unique per side), and never
        # touches non-candidate docs. This is what makes LSH verify
        # sub-quadratic at 100 TB; the self-join below stays as the
        # exact all-pairs baseline.
        a_sh = candidates.join(
            shingles_df.select(F.col("doc_id").alias("a_id"), "shingle"),
            "a_id",
        )
        inter = (
            a_sh.join(
                shingles_df.select(F.col("doc_id").alias("b_id"), "shingle"),
                ["b_id", "shingle"],
            )
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("inter"))
        )
    else:
        a = shingles_df.alias("a")
        b = shingles_df.alias("b")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
            )
            .agg(F.count("*").alias("inter"))
        )
    na = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            (
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def simhash16(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash over distinct tokens: per bit, +1/-1 votes from
    the parity of one hex digit of the token's md5; sign → bit.

    One explode + one groupBy with 16 sum aggregates (single shuffle).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tx.tokens(text_col))).alias("tok"),
    )
    h = tx.md5_hex(F.col("tok"))
    votes = [
        F.sum(
            F.when(tx.hex_val(F.substring(h, d, 1)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"v{d}")
        for d in range(1, 17)
    ]
    sums = toks.groupBy("doc_id").agg(*votes)
    bits = F.concat(
        *[
            F.when(F.col(f"v{d}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for d in range(1, 17)
        ]
    )
    return sums.select("doc_id", bits.alias("simhash"))
