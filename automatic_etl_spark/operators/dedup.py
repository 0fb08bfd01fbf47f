"""Deduplication operators (SURVEY.md §2.5 — the flagship relational op).

The reference deduplicates three ways (reference tools/ingest_runner.py):
- W1 "staging": ``row_number() OVER (PARTITION BY unique_key ORDER BY
  version DESC NULLS LAST) = 1`` into a tmp table + atomic swap
  (ingest_runner.py:1576-1588).
- W3 intra-chunk: sort by version desc then ``drop_duplicates`` per
  50k-row pandas chunk (ingest_runner.py:1395-1401).
- W4 engine-level: ``ReplacingMergeTree(version) ORDER BY key`` with
  ``OPTIMIZE FINAL`` (ingest_runner.py:1341,1782-1787).

Spark-first design: all three collapse onto the same window expression,
evaluated lazily so Catalyst plans ONE shuffle on the dedup key:
- W1/W3 → :func:`latest_version` (deterministic, unlike a bare
  ``dropDuplicates`` which keeps an arbitrary row).
- W4 "FINAL-on-read" → :func:`dedup_view` registers the same window as
  a view, mirroring ReplacingMergeTree's merge-on-read semantics.

Scale notes (100 TB): the window shuffles once on ``keys`` — the same
shuffle a groupBy would need, so this is optimal for full dedup. AQE
skew-join/partition-coalescing handles hot keys. When only the latest
row per key feeds a subsequent aggregation, prefer composing this
lazily (no materialization barrier) so Catalyst can collapse stages.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "__rn"


def _version_ordering(version_cols: Sequence[str | Column]) -> list[Column]:
    """DESC NULLS LAST per version column — exact W1 ordering
    (reference tools/ingest_runner.py:1581)."""
    return [
        (F.col(c) if isinstance(c, str) else c).desc_nulls_last()
        for c in version_cols
    ]


def latest_version(
    df: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str | Column],
    tiebreaker: Sequence[str] = (),
) -> DataFrame:
    """Keep exactly one row per key: the highest version.

    ``tiebreaker`` columns (ascending, NULLS LAST) make the result
    deterministic when versions collide — the reference leaves this to
    engine internals; we pin it for reproducibility. NULLS LAST, not
    Spark's asc() default of NULLS FIRST: every oracle spells plain
    ``ASC``, which DuckDB sorts NULLS LAST, so a NULL tiebreaker value
    would win the tie on one engine and lose it on the other.
    """
    order = _version_ordering(version_cols) + [
        F.col(c).asc_nulls_last() for c in tiebreaker
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def dedup_view(
    df: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str | Column],
    name: str,
    tiebreaker: Sequence[str] = (),
) -> DataFrame:
    """ReplacingMergeTree ``FINAL``-on-read parity (W4): register the
    dedup as a view so every reader sees merged state without a
    rewrite."""
    deduped = latest_version(df, keys, version_cols, tiebreaker)
    deduped.createOrReplaceTempView(name)
    return deduped
