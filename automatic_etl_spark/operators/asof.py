"""As-of (point-in-time) join — the canonical operator Spark's API
lacks, built from a composition of existing DataFrame ops (no UDF).

Semantics: each left row matches the LATEST right row with the same
key whose timestamp is ``<=`` the left timestamp (backward as-of, the
time-series/point-in-time-correctness join). The oracle plan
cross-validates against DuckDB's native ``ASOF JOIN``.

Construction: tag both sides, union, then one window per key ordered
by (ts, side) carrying ``last(right_payload, ignorenulls)`` forward —
right rows sort before left rows at equal timestamps, so the match is
inclusive. ONE shuffle on the join key, no range-explosion, no
per-row Python.

Scale notes (100 TB): this is the optimal distributed shape — cost is
a single hash partition on the key plus a per-partition sort, the same
as any windowed op; skewed keys fall to AQE or salting. The naive
alternative (range join / per-left-row subquery) is quadratic per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "__asof_side"
_PAYLOAD = "__asof_payload"


def _as_of(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    payload_prefix: str,
    forward: bool,
) -> DataFrame:
    """The one as-of builder. Backward: right rows sort before left at
    equal timestamps and ``last(payload, ignorenulls)`` scans
    (unboundedPreceding, currentRow). Forward mirrors it: left rows
    sort first and ``first(payload, ignorenulls)`` scans (currentRow,
    unboundedFollowing). Either way the match is inclusive."""
    left_side = 0 if forward else 1
    payload_cols = [c for c in right.columns if c not in keys]
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(1 - left_side).alias(_SIDE),
        F.struct(*[F.col(c) for c in payload_cols]).alias(_PAYLOAD),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(left_side).alias(_SIDE),
        F.lit(None).cast(r.schema[_PAYLOAD].dataType).alias(_PAYLOAD),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    # (ts, side) puts a right row inside the frame of a left row with
    # an equal timestamp (inclusive match); the payload itself is the
    # final tiebreak so duplicate right timestamps resolve
    # deterministically (struct ordering — fields must be orderable,
    # i.e. no map columns).
    payload = F.col(_PAYLOAD)
    w = Window.partitionBy(*keys).orderBy(
        F.col("__ts").asc(),
        F.col(_SIDE).asc(),
        payload.asc_nulls_last() if forward else payload.asc_nulls_first(),
    )
    if forward:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        carried = F.first(_PAYLOAD, ignorenulls=True)
    else:
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        carried = F.last(_PAYLOAD, ignorenulls=True)
    matched = unioned.withColumn(_PAYLOAD, carried.over(w))
    out = matched.filter(F.col(_SIDE) == left_side).drop(_SIDE, "__ts")
    for c in payload_cols:
        out = out.withColumn(f"{payload_prefix}{c}", F.col(f"{_PAYLOAD}.{c}"))
    return out.drop(_PAYLOAD)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_prefix: str = "right_",
) -> DataFrame:
    """Backward as-of join; right payload columns (everything except
    keys) come back prefixed, NULL when no right row precedes."""
    return _as_of(
        left, right, keys, left_ts, right_ts, payload_prefix, forward=False
    )


def as_of_join_forward(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_prefix: str = "right_",
) -> DataFrame:
    """Forward as-of join: each left row matches the EARLIEST right
    row with the same key whose timestamp is ``>=`` the left
    timestamp (the time-to-next-event join — signup→first-purchase,
    order→next-shipment). Mirror construction of :func:`as_of_join`
    with the window reversed: left rows sort BEFORE right at equal
    timestamps (inclusive match) and ``first(payload, ignorenulls)``
    scans the frame (currentRow, unboundedFollowing). Same scale
    shape: one hash partition on the key + per-partition sort."""
    return _as_of(
        left, right, keys, left_ts, right_ts, payload_prefix, forward=True
    )


def as_of_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    tolerance_ms: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_prefix: str = "right_",
    mark_dropped: str | None = None,
) -> DataFrame:
    """Backward as-of join with a maximum match gap (pandas
    ``merge_asof(tolerance=...)`` semantics): the latest right row
    at-or-before the left timestamp matches ONLY if it is within
    ``tolerance_ms``; otherwise the row joins nothing. Because
    backward as-of always selects the LATEST qualifying right row,
    any earlier candidate has a strictly larger gap — so nulling an
    out-of-tolerance match is exact, not an approximation, and the
    operator is one conditional projection over :func:`as_of_join`
    (same single key-hash shuffle, no extra exchange)."""
    j = as_of_join(left, right, keys, left_ts, right_ts, payload_prefix)
    # Derive payload names from right.columns exactly as as_of_join
    # does — scanning j.columns by prefix would also catch any LEFT
    # column that happens to start with payload_prefix and wrongly
    # null it out of tolerance.
    payload_cols = [
        f"{payload_prefix}{c}" for c in right.columns if c not in keys
    ]
    matched_ts = F.col(f"{payload_prefix}{right_ts}")
    gap_ok = (
        F.unix_millis(F.col(left_ts)) - F.unix_millis(matched_ts)
    ) <= tolerance_ms
    if mark_dropped is not None:
        # must be derived BEFORE the payload is nulled: true iff an
        # as-of match existed but fell outside the tolerance
        j = j.withColumn(
            mark_dropped, matched_ts.isNotNull() & ~gap_ok
        )
    for c in payload_cols:
        j = j.withColumn(c, F.when(gap_ok, F.col(c)))
    return j
