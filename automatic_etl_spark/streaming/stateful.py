"""Custom stateful streaming operator via ``applyInPandasWithState``
(T6 extension space — the reference has no stateful ops beyond
engine-side merge dedup, SURVEY.md §2.9).

Per-key running totals maintained in ``GroupState`` across
micro-batches: the canonical shape for wrapping arbitrary per-entity
logic (sessionization, running dedup counters, rate trackers) that
neither windowed aggs nor ``dropDuplicates`` can express.

Scale notes: state lives in the state store partitioned by the group
key — the shuffle is on that key only, and each micro-batch touches
only keys present in the batch. Totals are carried as integer cents so
cross-batch accumulation is exact and independent of batch order
(float addition would drift by file-to-batch assignment).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_OUTPUT_FIELDS = "n_events long, cents_total long"
STATE_SCHEMA = "cnt long, cents long"


def _make_update(key_name: str):
    """Build the per-group update fn with the OUTPUT KEY COLUMN named
    after the caller's group key — pandas output maps to the declared
    schema BY NAME, so a hardcoded "user_id" label would emit nulls
    (not a rename) for any other key column."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            cnt += len(pdf)
            cents += int(pdf["cents"].sum())
        state.update((cnt, cents))
        yield pd.DataFrame(
            {key_name: [key[0]], "n_events": [cnt], "cents_total": [cents]}
        )

    return _update


def running_user_totals(stream: DataFrame, key: str = "user_id") -> DataFrame:
    """Running (count, cents_total) per key, emitted on every batch the
    key appears in (update mode). Input needs a ``cents`` long column."""
    return stream.groupBy(key).applyInPandasWithState(
        _make_update(key),
        outputStructType=f"{key} long, {_OUTPUT_FIELDS}",
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

