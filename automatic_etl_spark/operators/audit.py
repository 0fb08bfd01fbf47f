"""Audit / reconciliation operators (SURVEY.md §2.11).

The reference's primary correctness check is per-table row-count
reconciliation between source (MySQL) and sink (ClickHouse), computed
in a Python loop over per-table COUNT(*) queries (reference
tools/ingest_runner.py:1813-1937; tools/audit_mysql_clickhouse.py:38-80).

Spark-first: every branch is tagged and unioned, then grouped once on
the audit key — a distributed plan instead of a driver loop, so the
same code audits 10 tables or 10,000 partitions. :func:`count_by_key`
is the one per-key count; the CLI ``audit`` command, the
``reconciliation`` query and the ingest audit all build on it, and
:func:`grand_total` is their one rollup.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_by_key(
    key: str, sources: dict[str, DataFrame], sink: DataFrame
) -> DataFrame:
    """Per-key row count of each source branch and of the sink.

    Output columns: ``key``, one count per name of ``sources``, then
    ``snk_cnt``.

    NULL-SAFE pairing as union-then-aggregate, not full-outer
    equi-joins: a plain equi-join never matches NULL=NULL, so a NULL
    audit key that reconciles perfectly would split into one-sided rows
    with spurious MISMATCH verdicts, while groupBy treats NULL as an
    ordinary group. It is also the cheaper plan — ONE shuffle on the
    key (map-side partial counts per branch).

    Keys compare in the SINK's type: every branch's key is
    ``try_cast`` to it. When cleaning retyped the key (string source →
    int sink), a positional union would widen back to string and '007'
    vs 7 would land in different groups. Raw values that don't parse
    group under NULL (they could never match a sink key), and never
    fail the job under ANSI.
    """
    key_type = sink.schema[key].dataType
    branches = {**sources, "snk_cnt": sink}

    def tagged(name: str, df: DataFrame) -> DataFrame:
        kcol = F.col(key)
        if df.schema[key].dataType != key_type:
            kcol = kcol.try_cast(key_type)
        return df.select(
            kcol.alias(key),
            *(F.lit(int(b == name)).alias(b) for b in branches),
        )

    unioned = functools.reduce(
        DataFrame.unionAll, (tagged(n, df) for n, df in branches.items())
    )
    return unioned.groupBy(key).agg(*(F.sum(b).alias(b) for b in branches))


def reconcile_counts(
    source: DataFrame,
    sink: DataFrame,
    key: str,
    key_alias: str = "key",
) -> DataFrame:
    """Per-key source vs sink row counts with diff + verdict.

    Output columns: ``{key_alias}, src_cnt, snk_cnt, diff, verdict`` —
    the shape of the reference's audit report rows
    (tools/ingest_runner.py:1853-1932).
    """
    return count_by_key(key, {"src_cnt": source}, sink).select(
        F.col(key).alias(key_alias),
        "src_cnt",
        "snk_cnt",
        (F.col("src_cnt") - F.col("snk_cnt")).alias("diff"),
        F.when(F.col("src_cnt") == F.col("snk_cnt"), F.lit("OK"))
        .otherwise(F.lit("MISMATCH"))
        .alias("verdict"),
    )


def grand_total(audit: DataFrame) -> DataFrame:
    """Totals + overall verdict of an audit report (A8, Q6;
    tools/ingest_runner.py:1856-1932).

    A report with a ``verdict`` column rolls up its per-key verdicts:
    an ingest report's verdicts compare the expected end state with the
    sink, so a dedup-shrinking ingest is OK by design. A report without
    one (the keyless ingest audit) rolls up its diffs. A sum over no
    rows is NULL and reads 0, so an empty report is ``OK`` with 0/0/0."""
    if "verdict" in audit.columns:
        bad = (F.col("verdict") != "OK").cast("int")
    else:
        bad = F.abs(F.col("diff"))
    bad = F.coalesce(F.sum(bad), F.lit(0))
    return audit.agg(
        F.sum("src_cnt").alias("src_total"),
        F.sum("snk_cnt").alias("snk_total"),
        F.sum("diff").alias("total_diff"),
        F.when(bad == 0, F.lit("OK")).otherwise(F.lit("MISMATCH")).alias("verdict"),
    ).na.fill(0)
