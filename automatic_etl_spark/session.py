"""SparkSession factory with the engine's canonical configuration.

Semantics pinned here (reference parity — see SURVEY.md §1.3, §7):
- Session timezone UTC: the reference strips timezones to naive UTC
  everywhere (reference tools/ingest_runner.py:203-224); we pin the
  session zone instead of localizing per-value.
- ``spark.sql.ansi.enabled=false``: the reference tolerates zero-dates
  and out-of-range values by nulling them (tools/ingest_runner.py:
  227-305); ANSI mode would raise instead. Cleaning operators add
  explicit guards on top.
- AQE on (coalesce + skew join): at 100 TB the runtime re-plan is what
  keeps shuffle partition sizes sane and breaks up skewed join keys.

Plans that need a conf for one step (a stream's partition count, an
optimizer window) change it only through :func:`session_conf`, which
puts every key back when the step ends.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """CPU budget: honors the driver's SPARK_GRAFT_CPUS contract."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


@contextmanager
def session_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` body, then put each
    key back as it was, also when the body raises. A key that was unset
    before is unset again, so a bare session (where e.g.
    ``spark.sql.shuffle.partitions`` starts unset) leaves the window as
    it entered it.

    Session conf is shared by every thread of the session: the window
    assumes no concurrent query in the same session reads these keys
    meanwhile (the registry's query functions run one at a time per
    process)."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def stream_state_partitions(
    *staged_dirs: str,
    rows: int | None = None,
    bytes_per_partition: int = 16 * 1024 * 1024,
    rows_per_partition: int = 250_000,
) -> int:
    """Size a stateful stream's shuffle/state partitions to its VOLUME.

    Every stateful operator pays a fixed state-store open/commit cost
    per (partition × micro-batch); pinning partitions to the CPU
    budget makes a low-volume stream pay that cost ``cpus`` times per
    batch for no parallelism win (the r7 profile of stream_stream_join
    attributed ~2/3 of wall clock to state-store commits at 32
    partitions × 4 join state stores × 3 batches). Sizing by staged
    input volume (~16 MiB of input per partition, or ~250k rows when
    only a row count is known) keeps low-volume streams cheap while
    still reaching the full CPU budget once volume warrants it — the
    cap is the session CPU budget, so on a real cluster the same call
    scales up with SPARK_GRAFT_CPUS / the submitted parallelism. The
    count is baked into the checkpoint at the first batch (all engine
    streams use fresh checkpoints); a resumed production stream must
    keep its original count or use the state rebalancer/repartition
    tooling before changing it.
    """
    import math

    total = 0
    for d in staged_dirs:
        for root_, _dirs, files in os.walk(d):
            total += sum(
                os.path.getsize(os.path.join(root_, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    n = math.ceil(total / bytes_per_partition)
    if rows is not None:
        n = max(n, math.ceil(rows / rows_per_partition))
    return max(1, min(default_parallelism(), n))


def get_spark(
    app_name: str = "automatic-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession.

    On a real cluster, ``master`` comes from spark-submit and this
    builder only contributes SQL-level conf; locally it defaults to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Local mode: one shuffle partition per core keeps every stage
        # fully parallel with no scheduling overhead. On a cluster this
        # would be ~2-3× total cores, and AQE coalesces down from there.
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(max(cpus, 1)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deliberately 8g, NOT larger: on this virtualized host a 32g
        # heap measured 8-20× SLOWER on shuffle-heavy queries (A/B:
        # minhash_lsh_dedup 3.5 s @8g vs 28-83 s @32g, degrading per
        # run) — a big heap keeps faulting in fresh pages instead of
        # reusing GC'd ones, and guest page-fault cost dominates. 8g
        # bounds the working set; execution spills are cheaper here
        # than heap growth. On a real cluster this only sizes the
        # driver; executors get their own memory settings.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: 128 MiB splits is the right granularity for a
        # 1000-executor cluster; harmless locally.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
