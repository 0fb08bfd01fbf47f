"""Count-min sketch — the "novel sketch" operator for heavy-hitter
estimation over keys too numerous to count exactly.

Deterministic construction so both engines agree bit-for-bit: row ``k``
of the sketch hashes a key to one of ``width`` buckets via two hex
digits of ``md5(k || '|' || key)``, converted with ascii arithmetic
(portable to DuckDB SQL — no engine-specific hex/conv functions). The
point estimate for a key is the MIN of its ``depth`` bucket counts;
estimates never undercount (CMS guarantee).

Scale notes (100 TB): the sketch build is ``depth`` parallel
groupBy(bucket) counts over a constant key space (width buckets) —
map-side partial aggregation reduces each partition to ≤ width rows
per row-hash, so the shuffle is O(width × depth) regardless of input
size. That's the whole point: frequency structure at a fixed memory
budget when exact per-key counts would not fit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automatic_etl_spark.functions.text import hex_val, md5_hex

DEPTH = 4
WIDTH = 256  # two hex digits


def bucket_of(key: Column | str, row: int, width: int = WIDTH) -> Column:
    """Bucket id in [0, width) for sketch row ``row``. width ≤ 256;
    the modulo is an identity at the default, so the default sketch
    layout (and its SQL oracle) is unchanged."""
    col = F.col(key) if isinstance(key, str) else key
    h = md5_hex(F.concat(F.lit(f"{row}|"), col.cast("string")))
    v = hex_val(F.substring(h, 1, 1)) * 16 + hex_val(F.substring(h, 2, 1))
    return v if width == WIDTH else v % width


def build_sketch(
    df: DataFrame, key: str, depth: int = DEPTH, width: int = WIDTH
) -> DataFrame:
    """(row, bucket, cnt) — the sketch table, one groupBy per row hash
    unioned (each is a constant-size aggregate)."""
    parts = [
        df.select(F.lit(k).alias("row"), bucket_of(key, k, width).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
        for k in range(depth)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def estimate_counts(
    sketch: DataFrame, keys: DataFrame, key: str, depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Point estimates for ``keys[key]``: min over the depth rows of
    the matching bucket counts. The sketch is tiny (width × depth) —
    broadcast it."""
    probes = keys.select(
        key,
        *[bucket_of(key, k, width).alias(f"b{k}") for k in range(depth)],
    )
    est = probes
    for k in range(depth):
        row_k = sketch.filter(F.col("row") == k).select(
            F.col("bucket").alias(f"b{k}"), F.col("cnt").alias(f"c{k}")
        )
        est = est.join(F.broadcast(row_k), f"b{k}", "left")
    counts = [F.coalesce(F.col(f"c{k}"), F.lit(0)) for k in range(depth)]
    least = counts[0] if depth == 1 else F.least(*counts)
    return est.select(key, least.alias("est_cnt"))
