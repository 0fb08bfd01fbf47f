"""Oracle-checked plan for the multimodal binary-column pipeline.

The Spark side runs REAL mapInPandas over binary payloads; the decode
step is a deterministic md5-derived fake (codecs aren't in this
container — operators/multimodal.py), which is exactly why the oracle
can mirror it in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automatic_etl_spark.operators.multimodal import (
    extract_features,
    make_blob_table,
)
from automatic_etl_spark.plans.registry import register
from automatic_etl_spark.plans.relational import _sql_hex_val
from automatic_etl_spark.sources.parquet import table


@register(
    "multimodal_features",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   'txt' AS fmt,
                   octet_length(encode(text)) AS n_bytes,
                   64 + {_sql_hex_val("substr(md5(text), 1, 1)")} * 8 AS fake_width,
                   64 + {_sql_hex_val("substr(md5(text), 2, 1)")} * 8 AS fake_height,
                   md5(text) AS payload_md5
            FROM documents
        )
        SELECT fmt,
               COUNT(*) AS cnt,
               CAST(SUM(n_bytes) AS BIGINT) AS bytes_total,
               CAST(SUM(fake_width) AS BIGINT) AS width_total,
               CAST(SUM(fake_height) AS BIGINT) AS height_total,
               COUNT(DISTINCT payload_md5) AS distinct_payloads
        FROM feats GROUP BY fmt
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=False)
    feats = extract_features(make_blob_table(docs))
    return feats.groupBy("fmt").agg(
        F.count("*").alias("cnt"),
        F.sum("n_bytes").alias("bytes_total"),
        F.sum("fake_width").alias("width_total"),
        F.sum("fake_height").alias("height_total"),
        F.countDistinct("payload_md5").alias("distinct_payloads"),
    )


@register(
    "multimodal_features_arrow",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   'txt' AS fmt,
                   octet_length(encode(text)) AS n_bytes,
                   64 + {_sql_hex_val("substr(md5(text), 1, 1)")} * 8 AS fake_width,
                   64 + {_sql_hex_val("substr(md5(text), 2, 1)")} * 8 AS fake_height,
                   md5(text) AS payload_md5
            FROM documents
        )
        SELECT fmt,
               COUNT(*) AS cnt,
               CAST(SUM(n_bytes) AS BIGINT) AS bytes_total,
               CAST(SUM(fake_width) AS BIGINT) AS width_total,
               CAST(SUM(fake_height) AS BIGINT) AS height_total,
               COUNT(DISTINCT payload_md5) AS distinct_payloads
        FROM feats GROUP BY fmt
    """,
)
def multimodal_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow feature path (zero-copy Arrow batches — see
    operators/multimodal.extract_features_arrow) against the SAME
    oracle as multimodal_features: both Python-batch transports must
    produce identical results."""
    from automatic_etl_spark.operators.multimodal import (
        extract_features_arrow,
    )

    docs = table(spark, sf_dir, "documents", fan_out=False)
    feats = extract_features_arrow(make_blob_table(docs))
    return feats.groupBy("fmt").agg(
        F.count("*").alias("cnt"),
        F.sum("n_bytes").alias("bytes_total"),
        F.sum("fake_width").alias("width_total"),
        F.sum("fake_height").alias("height_total"),
        F.countDistinct("payload_md5").alias("distinct_payloads"),
    )


@register(
    "multimodal_resize",
    oracle=f"""
        WITH dims AS (
            SELECT doc_id,
                   64 + {_sql_hex_val("substr(md5(text), 1, 1)")} * 8 AS w,
                   64 + {_sql_hex_val("substr(md5(text), 2, 1)")} * 8 AS h
            FROM documents
        ),
        resized AS (
            SELECT doc_id, w, h,
                   (w * 64) // GREATEST(w, h) AS rw,
                   (h * 64) // GREATEST(w, h) AS rh
            FROM dims
        )
        SELECT COUNT(*) AS cnt,
               CAST(SUM(w) AS BIGINT) AS width_total,
               CAST(SUM(rw) AS BIGINT) AS resized_width_total,
               CAST(SUM(rh) AS BIGINT) AS resized_height_total,
               MAX(GREATEST(rw, rh)) AS max_resized_side
        FROM resized
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from automatic_etl_spark.operators.multimodal import resize_media

    docs = table(spark, sf_dir, "documents")
    resized = resize_media(make_blob_table(docs), max_side=64)
    return resized.agg(
        F.count("*").alias("cnt"),
        F.sum("width").alias("width_total"),
        F.sum("resized_width").alias("resized_width_total"),
        F.sum("resized_height").alias("resized_height_total"),
        F.max(F.greatest("resized_width", "resized_height")).alias(
            "max_resized_side"
        ),
    )


@register(
    "multimodal_frames",
    oracle="""
        WITH docs AS (
            SELECT doc_id, text, GREATEST(length(text), 1) AS n FROM documents
        ),
        frames AS (
            SELECT doc_id,
                   i AS frame_idx,
                   (i * n) // 4 AS frame_offset,
                   md5(substring(text, ((i * n) // 4) + 1, 16)) AS frame_md5
            FROM docs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
        )
        SELECT frame_idx,
               COUNT(*) AS cnt,
               CAST(SUM(frame_offset) AS BIGINT) AS offset_total,
               COUNT(DISTINCT frame_md5) AS distinct_frames
        FROM frames GROUP BY frame_idx
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from automatic_etl_spark.operators.multimodal import sample_frames

    docs = table(spark, sf_dir, "documents")
    frames = sample_frames(make_blob_table(docs), num_frames=4)
    return frames.groupBy("frame_idx").agg(
        F.count("*").alias("cnt"),
        F.sum("frame_offset").alias("offset_total"),
        F.countDistinct("frame_md5").alias("distinct_frames"),
    )
