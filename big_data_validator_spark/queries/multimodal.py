"""Multimodal plumbing entries (documents → binary assets): payload
statistics, perceptual-hash near-duplicates, resizing, frame sampling
and feature extraction."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import multimodal as M
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


#: The oracles' mirror of ``assets_from_documents``: one synthetic asset
#: per document, its media type from ``doc_id`` and its payload the text.
_ASSETS = """
    WITH assets AS (
      SELECT doc_id AS asset_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             encode(text) AS payload,
             CAST(len(text) % 640 + 1 AS INT) AS width,
             CAST(len(text) % 480 + 1 AS INT) AS height
      FROM documents
    )"""


@query(
    "multimodal_payload_stats",
    oracle=f"""{_ASSETS}
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS asset_count,
           CAST(SUM(octet_length(payload)) AS BIGINT) AS total_payload_bytes,
           ROUND(AVG(octet_length(payload)), 4) AS avg_payload_bytes,
           CAST(MIN(width) AS INT) AS min_width,
           CAST(MAX(height) AS INT) AS max_height
    FROM assets GROUP BY media_type
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    out = M.payload_stats(assets.drop("duration_ms"))
    return out.select(
        "media_type",
        "asset_count",
        F.col("total_payload_bytes").cast("long").alias("total_payload_bytes"),
        "avg_payload_bytes",
        "min_width",
        "max_height",
    )


@query(
    "multimodal_phash_neardup",
    oracle="""
    WITH a AS (
      SELECT doc_id AS asset_id, hex(encode(text)) AS h
      FROM documents WHERE octet_length(encode(text)) >= 65),
    bits AS (
      SELECT asset_id,
             list_transform(generate_series(0, 63),
               i -> CASE WHEN substr(h, 2*i + 1, 2) < substr(h, 2*i + 3, 2)
                         THEN 1 ELSE 0 END) AS b
      FROM a),
    hh AS (
      SELECT asset_id,
             list_sum(list_transform(generate_series(1, 32),
               j -> b[j] * (1 << (j - 1)))) AS lo,
             list_sum(list_transform(generate_series(33, 64),
               j -> b[j] * (1 << (j - 33)))) AS hi
      FROM bits)
    SELECT x.asset_id AS asset_a, y.asset_id AS asset_b,
           CAST(bit_count(xor(CAST(x.lo AS BIGINT), CAST(y.lo AS BIGINT)))
              + bit_count(xor(CAST(x.hi AS BIGINT), CAST(y.hi AS BIGINT)))
             AS INT) AS hamming
    FROM hh x JOIN hh y ON x.asset_id < y.asset_id
    WHERE bit_count(xor(CAST(x.lo AS BIGINT), CAST(y.lo AS BIGINT)))
        + bit_count(xor(CAST(x.hi AS BIGINT), CAST(y.hi AS BIGINT))) <= 3
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over BINARY assets
    (operators/multimodal.py:phash_near_dup_pairs) — the multimodal
    member of the dedup ladder: 64-bit dHash per payload (bit i =
    byte i < byte i+1, built from JVM hex-pair expressions — no Python
    in the hash pass), then LSH banding into 4 × 16-bit bands where
    pigeonhole makes the band-bucket join provably LOSSLESS for
    Hamming ≤ 3, then the exact integer ``bit_count(xor)`` verdict.
    The oracle is the independent brute-force all-pairs formulation
    (quadratic candidates live only oracle-side; the Spark plan touches
    same-band candidates through the repo-wide capped bucket join).
    With a real image decoder the same operator runs over the 8×9
    downsampled grid — only the byte source changes."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    out = M.phash_near_dup_pairs(assets, max_hamming=3)
    return out.orderBy("asset_a", "asset_b")


@query(
    "multimodal_resize_stats",
    oracle=f"""{_ASSETS},
    resized AS (
      SELECT media_type,
             CASE WHEN media_type IN ('image','video') THEN 768
                  ELSE octet_length(payload) END AS nbytes,
             CASE WHEN media_type IN ('image','video') THEN 32 ELSE width END AS width,
             CASE WHEN media_type IN ('image','video') THEN 24 ELSE height END AS height
      FROM assets
    )
    SELECT media_type, CAST(COUNT(*) AS BIGINT) AS asset_count,
           CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
           CAST(MIN(width) AS INT) AS min_width,
           CAST(MAX(height) AS INT) AS max_height
    FROM resized GROUP BY media_type
    """,
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing end-to-end: the stub resizer deterministically maps
    spatial payloads to width*height bytes, so the byte math is
    oracle-checkable even though the real decoder is stubbed."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    resized = M.resize_assets(assets, width=32, height=24)
    return resized.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("asset_count"),
        F.sum(F.octet_length("payload")).cast("long").alias("total_bytes"),
        F.min("width").alias("min_width"),
        F.max("height").alias("max_height"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH v AS (
      SELECT doc_id AS asset_id, octet_length(encode(text)) AS plen
      FROM documents WHERE doc_id % 3 = 2
    )
    SELECT CAST(4 * COUNT(*) AS BIGINT) AS frame_count,
           CAST(SUM(CASE WHEN plen >= 4 THEN 4 * (plen // 4) ELSE plen END) AS BIGINT) AS total_frame_bytes,
           CAST(COUNT(*) AS BIGINT) AS video_count
    FROM v
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (one-to-many mapInPandas): 4 evenly-spaced frames per
    video; deterministic byte-slice frames make the fan-out byte math
    oracle-checkable."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    frames = M.sample_frames(assets)
    return frames.agg(
        F.count(F.lit(1)).alias("frame_count"),
        F.sum(F.octet_length("frame_payload")).cast("long").alias(
            "total_frame_bytes"
        ),
        F.count_distinct("asset_id").alias("video_count"),
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
           END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           CAST(16 AS INT) AS feature_dim
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow ``mapInPandas`` feature-extraction plumbing, now
    HASH-CHECKED (was rows-only through r5): the deterministic stub
    kernel makes byte counts and feature dimensionality pure functions
    of the source text, so DuckDB recomputes what the Python worker
    must produce — a schema/batch-shape regression in the Arrow path
    flips the hash even though the "features" themselves are fakes."""
    docs = _t(spark, sf_dir, "documents")
    assets = M.assets_from_documents(docs)
    feats = M.extract_features(assets, dim=16)
    return feats.select(
        "asset_id", "media_type", "payload_bytes", F.size("feature").alias("feature_dim")
    )
