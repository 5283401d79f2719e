"""Sampling entries: stratified, weighted, hash-split and cluster-split
samples of orders, and shuffled training shards."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators.sampling import (
    group_leakage_split,
    hash_split,
    shuffle_shard_stats,
    shuffle_shards,
    split_leakage_audit,
    stratified_exact_sample,
    weighted_sample_exact,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


@query(
    "sample_stratified_orders",
    oracle="""
    SELECT o_orderpriority, o_orderkey
    FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)) ASC, o_orderkey ASC
             ) AS rn
      FROM orders
    ) WHERE rn <= 20
    """,
)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 orders per priority,
    selected by md5-of-key pseudo-random order — engine-portable, so the
    EXACT row selection (not just counts) hash-matches the SQL oracle."""
    o = _t(spark, sf_dir, "orders")

    out = stratified_exact_sample(
        o, ["o_orderpriority"], k=20, key_col="o_orderkey"
    )
    return out.select("o_orderpriority", "o_orderkey")


@query(
    "sample_weighted_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_totalprice > 0
    ORDER BY POW(
        (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
              AS UBIGINT) + 0.5) / 4294967296.0,
        1.0 / o_totalprice) DESC,
      o_orderkey ASC
    LIMIT 100
    """,
)
def sample_weighted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, EXACT row selection:
    Efraimidis–Spirakis A-Res keyed on an md5-derived deterministic
    uniform, 100 orders sampled ∝ o_totalprice
    (operators/sampling.py: weighted_sample_exact).  Plans as
    TakeOrderedAndProject — per-partition top-k, no global sort — the
    quality-weighted corpus-selection shape at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    out = weighted_sample_exact(o, "o_totalprice", k=100, key_col="o_orderkey")
    return out.select("o_orderkey", "o_totalprice")


@query(
    "train_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR) || ':42') AS rk
      FROM documents
    )
    SELECT CAST(CAST('0x' || substr(rk, 1, 8) AS UBIGINT) % 16 AS INT)
             AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_size,
           arg_min(doc_id, rk) AS first_key,
           arg_max(doc_id, rk) AS last_key
    FROM h GROUP BY 1
    """,
)
def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle into 16 shards
    (operators/sampling.py: shuffle_shards): every document gets an
    engine-portable md5 rank and a shard id from the rank's top 32
    bits; the per-shard manifest (count, bytes, first/last doc in
    shuffle order) is the audit view.  Writing the shards costs one
    hash-partition shuffle + sortWithinPartitions — never a global
    orderBy over the corpus — which is what an epoch shuffle over
    100 TB has to look like."""
    d = _t(spark, sf_dir, "documents")
    sharded = shuffle_shards(d, "doc_id", n_shards=16, seed=42)
    return shuffle_shard_stats(sharded, key_col="doc_id", size_col="n_chars")


@query(
    "sample_hash_split",
    oracle="""
    WITH tagged AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                          || ':42'), 1, 8) AS UBIGINT)
                  % 1000000 AS BIGINT) AS bucket
      FROM documents),
    split AS (
      SELECT doc_id,
             CASE WHEN bucket < 800000 THEN 0
                  WHEN bucket < 900000 THEN 1
                  ELSE 2 END AS split
      FROM tagged)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM split GROUP BY 1
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split
    (operators/sampling.py: hash_split, md5 device): splits
    are DISJOINT and COVER the corpus exactly, and because the bucket
    is an engine-portable digest the ORACLE recomputes the exact
    membership — the auditability a leakage claim needs ("prove eval
    doc X is not in train" without trusting the engine that made the
    split).  Zero shuffles: one projection + the summary aggregation;
    the id checksum per split pins membership, not just sizes."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tagged = hash_split(docs, "doc_id", [0.8, 0.1, 0.1], seed=42)
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


@query(
    "sample_cluster_split",
    oracle="""
    WITH g AS (
      SELECT doc_id, n_chars, md5(text) AS grp FROM documents),
    s AS (
      SELECT doc_id, n_chars, grp,
             CASE WHEN b < 800000 THEN 0
                  WHEN b < 900000 THEN 1
                  ELSE 2 END AS split
      FROM (SELECT *,
              CAST(CAST('0x' || substr(md5(grp || ':42'), 1, 8)
                        AS UBIGINT) % 1000000 AS BIGINT) AS b
            FROM g)),
    sizes AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
             CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
      FROM s GROUP BY 1),
    leak AS (
      SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS straddling_groups
      FROM (SELECT grp, COUNT(DISTINCT split) AS ns FROM s GROUP BY 1))
    SELECT split, n_rows, n_groups, sum_n_chars, straddling_groups
    FROM sizes, leak
    """,
)
def sample_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-leakage-safe train/val/test split (operators/sampling.py:
    group_leakage_split + split_leakage_audit): documents split 80/10/10
    by their exact-duplicate FAMILY identity (md5 text fingerprint) so
    no duplicate family straddles train and eval — row-keyed splitting
    leaks silently through duplicates (the eval twin of a training doc
    IS test-set contamination), and the shipped ``straddling_groups``
    column is the audited proof it cannot happen here (0 by
    construction, recomputed — not assumed — by both engines).  The
    md5 split device means an external auditor re-derives
    every membership.  One projection + two aggregations; nothing
    joins at row grain."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("grp"),
    )
    tagged = group_leakage_split(docs, "grp", [0.8, 0.1, 0.1])
    return split_leakage_audit(
        tagged, "grp", sum_cols=["n_chars"]
    )
