"""Scan and projection entries (SURVEY §2a, §2c): predicate and column
pushdown, the reference's PERMISSIVE CSV/JSON scan round trip, schema
evolution, ORC, unpivoted and observed scan metrics and partition
pruning."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from big_data_validator_spark.contract import ColumnSpec, TableContract
from big_data_validator_spark.operators import scratch_dir
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t
from big_data_validator_spark.sources.csv_source import scan_csv_permissive
from big_data_validator_spark.sources.readers import scan_json
from big_data_validator_spark.sources.readers import scan_orc as _scan_orc
from big_data_validator_spark.sources.readers import (
    scan_parquet_evolving as _scan_evolving,
)


@query(
    "scan_pushdown_projection",
    oracle="""
    SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice * (1 - l_discount), 2) AS net_price
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '2001-01-01' AND l_quantity > 45
    """,
)
def scan_pushdown_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + narrow projection; predicate and column pruning reach the
    parquet scan (PushedFilters/ReadSchema verified in tests)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2001-01-01").cast("date"))
        & (F.col("l_quantity") > 45)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "net_price"
        ),
    )


def _roundtrip_summary(
    scanned: DataFrame, key: Column, checksum: Column
) -> DataFrame:
    """One row summarizing a PERMISSIVE scan: all and corrupt rows, and
    over the clean rows the distinct ``key`` values and the sum of
    ``checksum``."""
    corrupt = F.col("CorruptRecCol").isNotNull()
    return scanned.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(corrupt.cast("long")).alias("corrupt_rows"),
        F.count_distinct(F.when(~corrupt, key)).alias(
            "clean_distinct_values"
        ),
        F.sum(F.when(~corrupt, checksum)).alias("clean_checksum"),
    )


def _csv_roundtrip_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core scan surface end-to-end (SURVEY §2a
    `scan_csv_permissive` + §2c `filter_corrupt_rows`): materialize a CSV
    with planted wrong-arity rows (every p_partkey % 97 == 0 gets an extra
    field), scan it back with the quote-aware PERMISSIVE reader + explicit
    all-string schema + CorruptRecCol, and report corrupt/clean metrics in
    one aggregation.  The oracle derives the same counts from the parquet
    table directly — the CSV write is local test scaffolding, the scan
    itself is the production path (options verbatim from
    ``big_data_validator.py:135-146``)."""
    part = _t(spark, sf_dir, "part")
    line = F.concat(
        F.col("p_partkey").cast("string"),
        F.lit('|"'), F.col("p_name"), F.lit('"|'),
        F.col("p_brand"), F.lit("|"),
        F.col("p_size").cast("string"),
        F.when(F.col("p_partkey") % 97 == 0, F.lit("|XTRA")).otherwise(F.lit("")),
    )
    header = spark.createDataFrame(
        [(0, 'P_PARTKEY|"P_NAME"|P_BRAND|P_SIZE')], ["ord", "value"]
    )
    csv_dir = scratch_dir("bdv_csv_scan_")
    (
        part.select((F.col("p_partkey") + 1).alias("ord"), line.alias("value"))
        .unionByName(header)
        .repartition(1)
        .sortWithinPartitions("ord")
        .select("value")
        .write.mode("overwrite")
        .text(csv_dir)
    )
    contract = TableContract(
        columns=[
            ColumnSpec("P_PARTKEY", "NUMBER"),
            ColumnSpec("P_NAME", "VARCHAR2"),
            ColumnSpec("P_BRAND", "VARCHAR2"),
            ColumnSpec("P_SIZE", "NUMBER"),
        ],
        field_separator="|",
        string_separator='"',
    )
    return _roundtrip_summary(
        scan_csv_permissive(spark, csv_dir, contract),
        F.col("P_BRAND"),
        F.col("P_SIZE").try_cast("long"),
    )


def _json_roundtrip_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSON reader the reference only gestured at
    (``big_data_validator.py:134`` lists "CSV, Parquet or JSON"; only CSV
    exists) — end-to-end: materialize JSON-lines with planted malformed
    rows (every event_id % 101 == 0 is truncated mid-object), scan back
    through ``scan_json`` with an EXPLICIT schema (no inference pre-pass —
    that's a full extra scan at 100 TB) + PERMISSIVE corrupt-record
    capture, and report corrupt/clean metrics in one aggregation.  The
    oracle derives the same counts from the parquet table; value sums
    compare in integer cents so float-addition order can't perturb the
    hash."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    good = F.to_json(F.struct("event_id", "event_type", "value"))
    bad = F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string"),
                   F.lit(', "event_type": "tru'))
    line = F.when(F.col("event_id") % 101 == 0, bad).otherwise(good)
    json_dir = scratch_dir("bdv_json_scan_")
    ev.select(line.alias("value")).write.mode("overwrite").text(json_dir)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    return _roundtrip_summary(
        scan_json(spark, json_dir, schema),
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long"),
    )


@query(
    "scan_permissive_roundtrip",
    oracle="""
    SELECT 'csv' AS source,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN p_partkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS corrupt_rows,
           CAST(COUNT(DISTINCT CASE WHEN p_partkey % 97 <> 0 THEN p_brand END) AS BIGINT) AS clean_distinct_values,
           CAST(SUM(CASE WHEN p_partkey % 97 <> 0 THEN p_size END) AS BIGINT) AS clean_checksum
    FROM part
    UNION ALL
    SELECT 'json',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_id % 101 = 0 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT CASE WHEN event_id % 101 <> 0 THEN event_type END) AS BIGINT),
           CAST(SUM(CASE WHEN event_id % 101 <> 0 THEN ROUND(value * 100) END) AS BIGINT)
    FROM events
    """,
)
def scan_permissive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both permissive scan surfaces (CSV §2a + the JSON path) in one
    oracle-checked row pair — see :func:`_csv_roundtrip_metrics` and
    :func:`_json_roundtrip_metrics` for the per-format plumbing."""
    csv_row = _csv_roundtrip_metrics(spark, sf_dir).select(
        F.lit("csv").alias("source"), "*"
    )
    json_row = _json_roundtrip_metrics(spark, sf_dir).select(
        F.lit("json").alias("source"), "*"
    )
    return csv_row.unionByName(json_row)


@query(
    "scan_parquet_evolving",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS priority_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           ROUND(SUM(o_totalprice), 2) AS price_sum
    FROM orders
    """,
)
def scan_parquet_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mergeSchema union-schema scan, oracle-checked end to end: orders
    is re-written as an EVOLVING ingest directory — an "old" drop
    without ``o_orderpriority`` (even keys) and a "new" drop with it
    (odd keys) — then read back through
    :func:`sources.readers.scan_parquet_evolving`.  The aggregate pins
    the union-schema semantics: the default reader would either drop
    the late column or fail; under mergeSchema the old files surface it
    as NULL, so ``priority_nulls`` must equal the even-key count and the
    numeric checksums must survive the round trip."""
    orders = _t(spark, sf_dir, "orders")
    base = scratch_dir("bdv_evolving_")
    old = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(f"{base}/drop1")
    new.write.mode("overwrite").parquet(f"{base}/drop2")
    merged = _scan_evolving(spark, f"{base}/drop1", f"{base}/drop2")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_orderpriority").isNull().cast("long")).alias(
            "priority_nulls"
        ),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


@query(
    "scan_orc",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_totalprice > 150000
    GROUP BY o_orderpriority
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round trip (§2a enum intent: the reference's reader comment
    names CSV/parquet/JSON; ORC is the other Spark-native columnar
    format — ``big_data_validator.py:134``): orders written to ORC,
    read back through :func:`sources.readers.scan_orc` with a selective
    filter + projection so predicate pushdown and column pruning reach
    the stripe level (plan pinned in tests/test_sources.py), then
    aggregated for the oracle hash."""
    orders = _t(spark, sf_dir, "orders")
    base = scratch_dir("bdv_orc_")
    orders.write.mode("overwrite").orc(f"{base}/orders")
    o = _scan_orc(spark, f"{base}/orders")
    return (
        o.filter(F.col("o_totalprice") > 150000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "scan_unpivot_metrics",
    oracle="""
    WITH m AS (SELECT strftime(date_trunc('month', o_orderdate),
                               '%Y-%m') AS month,
                      CAST(COUNT(*) AS DOUBLE) AS n_orders,
                      ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2)
                        AS revenue,
                      ((2 * CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE)
                                       * 100) AS BIGINT)
                        + COUNT(*)) // (2 * COUNT(*))) / 100.0
                        AS avg_price
               FROM orders GROUP BY 1)
    SELECT month, 'n_orders' AS metric, n_orders AS value FROM m
    UNION ALL
    SELECT month, 'revenue', revenue FROM m
    UNION ALL
    SELECT month, 'avg_price', avg_price FROM m
    """,
)
def scan_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: monthly wide metrics reshaped to long
    ``(month, metric, value)`` via ``DataFrame.unpivot`` — an Expand
    node over the ALREADY-AGGREGATED frame (#months rows), so the
    reshape itself is free at any scale.  The wide→long leg every
    metrics store ingest needs; the profiler emits long format for the
    same reason.  avg_price uses exact integer-cent half-up division —
    a float ``round(avg, 2)`` ties on exact half-cents where Spark
    HALF_UP and DuckDB half-even disagree (the window_moving_avg_7d
    failure class; caught by review before the driver caught it)."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        (
            F.expr(
                "(2 * cast(round(sum(o_totalprice) * 100) as bigint)"
                " + count(1)) div (2 * count(1))"
            )
            / 100.0
        ).alias("avg_price"),
    )
    return m.unpivot(
        ids=["month"],
        values=["n_orders", "revenue", "avg_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "scan_partition_pruned",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS revenue
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning round-trip: orders written
    ``partitionBy(o_orderpriority)`` (the coarse-grained layout lever
    BESIDE Z-order's fine-grained one), read back with a partition
    predicate — the scan lists ONLY the two matching directories
    (PartitionFilters, pinned in tests/test_partition_pruning.py), so
    at 100 TB the 3/5ths of the table in other priorities is never
    even listed.  Aggregates are hash-matched against the unpartitioned
    oracle, proving the partitioned rewrite loses nothing."""
    o = _t(spark, sf_dir, "orders")
    out_dir = scratch_dir("bdv_part_")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        out_dir
    )
    back = spark.read.parquet(out_dir).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "scan_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity < 5 OR l_quantity > 45
                    THEN 1 ELSE 0 END) AS BIGINT) AS qty_violations,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08
                    THEN 1 ELSE 0 END) AS BIGINT) AS disc_violations,
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                    THEN 1 ELSE 0 END) AS BIGINT) AS flag_violations
    FROM lineitem
    """,
)
def scan_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation metrics for FREE on another job via the Observation
    API (``df.observe`` — the Deequ runtime-metrics pattern): the rule
    aggregates ride along a noop write of the full table, so the
    metrics cost ZERO extra scans — at 100 TB this is how ingest-time
    validation avoids doubling the read (every other rule entry here
    pays its own scan; an observed pipeline piggybacks the one it was
    already doing).  The observation is collected AFTER the job
    completes (an action on the observed frame is the contract);
    accumulator-style double-counting on task retries does not apply to
    Observation metrics — Spark reconciles them per-stage exactly
    once."""
    obs = Observation("bdv_rules")
    li = _t(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            ((F.col("l_quantity") < 5) | (F.col("l_quantity") > 45)).cast(
                "long"
            )
        ).alias("qty_violations"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.08)).cast(
                "long"
            )
        ).alias("disc_violations"),
        F.sum(
            (~F.col("l_returnflag").isin("A", "N", "R")).cast("long")
        ).alias("flag_violations"),
    )
    # the job the metrics ride on (in production: the ingest write)
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["qty_violations"],
                row["disc_violations"],
                row["flag_violations"],
            )
        ],
        "n_rows long, qty_violations long, disc_violations long,"
        " flag_violations long",
    )
