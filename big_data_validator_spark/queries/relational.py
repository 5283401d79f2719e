"""Relational analytics entries: joins (broadcast, shuffle, as-of, range,
interval, salted), grouping sets, pivots, percentiles, window frames,
sketch aggregates (HLL, KLL, heavy hitters), correlation and
concentration statistics, and incremental view maintenance."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_validator_spark.functions.udafs import trimmed_mean
from big_data_validator_spark.operators import relational as R
from big_data_validator_spark.operators.cdc import (
    apply_delta_to_group_minmax,
    apply_delta_to_group_totals,
    changeset_delta_rows,
    delta_join_view_rows,
)
from big_data_validator_spark.operators.profile import (
    cramers_v_matrix,
    gini_concentration,
    hhi_by_group,
    kendall_tau_b,
    spearman_rank_corr,
)
from big_data_validator_spark.operators.relational import (
    asof_join_nearest,
    equidepth_histogram,
    pareto_frontier_2d,
    point_in_time_join,
    salted_skew_join,
)
from big_data_validator_spark.operators.sketches import (
    kll_quantile_monitor,
    kll_rolling_monitor,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the headline group-agg (partial
    aggregation map-side; shuffle carries only group keys + sums)."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("2001-09-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "agg_distribution_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(l_extendedprice) AS BIGINT) AS value_count,
           ROUND(MIN(l_extendedprice), 2) AS min_value,
           ROUND(MAX(l_extendedprice), 2) AS max_value,
           ROUND(AVG(l_extendedprice), 2) AS avg_value,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) AS stddev_value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = R.distribution_stats(li, "l_extendedprice", ["l_returnflag"])
    return out.select(
        "l_returnflag",
        "value_count",
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round("avg_value", 2).alias("avg_value"),
        F.round("stddev_value", 2).alias("stddev_value"),
    )


@query(
    "set_intersect_priority_profiles",
    oracle="""
    SELECT o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    INTERSECT
    SELECT o_orderstatus, o_orderpriority
    FROM orders WHERE o_orderkey % 3 = 0
    """,
)
def set_intersect_priority_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) between two snapshot projections — with
    `drift_snapshots`' exceptAll this completes the set-op family.  Spark
    plans it as an aggregate + join on all columns; both sides prune to
    the two projected columns at the scan."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderstatus", "o_orderpriority"
    )
    return a.intersect(b)


@query(
    "agg_salted_skew_counts",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS line_count,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_skew_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation over a deliberately hot key space
    (3 distinct l_returnflag values across all of lineitem — the worst
    case for a group-by, every key is hot).  Phase 1 spreads each key over
    16 salt buckets, phase 2 merges partials (one row per key per bucket
    crosses the second shuffle).  Result is EXACTLY the plain GROUP BY —
    the oracle proves it; AQE can't help here because the group-by
    contract pins a key to one reducer."""
    li = _t(spark, sf_dir, "lineitem")
    out = R.salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "line_count": F.count(F.lit(1)),
            "total_qty": F.sum("l_quantity"),
        },
    )
    return out.select(
        "l_returnflag",
        "line_count",
        F.round("total_qty", 2).alias("total_qty"),
    )


@query(
    "topk_order_values",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total_price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def topk_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return R.top_k_by(o, "o_totalprice", 10, tiebreak_cols=["o_orderkey"]).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total_price")
    )


@query(
    "window_dedup_rank",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey, ROUND(l_extendedprice, 2) AS extended_price
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_orderkey, l_linenumber
        ORDER BY l_extendedprice, l_partkey, l_suppkey, l_quantity
      ) AS rn FROM lineitem
    ) WHERE rn = 1
    """,
)
def window_dedup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate elimination keeping one deterministic winner per key —
    `row_number` window (one shuffle on the key)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_extendedprice", "l_partkey", "l_suppkey", "l_quantity"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.round("l_extendedprice", 2).alias("extended_price"),
        )
    )


@query(
    "join_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: 3-way join, filtered, top-10 by revenue."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate").cast("date") > F.lit("1998-03-15").cast("date"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "join_region_revenue",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way star join: small dims broadcast, single shuffle on the fact
    side's aggregated keys."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@query(
    "join_part_enrichment",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS line_count,
           ROUND(AVG(p.p_retailprice), 4) AS avg_retail,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
)
def join_part_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim enrichment with an explicit broadcast hint — the dim never
    shuffles the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("line_count"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@query(
    "agg_rollup_region_nation",
    oracle="""
    SELECT COALESCE(r.r_name, 'ALL') AS region_name,
           CASE WHEN r.r_name IS NULL THEN 'ALL'
                ELSE COALESCE(n.n_name, 'ALL') END AS nation_name,
           ROUND(SUM(o.o_totalprice), 2) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ``rollup`` — Spark plans ONE aggregation
    with an Expand node (each row fans out per grouping set map-side), not
    one job per level.  NULL grouping keys are labeled 'ALL' so the result
    is oracle-hashable."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.when(F.col("r_name").isNull(), F.lit("ALL"))
            .otherwise(F.coalesce("n_name", F.lit("ALL")))
            .alias("nation_name"),
            "total_price",
            "order_count",
        )
    )


@query(
    "join_full_outer_reconcile",
    oracle="""
    WITH c2 AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0
    ),
    oc AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS order_count
      FROM orders WHERE o_custkey % 11 <> 0 GROUP BY o_custkey
    )
    SELECT COALESCE(c2.c_custkey, oc.o_custkey) AS custkey,
           c2.c_custkey IS NOT NULL AS in_customer,
           COALESCE(oc.order_count, 0) AS order_count
    FROM c2 FULL OUTER JOIN oc ON c2.c_custkey = oc.o_custkey
    WHERE c2.c_custkey IS NULL OR oc.o_custkey IS NULL
    """,
)
def join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source reconciliation via FULL OUTER join: customers with no
    orders AND order custkeys dangling outside the customer table, in one
    pass — the two-sided variant of the left-anti referential check.  The
    fact side is pre-aggregated to one row per key BEFORE the join, so the
    outer join matches key-to-key (no row multiplication) and the shuffle
    carries (key, count) pairs, not order rows.  The synthetic tables
    reconcile perfectly, so each side drops a deterministic key slice
    (%7 / %11) to plant discrepancies in both directions — the operator
    under test is the join, not the planted filter."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey")
    )
    oc = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 11 != 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    joined = c.join(oc, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
    return joined.filter(
        F.col("c_custkey").isNull() | F.col("o_custkey").isNull()
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().alias("in_customer"),
        F.coalesce("order_count", F.lit(0)).alias("order_count"),
    )


@query(
    "agg_cube_segment_status",
    oracle="""
    SELECT CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL' ELSE c_mktsegment END AS segment,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE o_orderstatus END AS status,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY CUBE(c_mktsegment, o_orderstatus)
    """,
)
def agg_cube_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^n grouping-set combinations via ``cube`` — like rollup this is
    ONE aggregation behind an Expand node (rows fan out per grouping set
    map-side), not 4 jobs.  ``F.grouping`` distinguishes a real NULL key
    from a subtotal row, which keeps the 'ALL' labeling unambiguous."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    return (
        joined.cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("order_count"),
            # grouping() is only resolvable inside the Aggregate node
            F.grouping("c_mktsegment").alias("_g_seg"),
            F.grouping("o_orderstatus").alias("_g_st"),
        )
        .select(
            F.when(F.col("_g_seg") == 1, F.lit("ALL"))
            .otherwise(F.col("c_mktsegment"))
            .alias("segment"),
            F.when(F.col("_g_st") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            "total_price",
            "order_count",
        )
    )


@query(
    "join_semi_returned_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           ROUND(o.o_totalprice, 2) AS total_price
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    """,
)
def join_semi_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style filtering via LEFT SEMI join: orders with ≥1 returned
    line.  The semi join never materializes lineitem columns — the probe
    side is pruned to ``l_orderkey`` alone (filter + projection pushed to
    the scan), and the build side short-circuits on first match instead of
    multiplying matches like an inner join + distinct would."""
    o = _t(spark, sf_dir, "orders")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return o.join(
        li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles (``F.percentile`` ==
    ``quantile_cont``).  Exact percentiles sort each group's values; the
    100 TB path is ``F.approx_percentile`` (t-digest sketch, mergeable
    map-side, no per-group sort) — exact kept here because sketches are
    engine-specific and the oracle gate needs bit-stable output."""
    li = _t(spark, sf_dir, "lineitem")
    pcts = {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p99": 0.99}
    # ONE percentile aggregate over an array of quantiles: the group's
    # values are buffered and sorted once, not once per quantile
    arr = F.percentile(
        "l_extendedprice", F.array(*[F.lit(q) for q in pcts.values()])
    )
    agg = li.groupBy("l_returnflag").agg(arr.alias("_p"))
    return agg.select(
        "l_returnflag",
        *[
            F.round(F.col("_p")[i], 4).alias(name)
            for i, name in enumerate(pcts)
        ],
    )


@query(
    "pivot_priority_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS status_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS status_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an *explicit* value list — omitting it would cost an
    extra distinct-values job over the full table before the real
    aggregation could even be planned."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
    FROM orders WHERE o_custkey < 100
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer — running-frame window (ROWS
    UNBOUNDED PRECEDING), one shuffle on the partition key."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
            2,
        ).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "supplier_acctbal_by_nation",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS supplier_count,
           ROUND(SUM(s.s_acctbal), 2) AS total_acctbal,
           ROUND(AVG(s.s_acctbal), 4) AS avg_acctbal,
           CAST(SUM(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_balance_count
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1
    """,
)
def supplier_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier balance profile per nation (broadcast dim) with a
    negative-balance violation counter folded into the same pass."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("supplier_count"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
            F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
            F.sum((F.col("s_acctbal") < 0).cast("long")).alias(
                "negative_balance_count"
            ),
        )
    )


@query(
    "join_asof_orders_events",
    oracle="""
    WITH day_orders AS (
      SELECT o_custkey, o_orderdate,
             CAST(COUNT(*) AS BIGINT) AS day_order_count,
             ROUND(MAX(o_totalprice), 2) AS max_total
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id,
           strftime(d.o_orderdate, '%Y-%m-%d') AS last_order_date,
           d.day_order_count, d.max_total
    FROM events e
    ASOF LEFT JOIN day_orders d
      ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
    """,
)
def join_asof_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment: each event picks up the customer's most recent
    order-day stats (union-and-fill window formulation; DuckDB's native
    ASOF JOIN is the oracle).  Right side pre-aggregated per (key, day) so
    the as-of winner is unique → deterministic."""
    ev = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    day_orders = o.groupBy("o_custkey", "o_orderdate").agg(
        F.count(F.lit(1)).alias("day_order_count"),
        F.round(F.max("o_totalprice"), 2).alias("max_total"),
    )
    out = R.asof_join(
        ev.select("event_id", "user_id", "ts"),
        day_orders.withColumnRenamed("o_orderdate", "_ots"),
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="_ots",
        value_cols=["_ots", "day_order_count", "max_total"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("_ots", "yyyy-MM-dd").alias("last_order_date"),
        "day_order_count",
        "max_total",
    )


@query(
    "join_range_value_buckets",
    oracle="""
    WITH buckets(bucket_name, lo, hi) AS (
      VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1000.0)
    )
    SELECT COALESCE(b.bucket_name, 'none') AS bucket_name,
           CAST(COUNT(*) AS BIGINT) AS event_count,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    LEFT JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
)
def join_range_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-bucket range join: broadcast nested-loop against a 3-row
    bucket dim (fact side never shuffles for the join; the only shuffle is
    the final 3-group aggregation)."""
    ev = _t(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1000.0)],
        ["bucket_name", "lo", "hi"],
    )
    return (
        R.range_bucket_join(ev, buckets, "value")
        .groupBy(
            F.coalesce("bucket_name", F.lit("none")).alias("bucket_name")
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d_orderkey,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS d_partkey,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS d_suppkey
    FROM lineitem
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (oracle-checkable).  Tail entry: in-window
    `rule_uniqueness_metrics` carries the exact-distinct oracle row; this
    remains the reference point for `agg_approx_distinct`'s error-bound
    pytest."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_orderkey").alias("d_orderkey"),
        F.count_distinct("l_partkey").alias("d_partkey"),
        F.count_distinct("l_suppkey").alias("d_suppkey"),
    )


@query("agg_approx_distinct")  # HLL sketch values are engine-specific: rows-only
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB distinct-count path: HyperLogLog++ sketches
    (``approx_count_distinct``).  Unlike ``count_distinct`` — which
    shuffles every distinct value — the sketch is a fixed few-KB buffer
    merged map-side, so cost is independent of cardinality.  rsd=0.01
    bounds relative error at ~1%; pytest pins the bound against the exact
    counts (engine-specific sketch values can't hash-match a SQL oracle)."""
    # NOT rebalanced (r14 A/B): fanning the HLL update out to 32 tasks
    # measured WORSE (2.4s -> 3.9s) — the round-robin exchange of every
    # raw row costs more than the 3-split register updates save, the
    # same scan->aggregate lesson as the r13 rebalance audit.
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("ad_orderkey"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("ad_partkey"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("ad_suppkey"),
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS parts_hit,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS orders_hit
    FROM lineitem l JOIN part p
      ON l.l_extendedprice >= p.p_partkey * 5.0
     AND l.l_extendedprice < p.p_partkey * 5.0 + 10.0
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact RANGE join at scale: both sides bin to a common grid so
    the non-equi predicate becomes a hash EQUI-join on the bin id plus an
    exact residual filter — shuffle O(rows), never a nested loop
    (operators/relational.py: binned_range_join; the broadcast-BNL twin
    `join_range_value_buckets` stays the right shape for tiny dims).
    Interval windows are keyed off p_partkey so they SPREAD across the
    price domain (~2 matches per point) — the earlier p_retailprice*10
    construction bunched all 20k windows into one narrow band, which made
    the benchmark enumerate 2.3e8 legitimately-matching pairs at sf0.1
    (any exact algorithm pays that); selectivity, not the plan, was the
    cost.  Count-based result so the float join bounds stay hash-exact
    (partkey*5.0 and +10.0 are exact in double)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") * 5.0).alias("lo"),
        (F.col("p_partkey") * 5.0 + 10.0).alias("hi"),
    )
    joined = R.binned_range_join(li, part, "l_extendedprice", bin_width=10.0)
    return joined.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.count_distinct("p_partkey").alias("parts_hit"),
        F.count_distinct("l_orderkey").alias("orders_hit"),
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH l AS (SELECT p_partkey AS lid, p_retailprice AS l_lo,
                      p_retailprice + 50 AS l_hi FROM part),
         r AS (SELECT s_suppkey AS rid, s_acctbal * 0.5 AS r_lo,
                      s_acctbal * 0.5 + 80 AS r_hi FROM supplier)
    SELECT CAST(COUNT(*) AS BIGINT) AS pairs,
           CAST(COUNT(DISTINCT lid) AS BIGINT) AS parts_hit,
           CAST(COUNT(DISTINCT rid) AS BIGINT) AS supps_hit
    FROM l JOIN r ON l_lo < r_hi AND r_lo < l_hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join as a binned equi-join with
    canonical-bin dedup (operators/relational.py:
    binned_interval_overlap_join) — supplier balance ranges include
    negative coordinates, exercising floor-division binning below zero.
    Count-based result so float bounds stay hash-exact."""
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("lid"),
        F.col("p_retailprice").alias("l_lo"),
        (F.col("p_retailprice") + 50).alias("l_hi"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"),
        (F.col("s_acctbal") * 0.5).alias("r_lo"),
        (F.col("s_acctbal") * 0.5 + 80).alias("r_hi"),
    )
    joined = R.binned_interval_overlap_join(
        part, supp, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=100.0
    )
    return joined.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.count_distinct("lid").alias("parts_hit"),
        F.count_distinct("rid").alias("supps_hit"),
    )


@query(
    "agg_trimmed_mean_udaf",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           ROUND(AVG(o_totalprice), 4) AS trimmed_avg_price,
           CAST(COUNT(*) AS BIGINT) AS kept_rows
    FROM ranked
    WHERE rn > CAST(FLOOR(n * 0.1) AS BIGINT)
      AND rn <= n - CAST(FLOOR(n * 0.1) AS BIGINT)
    GROUP BY o_orderpriority
    """,
)
def agg_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A true vectorized Python UDAF (GROUPED_AGG pandas_udf): positional
    10%-trimmed mean of order value per priority — positional trimming
    is not expressible with built-in aggregates (value-based percentile
    filters double-drop ties).  The oracle recomputes the positional
    semantics with a rank window.  Spark refuses to mix GROUPED_AGG with
    JVM aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so
    kept_rows comes from a second aggregate joined on the 5-row key —
    both aggs reuse the same shuffle partitioning (functions/udafs.py:
    trimmed_mean — note its no-partial-agg shuffle contract in the
    module docstring)."""
    orders = _t(spark, sf_dir, "orders")
    trimmed = orders.groupBy("o_orderpriority").agg(
        F.round(trimmed_mean("o_totalprice", 0.1), 4).alias(
            "trimmed_avg_price"
        )
    )
    n = F.count(F.lit(1))
    kept = (n - 2 * F.floor(n * 0.1)).cast("long").alias("kept_rows")
    counts = orders.groupBy("o_orderpriority").agg(kept)
    return trimmed.join(counts, "o_orderpriority")


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS total FROM lineitem)
    SELECT l_quantity AS value,
           CAST(COUNT(*) AS BIGINT) AS exact_count,
           ROUND(COUNT(*) / CAST(t.total AS DOUBLE), 6) AS share
    FROM lineitem, t
    GROUP BY l_quantity, t.total
    HAVING COUNT(*) > 0.019 * t.total
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase heavy hitters: a Misra-Gries-family sketch pass
    (``stat.freqItems``, O(1/support) memory, guaranteed superset of the
    true frequent values) generates candidates, one exact aggregation
    over only candidate rows removes the sketch's false positives — so
    the result is EXACT and hash-checkable despite the approximate
    first pass (operators/relational.py: heavy_hitters)."""
    li = _t(spark, sf_dir, "lineitem")
    return R.heavy_hitters(li, "l_quantity", support=0.019)


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS priority,
           CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                ELSE o_orderstatus END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube are sugar
    for): per (priority, status), per priority, and the grand total in
    ONE aggregation — Catalyst plans a single Expand + partial agg, not
    three jobs; ``GROUPING()`` labels subtotal rows unambiguously
    (a NULL-coalesce label would collide with genuine NULL keys)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.grouping("o_orderpriority").alias("_gp"),
            F.grouping("o_orderstatus").alias("_gs"),
        )
        .select(
            F.when(F.col("_gp") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
            F.when(F.col("_gs") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "window_lag_delta",
    oracle="""
    WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                        AS month,
                      ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2)
                        AS revenue
               FROM orders GROUP BY 1)
    SELECT month, revenue,
           ROUND(revenue - LAG(revenue) OVER (ORDER BY month), 2)
             AS delta,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month) * 100, 4)
             AS pct_change
    FROM m
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas: aggregate to monthly totals
    (map-side combined — the frame shrinks to #months before any
    window), then lag/lead over the SMALL aggregate.  The global
    window's input cardinality is the number of months, not the number
    of orders — the safe way to use an unpartitioned window at 100 TB.
    Deltas are computed from the ROUNDED monthly totals so the
    cross-engine hash never sees raw float jitter."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias(
            "pct_change"
        ),
    )


@query(
    "agg_hll_mergeable",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS est_ok
    FROM orders GROUP BY 1
    UNION ALL
    SELECT 'ALL' AS priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS est_ok
    FROM orders
    """,
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the architecture that makes
    incremental/rollup distinct counts possible at 100 TB: per-group
    Datasketches HLL sketches (``hll_sketch_agg``), with the global
    count obtained by UNIONING THE SKETCHES (``hll_union_agg``), never
    rescanning the data.  Persist per-day sketch bytes and a rolling
    30-day distinct count becomes a 30-row merge.

    Hash discipline: the sketch estimate itself is
    algorithm-specific, so the hashed output is the EXACT per-group
    distinct count (computed alongside) plus ``est_ok`` = "estimate
    within 5% of exact" — the oracle asserts TRUE, so a sketch
    regression flips the hash.  lgConfigK=14 ⇒ ~0.7% expected error."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("_sk"),
        F.count_distinct("o_custkey").cast("long").alias("n_exact"),
    )
    est_ok = (
        F.abs(
            F.hll_sketch_estimate("_sk").cast("double")
            - F.col("n_exact").cast("double")
        )
        / F.col("n_exact").cast("double")
        < 0.05
    ).alias("est_ok")
    per_out = per.select("priority", "n_exact", est_ok)
    merged = (
        per.agg(
            F.hll_union_agg("_sk").alias("_sk"),
        )
        .crossJoin(
            F.broadcast(
                o.agg(
                    F.count_distinct("o_custkey")
                    .cast("long")
                    .alias("n_exact")
                )
            )
        )
        .select(F.lit("ALL").alias("priority"), "n_exact", est_ok)
    )
    return per_out.unionAll(merged)


@query(
    "agg_equidepth_histogram",
    oracle="""
    WITH c AS (SELECT o_totalprice AS v, COUNT(*) AS n FROM orders
               WHERE o_totalprice IS NOT NULL GROUP BY 1),
    cum AS (SELECT v, n,
             COALESCE(SUM(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS ce,
             SUM(n) OVER () AS total FROM c)
    SELECT CAST(LEAST((ce * 10) // total, 9) AS BIGINT) AS bin_id,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM cum GROUP BY 1
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth histogram of order values, 10 bins
    (operators/relational.py: equidepth_histogram).  The oracle is the
    textbook global cumulative window; the Spark plan is
    ``operators.block_scan`` over per-distinct-value counts, so no task
    ever sorts the full value domain.  Bin assignment is exact integer
    arithmetic; any block width yields the identical histogram
    (pinned in tests)."""
    o = _t(spark, sf_dir, "orders")
    return equidepth_histogram(
        o, "o_totalprice", n_bins=10, block_width=10000.0
    )


@query(
    "agg_correlation_matrix",
    oracle="""
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS pearson_r,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND(corr(l_quantity, l_discount), 6),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND(corr(l_extendedprice, l_discount), 6),
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    """,
)
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations for the numeric lineitem columns —
    ALL pairs in ONE aggregation over one scan (``corr`` is a single
    streaming co-moment buffer per pair; the naive form runs one job
    per pair), exploded to long ``(col_a, col_b, pearson_r, n)`` rows
    like the profiler.  The feature-screening statistic every tabular
    pipeline wants from 100 TB without N² scans."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_extendedprice", "l_discount"),
    ]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"__r_{i}")
        for i, (a, b) in enumerate(pairs)
    ] + [F.count(F.lit(1)).cast("long").alias("__n")]
    wide = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col(f"__r_{i}").alias("pearson_r"),
            F.col("__n").alias("n"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return wide.select(F.explode(F.array(*structs)).alias("_s")).select(
        "_s.*"
    )


@query(
    "window_moving_avg_7d",
    oracle="""
    WITH d AS (SELECT CAST(date_trunc('day', o_orderdate) AS DATE)
                        AS day,
                      CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                        AS BIGINT) AS cents
               FROM orders GROUP BY 1),
    k AS (SELECT day, cents,
                 CAST(day - DATE '1970-01-01' AS BIGINT) AS day_idx
          FROM d),
    w AS (SELECT day, cents,
                 SUM(cents) OVER (ORDER BY day_idx RANGE BETWEEN
                   6 PRECEDING AND CURRENT ROW) AS wsum,
                 COUNT(*) OVER (ORDER BY day_idx RANGE BETWEEN
                   6 PRECEDING AND CURRENT ROW) AS wdays
          FROM k)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           cents / 100.0 AS revenue,
           ((2 * wsum + wdays) // (2 * wdays)) / 100.0 AS avg_7d,
           CAST(wdays AS BIGINT) AS days_in_window
    FROM w
    """,
)
def window_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue with a RANGE window frame —
    unlike a ROWS frame, RANGE BETWEEN 6 PRECEDING spans CALENDAR days,
    so gaps in the date sequence shrink the window instead of silently
    reaching further back (``days_in_window`` exposes exactly that).
    Aggregate-to-days first: the unpartitioned window runs over #days
    rows, never orders.  The average is computed in EXACT integer
    cents with explicit half-up division — a float ``round(avg, 2)``
    lands on exact half-cents whenever a window holds two days, where
    Spark's HALF_UP and DuckDB's half-even disagree (found the hard
    way; rounding only absorbs float JITTER, not exact ties)."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(
        F.round(F.sum("o_totalprice") * 100)
        .cast("long")
        .alias("cents")
    )
    k = d.withColumn("day_idx", F.datediff("day", F.lit("1970-01-01")))
    w = Window.orderBy("day_idx").rangeBetween(-6, 0)
    win = k.select(
        "day",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wdays"),
    )
    return win.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("cents") / 100.0).alias("revenue"),
        (
            F.expr("(2 * wsum + wdays) div (2 * wdays)") / 100.0
        ).alias("avg_7d"),
        F.col("wdays").cast("long").alias("days_in_window"),
    )


@query(
    "mining_frequent_pairs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY support DESC, item_a ASC, item_b ASC LIMIT 20
    """,
)
def mining_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: the 20 part pairs most often
    bought in the same order (support ≥ 2), in the TWO-exchange basket
    shape (VERDICT r5 #1; the old distinct + self-join planned four):
    ``groupBy(order).collect_set(item)`` builds each basket in one
    shuffle (collect_set dedups, replacing the old ``distinct()``
    pass), pair expansion is ROW-LOCAL array code (sorted basket,
    ordered pairs via indexed transform + slice — identical Σ k²/2
    blowup math, zero extra exchanges), and the pair count is the
    second and last shuffle.  Top-k plans as TakeOrderedAndProject
    with full tie-breaks."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("_items")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_items"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("_items"),
                    i + 2,
                    F.greatest(
                        F.size(F.col("_items")) - i - 1, F.lit(0)
                    ),
                ),
                lambda y: F.struct(
                    x.alias("item_a"), y.alias("item_b")
                ),
            ),
        )
    )
    pairs = baskets.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.item_a"), F.col("p.item_b")
    )
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(
            F.col("support").desc(),
            F.col("item_a").asc(),
            F.col("item_b").asc(),
        )
        .limit(20)
    )


#: Shared by the batch and streaming incremental-totals entries: both
#: maintain per-priority totals over the same planted changeset, so one
#: recompute-from-scratch oracle checks both.
_MV_TOTALS_ORACLE = """
    WITH incoming AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 5 = 0
                  THEN CAST(o_totalprice AS DECIMAL(18,6))
                       + CAST(10.5 AS DECIMAL(18,6))
                  ELSE CAST(o_totalprice AS DECIMAL(18,6)) END AS v
      FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,6))
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(v * 1000000 AS BIGINT)) AS BIGINT)
             AS total_micro
    FROM incoming GROUP BY 1
    """


@query(
    "agg_incremental_totals",
    oracle=_MV_TOTALS_ORACLE,
)
def agg_incremental_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance (operators/cdc.py:
    changeset_delta_rows + apply_delta_to_group_totals): a per-priority
    count/total summary of yesterday's orders is advanced to today's
    state by applying SIGNED delta rows (+new/-old, emitted by one
    full-outer key join whose volume is the CHANGE RATE, not the
    table) — deletes, price updates, and inserts all maintained without
    rescanning the base.  The ORACLE is the full recompute over the
    incoming snapshot, so the driver check IS the
    incremental-equals-recompute invariant.  Money ACCUMULATES in
    exact DECIMAL (float increments would drift from the recomputed
    truth) but SHIPS as micro-unit BIGINT ``total_micro`` — scale-6
    decimals convert to micro-units exactly, and wide-decimal output
    columns broke the round-7 driver value-hash (decimal128
    canonicalization diverges across engines' materialization layers;
    BIGINT's does not).  Overflow-guarded, same discipline as the
    deci-cent ``cdc_apply_changeset``."""
    current, incoming = _mv_snapshots(spark, sf_dir)
    summary = current.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("total").alias("total"),
    )
    deltas = changeset_delta_rows(
        current, incoming, ["o_orderkey"], ["o_orderpriority", "total"]
    )
    maintained = apply_delta_to_group_totals(
        summary,
        deltas,
        group_cols=["o_orderpriority"],
        sum_cols=["total"],
        count_col="n_orders",
    )
    return maintained.select(
        "o_orderpriority",
        "n_orders",
        _mv_total_micro().alias("total_micro"),
    )


def _mv_total_micro(col: str = "total"):
    """Exact scale-6 DECIMAL → micro-unit BIGINT for the MV entries'
    SHIPPED total (the accumulation stays DECIMAL; wide-decimal output
    columns broke the round-7 driver value-hash).  Narrow to
    DECIMAL(25,6) first so the ×10⁶ product (→ DECIMAL(33,6)) never
    hits Spark's precision-38 cap and silently loses scale; the guard
    raises loudly before the narrowing could overflow (|total| bound
    9.2e12 keeps the micro value inside BIGINT with 10× headroom to
    DECIMAL(25,6)'s own 1e19 range)."""
    t = F.col(col)
    guarded = F.when(
        t.isNotNull() & (F.abs(t) > F.lit(9_200_000_000_000.0)),
        F.raise_error(
            F.lit(
                "mv total overflows micro-unit BIGINT; ship coarser "
                "integer units"
            )
        ).cast("decimal(25,6)"),
    ).otherwise(t.cast("decimal(25,6)"))
    return (guarded * F.lit(1000000).cast("decimal(7,0)")).cast("long")


def _mv_snapshots(spark: SparkSession, sf_dir: str):
    """The current/incoming snapshot pair shared by the batch
    (agg_incremental_totals) and streaming (streaming_incremental_mv)
    maintenance entries — one definition, one oracle shape."""
    o = _t(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("decimal(18,6)")
    current = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderpriority", v.alias("total")
    )
    bumped = F.when(
        F.col("o_orderkey") % 5 == 0,
        v + F.expr("CAST(10.5 AS DECIMAL(18,6))"),
    ).otherwise(v)
    incoming = (
        o.filter(
            (F.col("o_orderkey") % 10 != 0) & (F.col("o_orderkey") % 7 != 0)
        )
        .select("o_orderkey", "o_orderpriority", bumped.alias("total"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_orderpriority",
                v.alias("total"),
            )
        )
    )
    return current, incoming


@query(
    "agg_incremental_minmax",
    oracle="""
    WITH incoming AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
             + CASE WHEN o_orderkey % 5 = 0 THEN 10500000 ELSE 0 END
               AS value_micro
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
      FROM orders WHERE o_orderkey % 13 = 0)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(value_micro) AS BIGINT) AS value_micro_min,
           CAST(MAX(value_micro) AS BIGINT) AS value_micro_max
    FROM incoming GROUP BY 1
    """,
)
def agg_incremental_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MIN/MAX view maintenance (operators/cdc.py:
    apply_delta_to_group_minmax — VERDICT r7 item 4): the
    non-distributive half of IVM, where deleting an extremum holder
    forces a RETREAT only the surviving rows can answer, so touched
    groups recompute from the new base (LEFT SEMI on the
    change-rate-sized touched-group set) while untouched groups pass
    through from the stored summary.  The scenario PLANTS the retreat:
    every ``o_orderkey %% 7 == 0`` row carries a ±1e12-micro boost in
    the current snapshot — making it its group's max (even keys) or
    min (odd keys) — and exactly those rows are deleted in the
    incoming snapshot, so every group's min AND max must retreat to
    normal price scale; %%5 keys get a price bump (update), %%13 keys
    spawn inserts.  The oracle is the full recompute over incoming —
    the driver check IS incremental-equals-recompute under forced
    retreats.  All-integer micro values, BIGINT end-to-end."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    micro = F.round(F.col("o_totalprice") * 100).cast("long") * 10000
    boost = F.when(
        k % 7 == 0,
        F.when(k % 2 == 0, F.lit(1_000_000_000_000)).otherwise(
            F.lit(-1_000_000_000_000)
        ),
    ).otherwise(F.lit(0))
    current = o.select(
        "o_orderkey",
        "o_orderpriority",
        (micro + boost).alias("value_micro"),
    )
    incoming = (
        o.filter(k % 7 != 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            (
                micro
                + F.when(k % 5 == 0, F.lit(10_500_000)).otherwise(F.lit(0))
            ).alias("value_micro"),
        )
        .unionByName(
            o.filter(k % 13 == 0).select(
                (k + 100000000).alias("o_orderkey"),
                "o_orderpriority",
                micro.alias("value_micro"),
            )
        )
    )
    summary = current.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("value_micro").alias("value_micro_min"),
        F.max("value_micro").alias("value_micro_max"),
    )
    deltas = changeset_delta_rows(
        current, incoming, ["o_orderkey"], ["o_orderpriority", "value_micro"]
    )
    return apply_delta_to_group_minmax(
        summary,
        incoming,
        deltas,
        group_cols=["o_orderpriority"],
        minmax_cols=["value_micro"],
        count_col="n_orders",
    )


@query(
    "join_salted_skew",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0
                  ELSE l_orderkey % 97 END AS k,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents
      FROM lineitem),
    dim AS (
      SELECT i AS k,
             CASE WHEN i = 0 THEN 'hot' ELSE 'cold' END AS label
      FROM generate_series(0, 96) AS t(i))
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(qty_cents) AS BIGINT) AS sum_qty_cents
    FROM fact JOIN dim USING (k) GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salt-replication join under ENGINEERED skew
    (operators/relational.py: salted_skew_join): ~30%% of lineitem is
    funneled onto one hot key (``l_orderkey %% 10 < 3 → 0``), the 97-row
    dim is joined through salt-replication — each big row takes a
    deterministic xxhash64 salt, the dim explodes ``salt`` ways
    map-side, and the equi-join runs on (key, salt) so the hot key
    fans across reducers instead of owning one.  The ORACLE is the
    plain unsalted join (salt-invariance IS the correctness property);
    the skew SHAPE — no broadcast, hot key split across partitions —
    is pinned in tests/test_relational.py with the broadcast threshold
    disabled.  This is the static-plan alternative to AQE's runtime
    skew split for engines/pipelines where AQE's thresholds don't
    fire."""
    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(0))
        .otherwise(F.col("l_orderkey") % 97)
        .alias("k"),
        F.round(F.col("l_quantity") * 100)
        .cast("long")
        .alias("qty_cents"),
    )
    dim = spark.range(0, 97).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 0, F.lit("hot"))
        .otherwise(F.lit("cold"))
        .alias("label"),
    )
    joined = salted_skew_join(fact, dim, ["k"], salt=8)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("qty_cents").cast("long").alias("sum_qty_cents"),
    )


#: The as-of oracles' union of purchases (``is_r`` 0) and clicks (1).
_ASOF_UNION = """
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    u AS (
      SELECT user_id, ts AS t, 0 AS is_r, ts AS p_ts,
             CAST(NULL AS TIMESTAMP) AS rt
      FROM p
      UNION ALL
      SELECT user_id, ts, 1, NULL, ts FROM c),"""
#: The as-of oracles' result from CTE ``tol``: each purchase, its chosen
#: click and the gap in microseconds.
_ASOF_GAPS = """
    SELECT user_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(chosen, '%Y-%m-%d %H:%M:%S') AS click_ts,
           CAST(epoch_us(chosen) - epoch_us(p_ts) AS BIGINT)
             AS asof_gap_us
    FROM tol"""


def _purchase_click_asof(
    spark: SparkSession, sf_dir: str, direction: str
) -> DataFrame:
    """Each purchase with the click by the same user that an as-of join
    in ``direction`` picks within 2 hours, and the gap in microseconds."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("ts").alias("click_ts")
    )
    out = asof_join_nearest(
        purchases, clicks, "user_id", "user_id", "ts", "c_ts", ["click_ts"],
        tolerance_seconds=7200, direction=direction,
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "asof_gap_us",
    )


@query(
    "join_asof_nearest",
    oracle=f"""{_ASOF_UNION}
    w AS (
      SELECT *,
        LAST_VALUE(rt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_r DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_rt,
        FIRST_VALUE(rt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_r DESC
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_rt
      FROM u),
    sel AS (
      SELECT user_id, p_ts,
        CASE WHEN back_rt IS NULL THEN fwd_rt
             WHEN fwd_rt IS NULL THEN back_rt
             WHEN epoch_us(p_ts) - epoch_us(back_rt)
                  <= epoch_us(fwd_rt) - epoch_us(p_ts)
             THEN back_rt ELSE fwd_rt END AS chosen
      FROM w WHERE is_r = 0),
    tol AS (
      SELECT user_id, p_ts,
        CASE WHEN chosen IS NOT NULL
                  AND ABS(epoch_us(chosen) - epoch_us(p_ts))
                      <= 7200000000
             THEN chosen END AS chosen
      FROM sel){_ASOF_GAPS}
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (operators/relational.py: asof_join_nearest):
    every purchase matched to the CLOSEST click by the same user —
    before or after, ties toward backward, 2-hour tolerance — the
    pandas merge_asof(direction='nearest') surface the backward-only
    as-of can't express (sensor fusion, nearest-touch attribution).
    Union-and-fill with TWO window passes over ONE key shuffle
    (backward last + forward first reuse the same exchange and sort);
    the gap is exact integer microseconds, so the verdict is
    hash-stable where double-epoch arithmetic would flip trailing
    digits."""
    return _purchase_click_asof(spark, sf_dir, "nearest")


@query(
    "join_asof_forward",
    oracle=f"""{_ASOF_UNION}
    w AS (
      SELECT *,
        FIRST_VALUE(rt IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY t, is_r ASC
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_rt
      FROM u),
    tol AS (
      SELECT user_id, p_ts,
        CASE WHEN fwd_rt IS NOT NULL
                  AND epoch_us(fwd_rt) - epoch_us(p_ts) <= 7200000000
             THEN fwd_rt END AS chosen
      FROM w WHERE is_r = 0){_ASOF_GAPS}
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/relational.py: asof_join_nearest,
    direction='forward'): every purchase matched to the NEXT click by
    the same user at-or-after the purchase (exact-timestamp inclusive,
    gap 0), 2-hour tolerance — the pandas
    merge_asof(direction='forward') surface (post-purchase follow-up
    attribution, next-reading sensor alignment).  Same union-and-fill
    frame as the nearest/backward directions — ONE shuffle on the key,
    one window pass (``first(ignorenulls)`` over the following frame)
    — with the union's secondary sort key flipped so equal-timestamp
    right rows land on the inclusive (forward) side.  The nearest twin
    `join_asof_nearest` rotated to the tail this round; the full
    direction grid is pinned in tests/test_relational.py."""
    return _purchase_click_asof(spark, sf_dir, "forward")


@query(
    "join_point_in_time",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'click' AND value IS NOT NULL),
    u AS (
      SELECT user_id, ts AS t, 0 AS is_r, ts AS p_ts,
             CAST(NULL AS TIMESTAMP) AS rt, CAST(NULL AS DOUBLE) AS v
      FROM p
      UNION ALL
      SELECT user_id, ts, 1, NULL, ts, value FROM c),
    w AS (
      SELECT *,
        LAST_VALUE(rt IGNORE NULLS) OVER win AS brt,
        LAST_VALUE(v IGNORE NULLS) OVER win AS bv
      FROM u
      WINDOW win AS (PARTITION BY user_id ORDER BY t, is_r DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    sel AS (SELECT user_id, p_ts, brt, bv FROM w WHERE is_r = 0),
    tol AS (
      SELECT user_id, p_ts,
        CASE WHEN brt IS NOT NULL
                  AND epoch_us(p_ts) - epoch_us(brt) <= 7200000000
             THEN brt END AS crt,
        CASE WHEN brt IS NOT NULL
                  AND epoch_us(p_ts) - epoch_us(brt) <= 7200000000
             THEN bv END AS cv
      FROM sel)
    SELECT user_id,
           strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           cv AS click_value,
           CAST(epoch_us(p_ts) - epoch_us(crt) AS BIGINT)
             AS feature_age_us
    FROM tol
    """,
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store POINT-IN-TIME-CORRECT join
    (operators/relational.py: point_in_time_join): every purchase picks
    up the latest click-derived feature (the click's value) at-or-before
    the purchase for the same user — never a future one (the
    training-set construction rule that prevents feature leakage /
    training-serving skew) — with a 2-hour feature TTL and the
    feature's age at fact time in exact integer microseconds (the
    staleness distribution a serving monitor watches).  NULL-valued
    feature rows are excluded (a NULL feature is no feature — and it
    keeps the oracle's two aligned IGNORE NULLS windows exact).  One
    shuffle on the key, one keyed window pass — equi-join cost at any
    scale."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    clicks = ev.filter(
        (F.col("event_type") == "click") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    out = point_in_time_join(
        purchases,
        clicks,
        key="user_id",
        fact_ts="ts",
        feature_ts="c_ts",
        feature_cols=["click_value"],
        ttl_seconds=7200,
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "click_value",
        "feature_age_us",
    )


@query(
    "agg_incremental_join_mv",
    oracle="""
    WITH inc_orders AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
             + CASE WHEN o_orderkey % 5 = 0 THEN 10500000 ELSE 0 END
               AS value_micro
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000
      FROM orders WHERE o_orderkey % 13 = 0),
    inc_cust AS (
      SELECT c_custkey,
             CAST(CASE WHEN c_custkey % 11 = 0
                       THEN (c_nationkey + 1) % 25
                       ELSE c_nationkey END AS BIGINT) AS c_nationkey
      FROM customer)
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(value_micro) AS BIGINT) AS total_micro
    FROM inc_orders JOIN inc_cust ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def agg_incremental_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-aggregate view (operators/
    cdc.py:delta_join_view_rows) — the bilinear extension beyond the
    single-table IVM twins: the maintained view is per-nation order
    revenue, ``orders ⋈ customer GROUP BY c_nationkey``, and BOTH base
    tables change (orders: %%7 deletes / %%5 price updates / %%13
    inserts; customer: every %%11 customer MOVES to the next nation —
    the payload-change case that re-routes every one of that
    customer's old orders between groups).  The signed join delta
    ``Δ(A⋈B) = ΔA⋈B_new ∪ A_old⋈ΔB`` feeds the same
    apply_delta_to_group_totals as the single-table twin; neither base
    join nor base aggregate is recomputed.  The ORACLE is the full
    recompute over both new snapshots — the driver check IS
    incremental-equals-recompute under simultaneous fact and dimension
    churn.  BIGINT micro-units end-to-end (hash discipline).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    k = F.col("o_orderkey")
    micro = F.round(F.col("o_totalprice") * 100).cast("long") * 10000
    cur_orders = o.select(
        "o_orderkey", "o_custkey", micro.alias("value_micro")
    )
    inc_orders = (
        o.filter(k % 7 != 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (
                micro
                + F.when(k % 5 == 0, F.lit(10_500_000)).otherwise(F.lit(0))
            ).alias("value_micro"),
        )
        .unionByName(
            o.filter(k % 13 == 0).select(
                (k + 100000000).alias("o_orderkey"),
                "o_custkey",
                micro.alias("value_micro"),
            )
        )
    )
    nat = F.col("c_nationkey").cast("long")
    cur_cust = c.select("c_custkey", nat.alias("c_nationkey"))
    inc_cust = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 11 == 0, (nat + 1) % 25)
        .otherwise(nat)
        .alias("c_nationkey"),
    )
    # The stored view: join-aggregate of the OLD snapshots.
    summary = (
        cur_orders.join(
            F.broadcast(cur_cust),
            cur_orders["o_custkey"] == cur_cust["c_custkey"],
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("value_micro").alias("value_micro"),
        )
    )
    delta_o = changeset_delta_rows(
        cur_orders, inc_orders, ["o_orderkey"], ["o_custkey", "value_micro"]
    )
    delta_c = changeset_delta_rows(
        cur_cust, inc_cust, ["c_custkey"], ["c_nationkey"]
    )
    joined_delta = delta_join_view_rows(
        a_old=cur_orders.select("o_orderkey", "o_custkey", "value_micro"),
        delta_a=delta_o,
        b_new=F.broadcast(inc_cust),
        delta_b=delta_c,
        left_key="o_custkey",
        right_key="c_custkey",
    )
    view = apply_delta_to_group_totals(
        summary,
        joined_delta,
        group_cols=["c_nationkey"],
        sum_cols=["value_micro"],
        count_col="n_rows",
    )
    return view.select(
        "c_nationkey",
        "n_rows",
        F.col("value_micro").cast("long").alias("total_micro"),
    ).orderBy("c_nationkey")


@query(
    "topk_pareto_frontier",
    oracle="""
    WITH pts AS (
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part)
    SELECT p_partkey, price_cents, p_size
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))
    ORDER BY p_partkey
    """,
)
def topk_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier / skyline (operators/relational.py:
    pareto_frontier_2d): the parts no other part dominates on
    (cheaper-or-equal price, bigger-or-equal size, one strict) — the
    multi-objective generalization of top-k that a single ORDER BY
    cannot express.  The Spark plan is the windowed formulation
    (running max gain over strictly-cheaper rows via an integer RANGE
    frame, plus same-cost max) behind a hash-bucketed LOCAL prefilter,
    so the global sort only ever sees Σ per-bucket frontiers; the
    ORACLE is the INDEPENDENT ``NOT EXISTS`` dominance formulation —
    two different algorithms agreeing on the exact row set.  Integer
    cents per the hash discipline.
    """
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    return pareto_frontier_2d(
        p, cost_col="price_cents", gain_col="p_size", prefilter_buckets=64
    ).select("p_partkey", "price_cents", "p_size").orderBy("p_partkey")


@query(
    "agg_kll_mergeable",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    d AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1),
    cum AS (SELECT c, SUM(w) OVER (ORDER BY c) AS cle FROM d),
    t AS (SELECT pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90), (99)) AS q(pct), n)
    SELECT CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.cle >= t.r
    GROUP BY t.pct, t.n_rows
    """,
)
def agg_kll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (operators/sketches.py — VERDICT r8
    item 4, the percentile sibling of agg_hll_mergeable): order values
    in cents are repartitioned by day and flow ONE pass into a
    persistable per-day KLL sketch row, and the global
    p50/p90/p99 is an N-row MERGE of stored sketches — the rolling-
    percentile-without-rescan architecture a 100 TB monitor needs.

    Hash discipline (the agg_hll_mergeable device): sketch internals
    are partitioning-dependent and never ship; the hashed output is
    the EXACT percentile at integer rank ceil(p·n) (block-scan CDF —
    no global sort) plus ``est_ok`` = sketch estimate's rank within
    ±2.5% of target (integer arithmetic), so an accuracy regression
    flips the driver hash.  k=200 measures ~0.3% rank error at this
    scale (tests/test_sketches.py pins ≤1% across random inputs)."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    res = kll_quantile_monitor(
        o,
        value_col="c",
        group_cols=[],
        day_col="day",
        quantile_pcts=[50, 90, 99],
        k=200,
        block_width=1_000_000,
    )
    return res.orderBy("quantile_pct")


@query(
    "agg_kll_by_segment",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS seg,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    n AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
    d AS (SELECT seg, c, CAST(COUNT(*) AS BIGINT) AS w FROM v GROUP BY 1, 2),
    cum AS (SELECT seg, c,
                   SUM(w) OVER (PARTITION BY seg ORDER BY c) AS cle
            FROM d),
    t AS (SELECT n.seg, pct, CAST((pct * n.n + 99) // 100 AS BIGINT) AS r,
                 n.n AS n_rows
          FROM (VALUES (50), (90)) AS q(pct), n)
    SELECT t.seg AS o_orderpriority,
           CAST(t.pct AS INT) AS quantile_pct,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.seg = t.seg AND cum.cle >= t.r
    GROUP BY t.seg, t.pct, t.n_rows
    """,
)
def agg_kll_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-KEY mergeable quantile monitor (operators/sketches.py:
    kll_quantile_monitor with group_cols=["o_orderpriority"] — VERDICT
    r9 item 4): p50/p90 of order value in cents PER PRIORITY SEGMENT
    from stored per-(segment, day) sketch rows — the shape real
    monitors need (p99 latency per customer segment), where
    agg_kll_mergeable runs the same pipeline with no group column.
    The raw rows are repartitioned on (segment, day) BEFORE the partial
    build (one python sketch per stored key, not per partition×key),
    each segment's day rows merge to its estimates, and every estimate
    is verified against the exact PER-GROUP block-scan CDF (windows
    partitioned by segment — no global sort, no cross-group window).
    Hash discipline as agg_kll_mergeable: exact integer percentile at
    rank ceil(p·n_seg) plus the ±2.5% rank verdict ship; sketch
    internals never do."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    res = kll_quantile_monitor(
        o,
        value_col="c",
        group_cols=["o_orderpriority"],
        day_col="day",
        quantile_pcts=[50, 90],
        k=200,
        block_width=1_000_000,
    )
    return res.orderBy("o_orderpriority", "quantile_pct")


@query(
    "agg_kll_rolling",
    oracle="""
    WITH v AS (
      SELECT o_orderdate AS d,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL),
    days AS (
      SELECT CAST(rd AS DATE) AS rd
      FROM generate_series(DATE '1995-01-01', DATE '1995-01-31',
                           INTERVAL 1 DAY) AS g(rd)),
    w AS (
      SELECT days.rd, v.c FROM days JOIN v
        ON v.d > days.rd - INTERVAL 30 DAY AND v.d <= days.rd),
    n AS (SELECT rd, CAST(COUNT(*) AS BIGINT) AS n_rows FROM w GROUP BY 1),
    cum AS (
      SELECT rd, c,
             SUM(COUNT(*)) OVER (PARTITION BY rd ORDER BY c) AS cle
      FROM w GROUP BY rd, c),
    t AS (SELECT n.rd, n.n_rows,
                 CAST((90 * n.n_rows + 99) // 100 AS BIGINT) AS r
          FROM n)
    SELECT STRFTIME(t.rd, '%Y-%m-%d') AS day,
           CAST(MIN(cum.c) AS BIGINT) AS exact,
           t.n_rows AS n_rows,
           TRUE AS est_ok
    FROM t JOIN cum ON cum.rd = t.rd AND cum.cle >= t.r
    GROUP BY t.rd, t.n_rows
    ORDER BY 1
    """,
)
def agg_kll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day p90 of order values for every January-1995 day,
    computed FROM STORED SKETCH ROWS ONLY (operators/sketches.py:
    kll_rolling_monitor) — the query the mergeable-sketch architecture
    exists for: per-day KLL sketches fan out through the bounded
    interval explode (≤30 report days each, the events_rolling_distinct
    device) and each report day MERGES its ≤30 sketch rows; the raw
    table is scanned once to build the day sketches, never per window.
    At 100 TB that is KBs of sketch I/O per report day versus 30 days
    of raw partitions.  Verification ships the exact trailing
    percentile (per-report-day partitioned cumulative counts — no
    global sort) plus the ±2.5% rank verdict, so the hash is
    engine-exact while a sketch-accuracy regression flips it."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    res = kll_rolling_monitor(
        o,
        value_col="c",
        day_col="day",
        pct=90,
        window_days=30,
        report_from="1995-01-01",
        report_to="1995-01-31",
        k=200,
    )
    return res.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact",
        "n_rows",
        "est_ok",
    ).orderBy("day")


@query(
    "agg_winsorized_stats",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT g, v, COUNT(*) AS c FROM base GROUP BY 1, 2),
    cum AS (
      SELECT g, v, c,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM cnts),
    cuts AS (
      SELECT g,
             MIN(CASE WHEN cm >= (10000 * n + 999999) // 1000000
                      THEN v END) AS lo_cut,
             MIN(CASE WHEN cm >= (990000 * n + 999999) // 1000000
                      THEN v END) AS hi_cut,
             ANY_VALUE(n) AS n_rows
      FROM cum GROUP BY 1),
    clamped AS (
      SELECT c0.g, t.n_rows, t.lo_cut, t.hi_cut,
             SUM(CAST(GREATEST(LEAST(c0.v, t.hi_cut), t.lo_cut)
                      AS HUGEINT) * c0.c) AS ws
      FROM cnts c0 JOIN cuts t ON t.g = c0.g
      GROUP BY 1, 2, 3, 4)
    SELECT g AS o_orderpriority, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(lo_cut AS BIGINT) AS lo_cut,
           CAST(hi_cut AS BIGINT) AS hi_cut,
           CAST((ws * 1000000) // n_rows AS BIGINT)
             AS winsorized_mean_scaled,
           CAST(1000000 AS BIGINT) AS scale
    FROM clamped
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of order value (cents) per priority
    (operators/relational.py: winsorized_group_stats): P1/P99 clamping
    — the robust location estimate that keeps outliers IN but caps
    their leverage, beside the trimmed-mean UDAF (drops tails) and the
    median/MAD rule (ignores magnitude).  ONE data shuffle to
    (group, value) counts; the exact lower-quantile cuts AND the
    clamped sum both compute on that shrunken frame (group-partitioned
    windows, parallel across groups — never a second data scan or a
    global sort), and every shipped number is exact integer arithmetic
    (DECIMAL(38,0) sum, truncating-div mean both engines share)."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    return R.winsorized_group_stats(
        cents, "o_orderpriority", "cents",
        lo_ppm=10_000, hi_ppm=990_000,
    )


@query(
    "agg_time_decayed_value",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CAST(date_diff('day', o_orderdate,
                  (SELECT md FROM maxd)) // 365 AS INT) AS age
      FROM orders)
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((SUM(CAST(cents AS HUGEINT)
                     * (CAST(1 AS HUGEINT) << (32 - LEAST(age, 32))))
                 * 2000000 + 429496729600) // 858993459200 AS DOUBLE)
             / 1000000.0 AS decayed_value
    FROM base GROUP BY 1
    """,
)
def agg_time_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT recency-decayed customer value (operators/relational.py:
    time_decayed_group_value): Σ order-cents · 2^−age_years with a
    one-year half-life — each weight an exact binary rational applied
    as a long shift into DECIMAL(38,0), so the scaled aggregate is an
    exact integer on any engine; the float ``pow(0.5, age)`` a naive
    scorer uses never appears.  Row-local weights (the reference date
    is a broadcast 1-row aggregate), then ONE map-side-combined groupBy
    — the only shuffle carries (custkey, decimal) partials."""
    o = _t(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("_md"))
    base = o.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        F.floor(
            F.datediff(F.col("_md"), F.col("o_orderdate")) / 365
        ).alias("age"),
    )
    return R.time_decayed_group_value(
        base, "o_custkey", "cents", "age", max_shift=32
    )


#: The rank-correlation oracles' input: (quantity, discount) pair counts
#: per ship year.
_YEAR_PAIRS = """
    WITH pairs AS (
      SELECT CAST(year(l_shipdate) AS INT) AS yr, l_quantity AS x,
             l_discount AS y, CAST(COUNT(*) AS HUGEINT) AS c
      FROM lineitem GROUP BY 1, 2, 3),"""


@query(
    "agg_spearman_rank",
    oracle=f"""{_YEAR_PAIRS}
    xm AS (
      SELECT yr, x,
             2 * SUM(SUM(c)) OVER (PARTITION BY yr ORDER BY x
                                   ROWS UNBOUNDED PRECEDING)
               - SUM(c) + 1 AS mx
      FROM pairs GROUP BY yr, x),
    ym AS (
      SELECT yr, y,
             2 * SUM(SUM(c)) OVER (PARTITION BY yr ORDER BY y
                                   ROWS UNBOUNDED PRECEDING)
               - SUM(c) + 1 AS my
      FROM pairs GROUP BY yr, y),
    j AS (
      SELECT p.yr, p.c, xm.mx, ym.my
      FROM pairs p
      JOIN xm ON p.yr = xm.yr AND p.x = xm.x
      JOIN ym ON p.yr = ym.yr AND p.y = ym.y),
    s AS (
      SELECT yr, SUM(c) AS n, SUM(c * mx) AS sx, SUM(c * my) AS sy,
             SUM(c * mx * mx) AS sxx, SUM(c * my * my) AS syy,
             SUM(c * mx * my) AS sxy
      FROM j GROUP BY yr)
    SELECT yr AS ship_year, CAST(n AS BIGINT) AS n_rows,
           CASE WHEN (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0 THEN
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS spearman_rho
    FROM s ORDER BY yr
    """,
)
def agg_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ship-year SPEARMAN rank correlation of quantity vs discount
    (operators/profile.py: spearman_rank_corr) — the robust
    monotone-dependence sibling of agg_correlation_matrix's Pearson:
    ranks first, so one wild row cannot drag it and any monotone
    transform leaves it fixed.  Pearson on DOUBLED MIDRANKS (exact
    integers even under ties — the tie-corrected definition, not the
    6-sigma-d-squared shortcut that breaks on ties), every moment an
    exact DECIMAL(38,0) from the (year, x, y) PAIR-COUNT frame; the
    only floats are two square roots and the final quotient (round-6,
    IEEE-identical across engines).  ONE data shuffle (the pair-count
    agg, pinned + released on materialize); midrank windows on the
    |X|x|Y| distinct-value frames (50x11 here) joined back broadcast."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    return spearman_rank_corr(li, "ship_year", "l_quantity", "l_discount")


@query(
    "agg_gini_customer_revenue",
    oracle="""
    WITH perkey AS (
      SELECT o_custkey AS k,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS BIGINT) AS x
      FROM orders GROUP BY 1),
    cnts AS (
      SELECT x, CAST(COUNT(*) AS HUGEINT) AS t FROM perkey GROUP BY 1),
    pfx AS (
      SELECT x, t,
             COALESCE(SUM(t) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND 1 PRECEDING), 0) AS c
      FROM cnts),
    agg AS (
      SELECT SUM(t) AS n, SUM(CAST(x AS HUGEINT) * t) AS s,
             SUM(CAST(x AS HUGEINT) * (2 * t * c + t * t + t)) AS rw
      FROM pfx)
    SELECT CAST(n AS BIGINT) AS n_keys, CAST(s AS BIGINT) AS total_cents,
           CASE WHEN s > 0 THEN
             CAST(((rw - (n + 1) * s) * 1000000) // (n * s) AS BIGINT)
           END AS gini_ppm
    FROM agg
    """,
)
def agg_gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer GINI coefficient of per-customer order revenue
    (operators/profile.py: gini_concentration) — the
    inequality-of-the-whole-curve concentration profiler ("do 1% of
    customers carry 60% of revenue?"), and the single-number skew
    summary a partitioner wants about a key column BEFORE a shuffle
    discovers the skew the hard way.  Per-value tie counts collapse
    the rank-weighted sum to an exact DECIMAL(38,0) identity (no
    float sort, no tie hazard); the cumulative count is
    ``operators.block_scan`` — never a single-task global window, so
    millions of distinct customers rank in parallel."""
    orders = _t(spark, sf_dir, "orders")
    return gini_concentration(orders, "o_custkey", "o_totalprice")


@query(
    "agg_hhi_supplier_nation",
    oracle="""
    WITH perkey AS (
      SELECT s_nationkey AS g, l_suppkey AS k,
             CAST(ROUND(CAST(SUM(l_extendedprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS x
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2),
    agg AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_keys, SUM(x) AS s,
             SUM(x * x) AS sq, MAX(x) AS mx
      FROM perkey GROUP BY 1)
    SELECT g AS nation_key, n_keys, CAST(s AS BIGINT) AS total_cents,
           CASE WHEN s > 0 THEN
             CAST((sq * 1000000) // (s * s) AS BIGINT) END AS hhi_ppm,
           CASE WHEN s > 0 THEN
             CAST((mx * 1000000) // s AS BIGINT) END AS top_share_ppm
    FROM agg ORDER BY g
    """,
)
def agg_hhi_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN supplier-revenue concentration per nation
    (operators/profile.py: hhi_by_group) — Gini's top-weighted
    sibling: Σ share² of each supplier's lineitem revenue within its
    nation, 10⁶ ppm for a monopoly, 10⁶/k for k equal players — plus
    the top supplier's share, all exact DECIMAL(38,0) truncating-div
    integers (no float shares).  The supplier dim joins BROADCAST
    into the fact scan; then two hash aggregations — the (nation,
    supplier) agg is the only data-size shuffle and the nation rollup
    runs on its ~supplier-count output.  Negative per-supplier totals
    raise (share interpretation guard)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("nation_key")
    )
    joined = li.join(
        F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"]
    )
    return hhi_by_group(
        joined, "nation_key", "l_suppkey", "l_extendedprice"
    )


@query(
    "agg_kendall_tau",
    oracle=f"""{_YEAR_PAIRS}
    cd AS (
      SELECT a.yr,
             SUM(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS cc,
             SUM(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS dd
      FROM pairs a JOIN pairs b ON a.yr = b.yr AND b.x > a.x
      GROUP BY 1),
    tx AS (
      SELECT yr, SUM(t * (t - 1)) AS n1x2
      FROM (SELECT yr, x, SUM(c) AS t FROM pairs GROUP BY 1, 2)
      GROUP BY 1),
    ty AS (
      SELECT yr, SUM(t * (t - 1)) AS n2x2
      FROM (SELECT yr, y, SUM(c) AS t FROM pairs GROUP BY 1, 2)
      GROUP BY 1),
    tot AS (SELECT yr, SUM(c) AS n FROM pairs GROUP BY 1)
    SELECT tot.yr AS ship_year, CAST(n AS BIGINT) AS n_rows,
           CAST(2 * COALESCE(cc, 0) AS BIGINT) AS concordant_x2,
           CAST(2 * COALESCE(dd, 0) AS BIGINT) AS discordant_x2,
           CASE WHEN (n * (n - 1) - n1x2) > 0
                 AND (n * (n - 1) - n2x2) > 0 THEN
             ROUND(CAST(COALESCE(cc, 0) - COALESCE(dd, 0) AS DOUBLE)
                   / (sqrt(CAST(n * (n - 1) - n1x2 AS DOUBLE) / 2)
                      * sqrt(CAST(n * (n - 1) - n2x2 AS DOUBLE) / 2)),
                   6)
           END AS tau_b
    FROM tot LEFT JOIN cd ON tot.yr = cd.yr
    JOIN tx ON tot.yr = tx.yr JOIN ty ON tot.yr = ty.yr
    ORDER BY 1
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ship-year KENDALL tau-b of quantity vs discount
    (operators/profile.py: kendall_tau_b) — the pairwise-ordering
    member completing the correlation trio beside
    agg_correlation_matrix (Pearson: linear) and agg_spearman_rank
    (Spearman: rank-monotone): P[concordant] − P[discordant] with the
    tie correction that keeps discrete columns in [−1, 1].  Every
    count comes from the (year, x, y) PAIR-COUNT contingency frame —
    concordant/discordant mass via a self-join restricted to x₂ > x₁
    on the 50×11 distinct-pair frame (Σk² ≈ 3·10⁵ row pairs
    regardless of corpus size), tie terms from the marginals, all
    exact DECIMAL(38,0); floats only in the two square roots and the
    final round-6 quotient.  ONE data shuffle (the pair-count agg,
    pinned + released on materialize)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    return kendall_tau_b(li, "ship_year", "l_quantity", "l_discount")


def _cramers_oracle_sql() -> str:
    """Oracle for agg_cramers_v_matrix: one chi² block per unordered
    column pair over the same derived (priority, status, year) frame,
    each reproducing the exact truncating-div ppm identity
    chi2_ppm = Σ (o²·n·10⁶) // (rₐ·c_b) − n·10⁶ (DuckDB ``//`` ==
    Spark ``div`` on non-negatives), unioned in operator pair order."""
    pairs = [
        ("o_orderpriority", "o_orderstatus"),
        ("o_orderpriority", "order_year"),
        ("o_orderstatus", "order_year"),
    ]
    ctes = [
        "base AS (SELECT o_orderpriority, o_orderstatus,"
        " CAST(year(o_orderdate) AS INT) AS order_year FROM orders)"
    ]
    arms = []
    for k, (cx, cy) in enumerate(pairs):
        ctes.append(f"""
    cells_{k} AS (
      SELECT {cx} AS x, {cy} AS y, CAST(COUNT(*) AS HUGEINT) AS o
      FROM base WHERE {cx} IS NOT NULL AND {cy} IS NOT NULL
      GROUP BY 1, 2),
    ra_{k} AS (SELECT x, SUM(o) AS ra FROM cells_{k} GROUP BY 1),
    cb_{k} AS (SELECT y, SUM(o) AS cb FROM cells_{k} GROUP BY 1),
    tot_{k} AS (
      SELECT SUM(o) AS n,
             CAST(COUNT(DISTINCT x) AS HUGEINT) AS r,
             CAST(COUNT(DISTINCT y) AS HUGEINT) AS c
      FROM cells_{k}),
    agg_{k} AS (
      SELECT SUM((o * o * n * 1000000) // (ra * cb))
               - MAX(n) * 1000000 AS chi2ppm,
             MAX(n) AS n, MAX(r) AS r, MAX(c) AS c
      FROM cells_{k} JOIN ra_{k} USING (x) JOIN cb_{k} USING (y),
           tot_{k})""")
        arms.append(f"""
    SELECT '{cx}' AS col_x, '{cy}' AS col_y,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_rows,
           CAST(COALESCE(r, 0) AS BIGINT) AS x_levels,
           CAST(COALESCE(c, 0) AS BIGINT) AS y_levels,
           CAST(chi2ppm AS BIGINT) AS chi2_ppm,
           CASE WHEN n > 0 AND LEAST(r, c) > 1 THEN
             ROUND(SQRT(CAST(chi2ppm AS DOUBLE) / 1e6
                        / (CAST(n AS DOUBLE)
                           * (CAST(LEAST(r, c) AS DOUBLE) - 1))), 6)
           END AS cramers_v
    FROM agg_{k}""")
    return "WITH " + ",".join(ctes) + " ".join(
        (" UNION ALL" if i else "") + arm for i, arm in enumerate(arms)
    )


@query("agg_cramers_v_matrix", oracle=_cramers_oracle_sql())
def agg_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V association matrix over order priority, status, and
    order year (operators/profile.py: cramers_v_matrix) — the
    categorical completion of the association suite beside
    agg_spearman_rank / agg_kendall_tau (ordered) and
    profile_mutual_information (bits): chi-square effect size
    normalized to [0, 1], the screen that finds derived or redundant
    columns before a modeler trusts them as independent (status is a
    year-derived flag in TPC-H — old orders are all 'F' — so that
    pair's V reads high by construction).  The identity
    X² = n·Σ o²/(rₐ·c_b) − n makes every cell term exact
    truncating-div ppm integers (the Gini/HHI discipline); the only
    float is the final round-6 V.  ONE contingency shuffle per pair
    (map-side combined, cells not rows); marginals broadcast back on
    the tiny cell frame."""
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return cramers_v_matrix(
        o, ["o_orderpriority", "o_orderstatus", "order_year"]
    )
