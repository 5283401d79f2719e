"""Validation-rule entries (SURVEY §2c-2e, §7 P3): the flagship
single-scan multi-rule summary, the reference-parity field-count, column
name and type rules, and the relational rule vocabulary (uniqueness,
completeness, referential integrity, domains, outliers, dependencies,
statistical tests over the TPC-H tables) and a validated synthetic-data
generator."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.functions.exprs import (
    field_count_naive,
    field_count_quoted,
)
from big_data_validator_spark.operators import dedup as D
from big_data_validator_spark.operators import rebalance_for_compute as _rb
from big_data_validator_spark.operators import relational as R
from big_data_validator_spark.operators.curation import k_anonymity_violations
from big_data_validator_spark.operators.profile import (
    benford_first_digit,
    candidate_key_rule,
    functional_dependency_profile,
    metrics_history,
    profile_trend_anomalies,
    robust_outlier_mad,
)
from big_data_validator_spark.operators.relational import key_gaps
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _ensure_worker_imports, _t


@query(
    "validation_summary_lineitem",
    oracle="""
    SELECT 'quantity_range' AS rule_name,
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS violation_count
    FROM lineitem
    UNION ALL
    SELECT 'discount_range',
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_domain',
           CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'null_orderkey',
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
)
def validation_summary_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All rule counters in ONE aggregation over ONE scan, then unpivoted to
    (rule_name, violation_count) rows.  Deliberately NOT rebalanced: the
    rules are cheap expressions, so the scan is IO-bound and the 100 TB
    contract (no row shuffle, one partial-agg row per partition) matters
    more than local core count — pinned by test_plans."""
    li = _t(spark, sf_dir, "lineitem")
    exprs = {
        "quantity_range": (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        "discount_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        "returnflag_domain": ~F.col("l_returnflag").isin("A", "N", "R"),
        "price_positive": F.col("l_extendedprice") <= 0,
        "null_orderkey": F.col("l_orderkey").isNull(),
    }
    wide = R.violation_expr_metrics(li, exprs)
    stack = ", ".join(f"'{k}', {k}" for k in exprs)
    return wide.selectExpr(
        f"stack({len(exprs)}, {stack}) as (rule_name, violation_count)"
    )


@query(
    "rule_field_count_naive",
    oracle="""
    SELECT CAST(len(string_split(text, ' ')) AS INT) AS field_count,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM documents
    GROUP BY 1
    """,
)
def rule_field_count_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of naive (quote-blind) per-line field counts — the
    reference's `len(line.split(sep))` as a codegen expression
    (``big_data_validator.py:191``), demonstrated with a space separator
    over the documents corpus."""
    docs = _rb(_t(spark, sf_dir, "documents"))
    return (
        docs.select(
            field_count_naive(F.col("text"), " ").alias("field_count")
        )
        .groupBy("field_count")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


@query(
    "rule_column_names",
    oracle="""
    SELECT * FROM (VALUES
        ('L_ORDERKEY', TRUE), ('L_PARTKEY', TRUE), ('L_SUPPKEY', TRUE),
        ('L_LINENUMBER', TRUE), ('L_QUANTITY', TRUE), ('L_EXTENDEDPRICE', TRUE),
        ('L_DISCOUNT', TRUE), ('L_TAX', TRUE), ('L_RETURNFLAG', TRUE),
        ('L_LINESTATUS', TRUE), ('L_SHIPDATE', TRUE), ('L_COMMENT', FALSE)
    ) AS t(column_name, present)
    """,
)
def rule_column_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-name conformance (case-insensitive superset semantics of
    ``big_data_validator.py:26-74``) of the lineitem schema against a
    contract expecting one extra column (L_COMMENT, absent → fails)."""
    li = _t(spark, sf_dir, "lineitem")
    actual = {c.upper() for c in li.columns}
    expected = [
        "L_ORDERKEY", "L_PARTKEY", "L_SUPPKEY", "L_LINENUMBER", "L_QUANTITY",
        "L_EXTENDEDPRICE", "L_DISCOUNT", "L_TAX", "L_RETURNFLAG",
        "L_LINESTATUS", "L_SHIPDATE", "L_COMMENT",
    ]
    return spark.createDataFrame(
        [(c, c in actual) for c in expected], ["column_name", "present"]
    )


@query(
    "rule_type_enforcement",
    oracle="""
    SELECT
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
      CAST(SUM(CASE WHEN TRY_CAST(o_orderpriority AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS non_numeric_priority,
      CAST(SUM(CASE WHEN TRY_CAST(substr(o_orderpriority, 1, 1) AS DOUBLE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS non_numeric_priority_prefix
    FROM orders
    """,
)
def rule_type_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-type enforcement (SURVEY §7 P2) demonstrated on orders:
    NOT-NULL and NUMBER checks via try_cast (ANSI-safe), all in one agg."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("null_orderkey"),
        F.sum(
            F.col("o_orderpriority").try_cast("double").isNull().cast("long")
        ).alias("non_numeric_priority"),
        F.sum(
            F.substring(F.col("o_orderpriority"), 1, 1)
            .try_cast("double")
            .isNull()
            .cast("long")
        ).alias("non_numeric_priority_prefix"),
    )


@query(
    "rule_uniqueness_dup_keys",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) > 1
    """,
)
def rule_uniqueness_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return R.duplicate_key_groups(li, ["l_orderkey", "l_linenumber"])


@query(
    "rule_uniqueness_metrics",
    oracle="""
    WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
                      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_orderkey,
                      CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_custkey
               FROM orders)
    SELECT 'o_orderkey' AS column_name, row_count, d_orderkey AS distinct_count,
           CAST(d_orderkey AS DOUBLE) / row_count AS uniqueness_ratio FROM m
    UNION ALL
    SELECT 'o_custkey', row_count, d_custkey,
           CAST(d_custkey AS DOUBLE) / row_count FROM m
    """,
)
def rule_uniqueness_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return R.uniqueness_metrics(o, ["o_orderkey", "o_custkey"])


@query(
    "rule_completeness",
    oracle="""
    WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
                      CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_q,
                      CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_r
               FROM lineitem)
    SELECT 'l_quantity' AS column_name, row_count, n_q AS null_count,
           1.0 - CAST(n_q AS DOUBLE) / row_count AS completeness_ratio FROM m
    UNION ALL
    SELECT 'l_returnflag', row_count, n_r, 1.0 - CAST(n_r AS DOUBLE) / row_count FROM m
    """,
)
def rule_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return R.completeness_metrics(li, ["l_quantity", "l_returnflag"])


@query(
    "rule_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
           AS orphan_count
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
)
def rule_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts across three FK relations, each a broadcast left-anti
    join (dimension key projection broadcast; fact side never shuffles)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    def count_row(label, fact, dim, fk, pk):
        return (
            R.orphan_rows(fact, dim, [fk], [pk])
            .agg(F.count(F.lit(1)).alias("orphan_count"))
            .select(F.lit(label).alias("relation"), "orphan_count")
        )

    return (
        count_row("lineitem->orders", li, o, "l_orderkey", "o_orderkey")
        .unionByName(count_row("orders->customer", o, c, "o_custkey", "c_custkey"))
        .unionByName(count_row("customer->nation", c, n, "c_nationkey", "n_nationkey"))
    )


@query(
    "rule_domain_range",
    oracle="""
    SELECT l.returnflag_domain, l.quantity_range, l.discount_range, l.tax_range,
           o.date_out_of_bounds, o.min_date, o.max_date
    FROM (
      SELECT
        CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT) AS returnflag_domain,
        CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50) THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
        CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
        CAST(SUM(CASE WHEN l_tax IS NOT NULL AND (l_tax < 0 OR l_tax > 0.2) THEN 1 ELSE 0 END) AS BIGINT) AS tax_range
      FROM lineitem
    ) l, (
      SELECT CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1992-01-01'
                            OR CAST(o_orderdate AS DATE) > DATE '2030-12-31'
                           THEN 1 ELSE 0 END) AS BIGINT) AS date_out_of_bounds,
             strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
             strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
      FROM orders
    ) o
    """,
)
def rule_domain_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/range rules (lineitem) + date-bounds rule (orders), one row:
    two single-row aggregates cross-joined — each side is a single-scan
    partial aggregation, the join is 1×1."""
    li = _t(spark, sf_dir, "lineitem")
    exprs = {
        "returnflag_domain": F.col("l_returnflag").isNotNull()
        & ~F.col("l_returnflag").isin("A", "N", "R"),
        "quantity_range": F.col("l_quantity").isNotNull()
        & ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        "discount_range": F.col("l_discount").isNotNull()
        & ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)),
        "tax_range": F.col("l_tax").isNotNull()
        & ((F.col("l_tax") < 0) | (F.col("l_tax") > 0.2)),
    }
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    dates = o.agg(
        F.sum(
            (
                (d < F.lit("1992-01-01").cast("date"))
                | (d > F.lit("2030-12-31").cast("date"))
            ).cast("long")
        ).alias("date_out_of_bounds"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
    )
    return R.violation_expr_metrics(li, exprs).crossJoin(dates)


@query(
    "rule_outlier_zscore",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority,
             AVG(o_totalprice) AS mu,
             STDDEV(o_totalprice) AS sd
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           ROUND(o.o_totalprice, 2) AS total_price,
           ROUND((o.o_totalprice - s.mu) / s.sd, 4) AS zscore
    FROM orders o JOIN s USING (o_orderpriority)
    WHERE s.sd > 0 AND ABS((o.o_totalprice - s.mu) / s.sd) > 1.7
    """,
)
def rule_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-check rule: per-group z-score outliers.  Two-pass
    plan — per-group stats aggregate (one row per group), broadcast back,
    filter map-side.  No shuffle of data rows, unlike the window
    formulation.  Threshold 1.7 here because the synthetic prices are
    near-uniform (max |z| = sqrt(3) ~= 1.73 for a uniform) — the
    operator's production default stays 3.0."""
    o = _t(spark, sf_dir, "orders")
    out = R.outlier_zscore_violations(
        o, "o_totalprice", ["o_orderpriority"], z_threshold=1.7
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round("zscore", 4).alias("zscore"),
    )


@query(
    "rule_field_count_quote_stripped",
    oracle="""
    WITH lines AS (
        SELECT '"' || p_name || '"|"' || p_brand || '"|"' || CAST(p_size AS VARCHAR)
               || CASE WHEN p_size % 10 = 0 THEN '|' ELSE '' END || '"' AS line
        FROM part
    )
    SELECT CAST(len(string_split(regexp_replace(line, '"[^"]*"', '', 'g'), '|')) AS INT) AS field_count,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM lines GROUP BY 1
    """,
)
def rule_field_count_quote_stripped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-aware field counting, SQL-expressible formulation: blank out
    quoted spans, then count separators.  (The reference's exact
    lookahead-regex counter is `rule_field_count_quoted`, oracle-less
    because RE2 lacks lookaheads; its parity with Python `re` is pinned in
    tests.)  Lines are synthesized from `part` with a quoted `|` injected
    for every p_size divisible by 10.  Tail entry: the in-window
    `rule_field_count_naive` carries the family's oracle row; this
    variant's oracle remains shipped for local verification."""
    part = _t(spark, sf_dir, "part")
    line = F.concat(
        F.lit('"'), F.col("p_name"), F.lit('"|"'), F.col("p_brand"),
        F.lit('"|"'), F.col("p_size").cast("string"),
        F.when(F.col("p_size") % 10 == 0, F.lit("|")).otherwise(F.lit("")),
        F.lit('"'),
    )
    stripped = F.regexp_replace(line, '"[^"]*"', "")
    return (
        part.select(
            F.size(F.split(stripped, "\\|", -1)).alias("field_count")
        )
        .groupBy("field_count")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


@query("rule_field_count_quoted")  # no oracle: RE2 lacks lookaheads
def rule_field_count_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact quote-aware counter
    (``big_data_validator.py:221-240``) as a `regexp_count` expression,
    over lines synthesized from `part` (quoted fields, embedded pipes)."""
    part = _t(spark, sf_dir, "part")
    line = F.concat(
        F.lit('"'), F.col("p_name"), F.lit('"|"'), F.col("p_brand"),
        F.lit('"|"'), F.col("p_type"), F.lit('"'),
    )
    return (
        part.select(field_count_quoted(line, "|", '"').alias("field_count"))
        .groupBy("field_count")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


@query(
    "rule_functional_dependency",
    oracle="""
    WITH pairs AS (SELECT source AS lhs_value, lang AS _rhs,
                          COUNT(*) AS _n
                   FROM documents
                   WHERE source IS NOT NULL AND lang IS NOT NULL
                   GROUP BY 1, 2),
    ranked AS (SELECT *, ROW_NUMBER() OVER
                 (PARTITION BY lhs_value ORDER BY _n DESC, _rhs ASC) AS rk
               FROM pairs)
    SELECT lhs_value,
           CAST(SUM(_n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_rhs,
           MAX(CASE WHEN rk = 1 THEN _rhs END) AS top_rhs,
           CAST(MAX(CASE WHEN rk = 1 THEN _n END) AS BIGINT)
             AS top_rhs_rows,
           CAST(SUM(_n) - MAX(CASE WHEN rk = 1 THEN _n END) AS BIGINT)
             AS violation_rows,
           (COUNT(*) = 1) AS fd_holds
    FROM ranked GROUP BY lhs_value
    """,
)
def rule_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency validation source → lang over documents:
    per source the distinct-language count, the modal language
    (deterministic tie-break), and how many rows violate the FD
    (operators/profile.py: functional_dependency_profile).  Two map-side
    combined aggregations, the mode via a min-struct — no row-level
    window, no collect."""
    docs = _t(spark, sf_dir, "documents")
    return functional_dependency_profile(docs, "source", "lang")


@query(
    "rule_benford_totalprice",
    oracle="""
    WITH obs AS (SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100, 0)
                                    AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                          AS digit,
                        COUNT(*) AS n
                 FROM orders WHERE o_totalprice > 0 GROUP BY 1),
    tot AS (SELECT SUM(n) AS t FROM obs),
    digits(digit) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9))
    SELECT d.digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
           ROUND(COALESCE(o.n, 0) / t.t, 6) AS share,
           ROUND(LOG10(1.0 + 1.0 / d.digit), 6) AS expected_share,
           ROUND(ABS(COALESCE(o.n, 0) / t.t
                     - ROUND(LOG10(1.0 + 1.0 / d.digit), 6)), 6)
             AS abs_dev
    FROM digits d LEFT JOIN obs o ON d.digit = o.digit, tot t
    """,
)
def rule_benford_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen on order amounts: observed vs expected
    first-significant-digit shares (operators/profile.py:
    benford_first_digit).  The digit is extracted in integer space
    (scaled, rounded, string head) — engine-stable where float
    log10/pow extraction is not; all 9 digits always present."""
    o = _t(spark, sf_dir, "orders")
    return benford_first_digit(o, "o_totalprice", decimals=2)


@query(
    "rule_key_gaps",
    oracle="""
    WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders
               WHERE o_orderkey % 101 >= 3),
         g AS (SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM k)
    SELECT CAST(pk + 1 AS BIGINT) AS gap_start,
           CAST(k - 1 AS BIGINT) AS gap_end,
           CAST(k - pk - 1 AS BIGINT) AS gap_len
    FROM g WHERE pk IS NOT NULL AND k - pk > 1
    """,
)
def rule_key_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness rule: report every missing-key RANGE in an
    integer id domain (operators/relational.py: key_gaps).  The oracle
    is the textbook single-sort lag query; the Spark plan is the
    block-decomposed scan (lag windows partitioned by ``k div 2^20``
    + a tiny per-block summary pass), so no stage ever sorts the full
    key domain in one task.  Gaps are synthesized by dropping
    ``o_orderkey % 101 in (0,1,2)`` — the keys in the test tables are
    otherwise dense."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 >= 3)
    return key_gaps(o, "o_orderkey")


@query(
    "rule_candidate_keys",
    oracle="""
    SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nulls,
           COUNT(DISTINCT o_orderkey) = COUNT(*)
             AND SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
             AS is_candidate_key
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_custkey) = COUNT(*)
             AND SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_orderstatus) = COUNT(*)
             AND SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
               = 0
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_totalprice) = COUNT(*)
             AND SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
               = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_orderdate) = COUNT(*)
             AND SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
               = 0
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           COUNT(DISTINCT o_orderpriority) = COUNT(*)
             AND SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0
               END) = 0
    FROM orders
    """,
)
def rule_candidate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over every orders column
    (operators/profile.py: candidate_key_rule): exact row / distinct /
    null counts + the unique-and-never-null verdict, ONE aggregation
    pass (multi-count-distinct compiles to a single Expand plan — one
    scan for all six columns, vs six jobs naively).  The
    uniqueness-contract suggestion a validator emits before any key is
    declared; approx_count_distinct is the documented 100 TB screen."""
    o = _t(spark, sf_dir, "orders")
    return candidate_key_rule(o).withColumnRenamed("column", "col_name")


@query(
    "gen_synthetic_validated",
    oracle="""
    WITH g AS (
      SELECT i,
             CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':gen'),
                                      1, 8) AS UBIGINT) % 1000 AS BIGINT)
               AS amount_cents,
             CAST(CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':gen'),
                                      9, 8) AS UBIGINT) % 5 AS BIGINT)
               AS segment
      FROM generate_series(0, 9999) AS t(i))
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(amount_cents) AS BIGINT) AS sum_cents,
           CAST(MIN(amount_cents) AS BIGINT) AS min_cents,
           CAST(MAX(amount_cents) AS BIGINT) AS max_cents
    FROM g GROUP BY 1
    """,
)
def gen_synthetic_validated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic-data factory: 10k rows generated from
    ``spark.range`` + md5-derived fields (NO RNG state — the same
    engine-portable digest device as the samplers, so DuckDB generates
    the IDENTICAL table), then summarized per segment.  This is how a
    100 TB test corpus is minted on-cluster: ``range`` parallelizes
    perfectly, every field is a pure function of the row id, and any
    slice can be regenerated independently for verification —
    generation IS the oracle."""
    _ensure_worker_imports(spark)
    g = spark.range(0, 10000).select(
        F.col("id").alias("i"),
        F.md5(
            F.encode(
                F.concat(F.col("id").cast("string"), F.lit(":gen")),
                "UTF-8",
            )
        ).alias("h"),
    )
    fields = g.select(
        "i",
        F.pmod(
            F.conv(F.substring("h", 1, 8), 16, 10).cast("long"), F.lit(1000)
        ).alias("amount_cents"),
        F.pmod(
            F.conv(F.substring("h", 9, 8), 16, 10).cast("long"), F.lit(5)
        ).alias("segment"),
    )
    return fields.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("amount_cents").cast("long").alias("sum_cents"),
        F.min("amount_cents").cast("long").alias("min_cents"),
        F.max("amount_cents").cast("long").alias("max_cents"),
    )


#: The trend rule of ``profile_trend_anomalies`` over a metrics CTE ``m``
#: (run_id, column, metric, value): each value's z-score against the
#: trailing 3 runs of its (column, metric), an anomaly beyond 3.
_TREND_RULE_SQL = """
    w AS (SELECT run_id, "column", metric, value,
            COUNT(value) OVER win AS n_prev,
            AVG(value) OVER win AS mean,
            STDDEV_SAMP(value) OVER win AS std
          FROM m
          WINDOW win AS (PARTITION BY "column", metric ORDER BY run_id
                         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
    SELECT run_id, "column", metric, value,
           ROUND(mean, 6) AS trailing_mean,
           ROUND(std, 6) AS trailing_std,
           ROUND(CASE WHEN n_prev >= 2 AND std > 0
                      THEN (value - mean) / std END, 4) AS z_score,
           COALESCE(ABS(CASE WHEN n_prev >= 2 AND std > 0
                             THEN (value - mean) / std END) > 3.0,
                    FALSE) AS is_anomaly
    FROM w
    """


def _trend_oracle_sql() -> str:
    """DuckDB mirror of the 4-run metrics repository + trend rule.
    Built by helper so the run thresholds stay in ONE place."""
    thr = ", ".join(f"({i}, {t})" for i, t in enumerate(_TREND_RUNS))
    metric = {
        "row_count": "COUNT(*)",
        "null_count_k": "SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_k": "COUNT(DISTINCT o_orderkey)",
        "min_k": "MIN(o_orderkey)",
        "max_k": "MAX(o_orderkey)",
        "null_count_p": "SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)",
        "distinct_count_p": "COUNT(DISTINCT o_orderpriority)",
        "min_length_p": "MIN(len(o_orderpriority))",
        "max_length_p": "MAX(len(o_orderpriority))",
    }
    legs = []
    for m, expr in metric.items():
        col = "o_orderkey" if m.endswith("_k") or m == "row_count" else "o_orderpriority"
        name = m[:-2] if m.endswith(("_k", "_p")) else m
        legs.append(
            f"SELECT run_id, '{col}' AS \"column\", '{name}' AS metric,"
            f" CAST({expr} AS DOUBLE) AS value FROM src GROUP BY run_id"
        )
    # row_count replicates per profiled column (profile_table contract)
    legs.append(
        "SELECT run_id, 'o_orderpriority' AS \"column\","
        " 'row_count' AS metric, CAST(COUNT(*) AS DOUBLE) AS value"
        " FROM src GROUP BY run_id"
    )
    union = "\n      UNION ALL\n      ".join(legs)
    return f"""
    WITH runs(run_id, thr) AS (VALUES {thr}),
    src AS (SELECT r.run_id, o.o_orderkey, o.o_orderpriority
            FROM runs r JOIN orders o ON o.o_orderkey % 100 < r.thr),
    m AS ({union}),{_TREND_RULE_SQL}"""


#: Per-run filter thresholds for the synthetic metrics repository:
#: three stable runs, then a half-volume regression the rule must flag.
_TREND_RUNS = [88, 89, 90, 45]


@query("rule_profile_trend_anomaly", oracle=_trend_oracle_sql())
def rule_profile_trend_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics repository + trend-based validation (operators/profile.py:
    metrics_history + profile_trend_anomalies — the Deequ
    repository/AnomalyDetection shape): four profile runs of orders
    snapshots (three stable, one halved), stacked long, then every
    (column, metric) z-scored against its own trailing-3-run history
    with the current run excluded from its baseline.  The halved run
    flags on volume metrics; constant metrics (null_count, priority
    distinct_count) exercise the zero-variance NULL-z branch.  Only
    integer-valued metrics are monitored here so the history values are
    engine-exact; z rounds to 4 (irrational unless variance is 0).
    Scale: each run is one single-pass profile aggregation; the trend
    window runs over one row per run per metric — the raw table is
    never re-read by the rule."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    runs = [
        (i, o.filter(F.col("o_orderkey") % 100 < t))
        for i, t in enumerate(_TREND_RUNS)
    ]
    hist = metrics_history(runs, columns=["o_orderkey", "o_orderpriority"])
    keep = [
        "row_count", "null_count", "distinct_count",
        "min", "max", "min_length", "max_length",
    ]
    return profile_trend_anomalies(
        hist.filter(F.col("metric").isin(keep)),
        trailing=3,
        z_threshold=3.0,
    )


@query(
    "rule_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS group_size,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
               AS sensitive_diversity
      FROM customer GROUP BY 1, 2)
    SELECT c_nationkey, bal_band, group_size, sensitive_diversity,
           array_to_string(list_sort(
             list_filter([
               CASE WHEN group_size < 10 THEN 'k_anonymity' END,
               CASE WHEN sensitive_diversity < 3 THEN 'l_diversity' END
             ], x -> x IS NOT NULL)), ',') AS violations
    FROM g
    WHERE group_size < 10 OR sensitive_diversity < 3
    """,
)
def rule_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a data release (operators/curation.py:
    k_anonymity_violations): customer quasi-identifier groups
    (nationkey × account-balance band) smaller than k=10 are
    re-identification risks; k-anonymous groups whose market segment
    takes fewer than l=3 distinct values still leak the attribute
    (l-diversity).  One aggregation pass, shuffle carries per-group
    partial states only; output is exactly the groups a releasing
    pipeline must suppress or generalize.  The violations array is
    emitted as a sorted comma-joined string for cross-engine hashing."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 2000).cast("long")
    )
    out = k_anonymity_violations(
        c,
        quasi_cols=["c_nationkey", "bal_band"],
        k=10,
        sensitive_col="c_mktsegment",
        l=3,
    )
    return out.select(
        "c_nationkey",
        "bal_band",
        "group_size",
        "sensitive_diversity",
        F.array_join("violations", ",").alias("violations"),
    )


@query(
    "rule_order_totals_reconcile",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(8,6)))
                 * (1 + CAST(l_tax AS DECIMAL(8,6)))) AS charge
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(18,6)) AS total,
             lc.charge
      FROM orders o LEFT JOIN lc ON o.o_orderkey = lc.l_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN charge IS NOT NULL
                          AND ABS(total - charge) <= 0.01
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
           CAST(SUM(CASE WHEN charge IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_no_lines,
           CAST(MAX(CASE WHEN charge IS NOT NULL
                         THEN ROUND(ABS(total - charge) * 100, 0) END)
                AS BIGINT) AS max_abs_gap_cents
    FROM j
    """,
)
def rule_order_totals_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE financial reconciliation rule: every order's header
    total against the sum of its line charges
    (Σ extendedprice·(1−discount)·(1+tax)) within a 1-cent tolerance —
    the invoice-vs-lines invariant every financial pipeline audits and
    no single-table rule can express.  All arithmetic runs in EXACT
    DECIMAL (columns cast from double first): float sums differ
    ~1e-9 across engines, enough to flip a cent-quantized verdict on a
    boundary row, while decimal products/sums of cent-exact inputs are
    bit-identical everywhere.  One map-side-combined aggregation per
    order + a key join; orders with no lines report separately (a
    missing-lines order is a different defect than a wrong total)."""
    # Project to the four needed columns, then rebalance: the per-row
    # BigDecimal product chain is compute-bound and inherited the
    # scan's 3 splits (r14 profile: 1.5s of the query's 2.1s ran as a
    # 3-task broadcast side).  At 100 TB the scan is already thousands
    # of splits and the rebalance is a no-op (guide §2).
    li = _rb(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
        )
    )
    o = _t(spark, sf_dir, "orders")
    charge = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(8,6)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(8,6)"))
    )
    lc = li.groupBy("l_orderkey").agg(F.sum(charge).alias("charge"))
    j = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,6)").alias("total"),
    ).join(lc, o["o_orderkey"] == lc["l_orderkey"], "left")
    gap = F.abs(F.col("total") - F.col("charge"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(
            (F.col("charge").isNotNull() & (gap <= 0.01)).cast("long")
        )
        .cast("long")
        .alias("n_reconciled"),
        F.sum(F.col("charge").isNull().cast("long"))
        .cast("long")
        .alias("n_no_lines"),
        F.max(
            F.when(
                F.col("charge").isNotNull(), F.round(gap * 100, 0)
            )
        )
        .cast("long")
        .alias("max_abs_gap_cents"),
    )


@query(
    "rule_outlier_mad",
    oracle="""
    WITH x AS (
      SELECT o_orderpriority,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    med AS (
      SELECT o_orderpriority, median(cents) AS med,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM x GROUP BY 1),
    dev AS (
      SELECT x.o_orderpriority, abs(cents - med) AS adev
      FROM x JOIN med USING (o_orderpriority)),
    mad AS (
      SELECT o_orderpriority, median(adev) AS mad
      FROM dev GROUP BY 1),
    outl AS (
      SELECT dev.o_orderpriority,
             CAST(SUM(CASE WHEN adev * 10000 * 10000
                                > (30000 * 14826) * mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev JOIN mad USING (o_orderpriority) GROUP BY 1)
    SELECT med.o_orderpriority, n_rows,
           CAST(med * 2 AS BIGINT) AS median_x2,
           CAST(mad * 4 AS BIGINT) AS mad_x4,
           n_outliers
    FROM med JOIN mad USING (o_orderpriority)
             JOIN outl USING (o_orderpriority)
    ORDER BY 1
    """,
)
def rule_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier rule (operators/profile.py:
    robust_outlier_mad) — the 50%-breakdown sibling of
    rule_outlier_zscore: one planted extreme inflates a z-score's σ
    and hides every other outlier, while the median and the median
    absolute deviation shrug it off.  Flag: ``|x − median| >
    3·1.4826·MAD`` with the consistency constant carried as the exact
    rational 14826/10⁴.  Cross-engine exactness comes from cents
    integers: the interpolated median lands on 0.5 steps and the MAD
    on 0.25 steps — binary fractions, exact in doubles, every product
    single-rounded IEEE — so the shipped ``median_x2``/``mad_x4``
    BIGINTs and the flag count hash identically on both engines.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    res = robust_outlier_mad(
        o, group_col="o_orderpriority", value_col="cents"
    )
    out = res.orderBy("o_orderpriority")
    out._bdv_pinned = D.pinned_caches(res)
    return D.materialize_release(out)


@query(
    "rule_monotonic_orderdate",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderkey) AS prev_d,
             o_orderdate AS d
      FROM orders)
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE prev_d IS NOT NULL
                                 AND d IS NOT NULL) AS BIGINT) AS n_pairs,
           CAST(COUNT(*) FILTER (WHERE prev_d > d) AS BIGINT)
             AS n_inversions
    FROM seq GROUP BY 1
    HAVING COUNT(*) FILTER (WHERE prev_d > d) > 0
    """,
)
def rule_monotonic_orderdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-monotonicity rule (operators/relational.py:
    order_inversions): per customer, ordered by the surrogate key
    ``o_orderkey``, count adjacent pairs where ``o_orderdate`` DECREASES
    — the "key order must respect event time" CDC/ingest sanity check
    (an inversion is a late or out-of-order write).  One lag window
    partitioned by the customer key — fully parallel, no global sort —
    then a per-group aggregate; only violating groups return (the
    violations-only rule_* convention)."""
    o = _t(spark, sf_dir, "orders")
    return R.order_inversions(
        o, "o_custkey", "o_orderkey", "o_orderdate"
    ).select(
        F.col("part").alias("o_custkey"),
        "n_rows",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_inversions").cast("long").alias("n_inversions"),
    )


@query(
    "rule_conversion_ztest",
    oracle="""
    WITH uw AS (
      SELECT user_id, date_trunc('week', ts) AS wk,
             MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS err,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1, 2),
    agg AS (
      SELECT SUM(err) AS n1, SUM(err * conv) AS x1,
             SUM(1 - err) AS n0, SUM((1 - err) * conv) AS x0
      FROM uw)
    SELECT CAST(n1 AS BIGINT) AS n_error_weeks,
           CAST(x1 AS BIGINT) AS conv_error_weeks,
           CAST(n0 AS BIGINT) AS n_clean_weeks,
           CAST(x0 AS BIGINT) AS conv_clean_weeks,
           ROUND(CAST(x1 AS DOUBLE) / n1, 6) AS p_error,
           ROUND(CAST(x0 AS DOUBLE) / n0, 6) AS p_clean,
           ROUND((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
                 / SQRT((CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                        * (1 - CAST(x1 + x0 AS DOUBLE) / (n1 + n0))
                        * (1.0 / n1 + 1.0 / n0)), 6) AS z_stat
    FROM agg
    """,
)
def rule_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: does a user-week containing an error
    event convert (purchase that week) at a different rate than a
    clean user-week?  The monitoring rule that turns "errors seem to
    depress checkout" into a significance statement — all counts exact
    integers from ONE (user, week) aggregate + one global fold; the
    z statistic is pure IEEE arithmetic on those exact counts, round-6
    (cross-engine deterministic).  Per-user-week units keep both arms
    populated where per-user flags degenerate (every long-lived user
    eventually sees one error)."""
    ev = _t(spark, sf_dir, "events")
    uw = ev.groupBy(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(
        F.max(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("err"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    agg = uw.agg(
        F.sum("err").alias("n1"),
        F.sum(F.col("err") * F.col("conv")).alias("x1"),
        F.sum(1 - F.col("err")).alias("n0"),
        F.sum((1 - F.col("err")) * F.col("conv")).alias("x0"),
    )
    n1, x1, n0, x0 = (F.col(c).cast("double") for c in ("n1", "x1", "n0", "x0"))
    pooled = (x1 + x0) / (n1 + n0)
    return agg.select(
        F.col("n1").cast("long").alias("n_error_weeks"),
        F.col("x1").cast("long").alias("conv_error_weeks"),
        F.col("n0").cast("long").alias("n_clean_weeks"),
        F.col("x0").cast("long").alias("conv_clean_weeks"),
        F.round(x1 / n1, 6).alias("p_error"),
        F.round(x0 / n0, 6).alias("p_clean"),
        F.round(
            (x1 / n1 - x0 / n0)
            / F.sqrt(
                pooled * (1 - pooled) * (1.0 / n1 + 1.0 / n0)
            ),
            6,
        ).alias("z_stat"),
    )


@query(
    "rule_mcnemar_disagreement",
    oracle="""
    WITH base AS (
      SELECT l_extendedprice >= 50000 AS a, l_quantity >= 40 AS b
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)
                  AS BIGINT) AS "both",
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS only_a,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                  AS BIGINT) AS only_b,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS neither
      FROM base)
    SELECT n_rows, "both", only_a, only_b, neither,
           CASE WHEN only_a + only_b > 0 THEN
             CAST((CAST(only_a - only_b AS HUGEINT)
                   * (only_a - only_b) * 1000000)
                  // (only_a + only_b) AS BIGINT) END
             AS mcnemar_x2_ppm,
           CASE WHEN only_a + only_b > 0 THEN
             CASE WHEN abs(only_a - only_b) <= 1
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(((CAST(abs(only_a - only_b) AS HUGEINT)
                              - 1)
                             * (abs(only_a - only_b) - 1) * 1000000)
                            // (only_a + only_b) AS BIGINT) END END
             AS mcnemar_cc_x2_ppm,
           CASE WHEN only_a + only_b > 0 THEN
             CAST((CAST(only_a AS HUGEINT) * 1000000)
                  // (only_a + only_b) AS BIGINT) END
             AS only_a_share_ppm
    FROM t
    """,
)
def rule_mcnemar_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR paired-rule disagreement between two "large line" rule
    versions — value-based (l_extendedprice ≥ 50000) vs volume-based
    (l_quantity ≥ 40) — on the SAME rows (operators/relational.py:
    mcnemar_paired_rules): the marginal-homogeneity question a
    validator has when it ships rule v2 beside v1 (are the
    disagreements symmetric, or does the new rule systematically flag
    a different population?), which the independence-oriented chi²/V
    tests don't answer.  Only the discordant cells carry information;
    the 2×2 table and both X² statistics (plain + Edwards continuity
    correction) ship as exact truncating-div ppm integers — no floats
    anywhere, the oracle replays every branch.  ONE scan, ONE
    conditional aggregation, no shuffle beyond the single-row
    reduce."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
    )
    return R.mcnemar_paired_rules(
        li,
        F.col("l_extendedprice") >= 50000,
        F.col("l_quantity") >= 40,
    )
