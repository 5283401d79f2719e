"""Profiling and drift entries: column profiles, functional dependencies,
join cardinality, key skew, mutual information, and drift statistics
(PSI, chi-square, text KL and the two-sample tests between urgent- and
normal-priority orders)."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import pin
from big_data_validator_spark.operators import relational as R
from big_data_validator_spark.operators.profile import (
    fd_discovery,
    fd_discovery_composite,
    join_cardinality_profile,
    key_skew_profile,
    mutual_information_profile,
    profile_table,
)
from big_data_validator_spark.operators.relational import chi_square_drift
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


@query(
    "drift_snapshots",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 10 < 5),
         new AS (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 10 < 6)
    SELECT o_orderkey, o_orderstatus, 'added' AS drift_kind FROM (SELECT * FROM new EXCEPT ALL SELECT * FROM old)
    UNION ALL
    SELECT o_orderkey, o_orderstatus, 'removed' FROM (SELECT * FROM old EXCEPT ALL SELECT * FROM new)
    """,
)
def drift_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 < 5)
    new = o.filter(F.col("o_orderkey") % 10 < 6)
    return R.snapshot_drift(old, new, ["o_orderkey", "o_orderstatus"])


@query(
    "drift_psi_totalprice",
    oracle="""
    WITH ob AS (SELECT CASE WHEN o_totalprice >= 50000 THEN 4
                            WHEN o_totalprice >= 20000 THEN 3
                            WHEN o_totalprice >= 5000  THEN 2
                            WHEN o_totalprice >= 1000  THEN 1
                            ELSE 0 END AS bin_id
                FROM orders WHERE o_orderkey % 2 = 0),
         nb AS (SELECT CASE WHEN o_totalprice >= 50000 THEN 4
                            WHEN o_totalprice >= 20000 THEN 3
                            WHEN o_totalprice >= 5000  THEN 2
                            WHEN o_totalprice >= 1000  THEN 1
                            ELSE 0 END AS bin_id
                FROM orders WHERE o_orderkey % 2 = 1),
    po AS (SELECT bin_id, COUNT(*) / CAST((SELECT COUNT(*) FROM ob) AS DOUBLE) AS p_old FROM ob GROUP BY 1),
    pn AS (SELECT bin_id, COUNT(*) / CAST((SELECT COUNT(*) FROM nb) AS DOUBLE) AS p_new FROM nb GROUP BY 1),
    bins(bin_id) AS (VALUES (0), (1), (2), (3), (4))
    SELECT bins.bin_id,
           ROUND(COALESCE(p_old, 0), 6) AS p_old,
           ROUND(COALESCE(p_new, 0), 6) AS p_new,
           ROUND((COALESCE(p_new, 0) - COALESCE(p_old, 0))
                 * ln((COALESCE(p_new, 0) + 1e-6) / (COALESCE(p_old, 0) + 1e-6)), 6) AS psi_term
    FROM bins LEFT JOIN po ON po.bin_id = bins.bin_id
              LEFT JOIN pn ON pn.bin_id = bins.bin_id
    """,
)
def drift_psi_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift between two order snapshots over
    explicit price bins — the production drift monitor (PSI > 0.2 flags a
    shift).  Both snapshots are predicates over the SAME table, so the
    entry uses the ONE-SCAN conditional-aggregation form (VERDICT r9
    item 6: the two-frame operator planned two full `orders` scans —
    Spark shares no subplans); the shuffle carries bin counts only."""
    o = _t(spark, sf_dir, "orders")
    out = R.distribution_drift_psi_split(
        o,
        "o_totalprice",
        [1000.0, 5000.0, 20000.0, 50000.0],
        F.col("o_orderkey") % 2 == 0,
        F.col("o_orderkey") % 2 == 1,
    )
    return out.select(
        "bin_id",
        F.round("p_old", 6).alias("p_old"),
        F.round("p_new", 6).alias("p_new"),
        F.round("psi_term", 6).alias("psi_term"),
    )


@query(
    "profile_orders_columns",
    oracle="""
    WITH m AS (
      SELECT 'o_orderkey' AS "column", 'row_count' AS metric,
             CAST(COUNT(*) AS DOUBLE) AS value FROM orders
      UNION ALL SELECT 'o_orderkey', 'null_count',
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'distinct_count',
             CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'min', CAST(MIN(o_orderkey) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'max', CAST(MAX(o_orderkey) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderkey', 'mean', AVG(CAST(o_orderkey AS DOUBLE)) FROM orders
      UNION ALL SELECT 'o_orderkey', 'stddev', STDDEV_SAMP(CAST(o_orderkey AS DOUBLE)) FROM orders
      UNION ALL SELECT 'o_totalprice', 'row_count', CAST(COUNT(*) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_totalprice', 'null_count',
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_totalprice', 'distinct_count',
             CAST(COUNT(DISTINCT o_totalprice) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_totalprice', 'min', MIN(o_totalprice) FROM orders
      UNION ALL SELECT 'o_totalprice', 'max', MAX(o_totalprice) FROM orders
      UNION ALL SELECT 'o_totalprice', 'mean', AVG(o_totalprice) FROM orders
      UNION ALL SELECT 'o_totalprice', 'stddev', STDDEV_SAMP(o_totalprice) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'row_count', CAST(COUNT(*) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'null_count',
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'distinct_count',
             CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'min_length',
             CAST(MIN(LEN(o_orderpriority)) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'max_length',
             CAST(MAX(LEN(o_orderpriority)) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderpriority', 'avg_length',
             AVG(CAST(LEN(o_orderpriority) AS DOUBLE)) FROM orders
      UNION ALL SELECT 'o_orderdate', 'row_count', CAST(COUNT(*) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'null_count',
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'distinct_count',
             CAST(COUNT(DISTINCT o_orderdate) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'min_epoch_s',
             CAST(epoch(MIN(o_orderdate)) AS DOUBLE) FROM orders
      UNION ALL SELECT 'o_orderdate', 'max_epoch_s',
             CAST(epoch(MAX(o_orderdate)) AS DOUBLE) FROM orders
    )
    SELECT "column", metric, ROUND(value, 3) AS value FROM m
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style one-pass column profiler: null/distinct counts,
    numeric moments, string length stats, and temporal epoch bounds for
    four orders columns (bigint, double, string, timestamp) as
    expression columns of ONE aggregation — the table is scanned once no
    matter how many columns are profiled; the wide→long pivot explodes
    the single aggregate row (operators/profile.py: profile_table).
    Values re-rounded to 3 so cross-engine float-reduction noise cannot
    flip the hash."""
    orders = _t(spark, sf_dir, "orders")
    prof = profile_table(
        orders,
        ["o_orderkey", "o_totalprice", "o_orderpriority", "o_orderdate"],
    )
    return prof.select("column", "metric", F.round("value", 3).alias("value"))


#: An order's price in integer cents, the drift oracles' exact value.
_CENTS = "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"


def _pooled_counts(v: str, by_year: bool = False) -> str:
    """The two-sample drift oracles' first CTEs: ``pooled`` flags every
    priced order's value ``v`` as urgent (``ca``) or normal (``cb``),
    and ``cnts`` counts each side per distinct ``v`` (per order year
    too, when ``by_year``)."""
    year = "CAST(year(o_orderdate) AS INT) AS order_year, " if by_year else ""
    key, group = ("order_year, ", "1, 2") if by_year else ("", "v")
    return f"""
    WITH pooled AS (
      SELECT {year}{v} AS v,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END AS ca,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END AS cb
      FROM orders WHERE o_totalprice IS NOT NULL),
    cnts AS (SELECT {key}v, SUM(ca) AS na, SUM(cb) AS nb
             FROM pooled GROUP BY {group}),"""


def _urgent_normal(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two samples of the drift entries: priced orders of urgent or
    high priority, and the others, each with its price in ``cents``."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents = o.withColumn(
        "cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return cents.filter(urgent), cents.filter(~urgent)


@query(
    "drift_ks_totalprice",
    oracle=f"""{_pooled_counts("o_totalprice")}
    cum AS (SELECT SUM(na) OVER (ORDER BY v) AS cuma,
                   SUM(nb) OVER (ORDER BY v) AS cumb FROM cnts),
    tot AS (SELECT SUM(na) AS n_a, SUM(nb) AS n_b FROM cnts)
    SELECT ROUND(MAX(ABS(cuma / CAST(n_a AS DOUBLE)
                         - cumb / CAST(n_b AS DOUBLE))), 6) AS ks_stat,
           CAST(ANY_VALUE(n_a) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b
    FROM cum, tot
    """,
)
def drift_ks_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift statistic between
    urgent-priority and normal-priority order amounts
    (operators/relational.py: ks_two_sample).  The pooled-CDF prefix sum
    is ``operators.block_scan`` over per-distinct-value counts — NEVER
    the textbook single-task global window; the block width only sets
    granularity, the statistic is exact for any choice
    (pytest-pinned)."""
    return R.ks_two_sample(
        *_urgent_normal(spark, sf_dir), "o_totalprice", bin_width=10000.0
    )


@query(
    "drift_chi2_priority",
    oracle="""
    WITH ca AS (SELECT o_orderpriority AS cat,
                       CAST(COUNT(*) AS DOUBLE) AS na
                FROM orders WHERE o_orderkey % 2 = 0
                  AND o_orderpriority IS NOT NULL GROUP BY 1),
    cb AS (SELECT o_orderpriority AS cat,
                  CAST(COUNT(*) AS DOUBLE) AS nb
           FROM orders WHERE o_orderkey % 2 = 1
             AND o_orderpriority IS NOT NULL GROUP BY 1),
    t AS (SELECT COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb USING (cat)),
    s AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM t),
    cells AS (SELECT na, nb, ta, tb, (na + nb) / (ta + tb) AS p
              FROM t, s)
    SELECT ROUND(SUM(POW(na - p * ta, 2) / (p * ta)
                     + POW(nb - p * tb, 2) / (p * tb)), 6) AS chi2,
           CAST(COUNT(*) - 1 AS BIGINT) AS dof,
           CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b
    FROM cells GROUP BY ta, tb
    """,
)
def drift_chi2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square homogeneity drift between two order snapshots
    over the CATEGORICAL priority column (operators/relational.py:
    chi_square_drift) — completes the drift triple: PSI (binned
    numeric), KS (continuous, exact), chi-square (categorical).  Each
    snapshot aggregates to per-category counts first, so the shuffle
    carries k categories, not rows; the statistic is O(k) after two
    scans."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0)
    new = o.filter(F.col("o_orderkey") % 2 == 1)
    return chi_square_drift(old, new, "o_orderpriority")


@query(
    "drift_text_kl",
    oracle="""
    WITH wa AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS w
                FROM documents WHERE doc_id % 2 = 0),
    wb AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                         x -> x <> '')) AS w
           FROM documents WHERE doc_id % 2 = 1),
    ca AS (SELECT w, COUNT(*) AS na FROM wa GROUP BY 1),
    cb AS (SELECT w, COUNT(*) AS nb FROM wb GROUP BY 1),
    j AS (SELECT COALESCE(ca.w, cb.w) AS w,
                 COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb ON ca.w = cb.w),
    t AS (SELECT CAST(SUM(na) AS DOUBLE) AS ta,
                 CAST(SUM(nb) AS DOUBLE) AS tb,
                 CAST(COUNT(*) AS DOUBLE) AS v
          FROM j)
    SELECT ROUND(SUM(((na + 1) / (ta + v))
                     * log2(((na + 1) / (ta + v))
                            / ((nb + 1) / (tb + v)))), 6) AS kl_bits,
           CAST(MAX(v) AS BIGINT) AS vocab_size,
           CAST(MAX(ta) AS BIGINT) AS n_words_a,
           CAST(MAX(tb) AS BIGINT) AS n_words_b
    FROM j, t
    """,
)
def drift_text_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TEXT drift: KL divergence (bits) between the
    add-one-smoothed unigram distributions of two document snapshots —
    the text sibling of PSI/KS/chi-square, catching vocabulary and
    topic shift that schema-level monitors can't see.  Both snapshots
    live in the same table here, so ONE scan + conditional aggregation
    (``sum(when(side_a, 1))`` / ``sum(when(side_b, 1))``) produces
    both wordcount columns — no second scan, no vocab full-outer join
    (VERDICT r5 #2; genuinely separate snapshot TABLES would use one
    wordcount aggregation per table + the join, same downstream).
    Map-side combine means the single shuffle carries distinct words;
    the statistic is O(vocab).  The per-word count relation is pinned
    while the totals and the statistic both read it (Spark shares no
    subplans — uncached, the totals leg would re-scan the corpus); at
    100 TB that caches vocab-sized counts, never corpus rows.  Laplace
    smoothing keeps every term finite on one-sided words; log ratios
    are transcendental, so round-6 has no exact tie class."""
    d = _t(spark, sf_dir, "documents")
    j = pin(
        d.select(
            (F.col("doc_id") % 2 == 0).alias("_a"),
            F.explode(
                F.expr("filter(split(lower(text), ' '), x -> x != '')")
            ).alias("w"),
        )
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("_a"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(~F.col("_a"), 1).otherwise(0)).alias("nb"),
        )
        .select("na", "nb")
    )
    t = j.agg(
        F.sum("na").cast("double").alias("ta"),
        F.sum("nb").cast("double").alias("tb"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    cells = j.crossJoin(F.broadcast(t)).select(
        ((F.col("na") + 1) / (F.col("ta") + F.col("v"))).alias("pa"),
        ((F.col("nb") + 1) / (F.col("tb") + F.col("v"))).alias("pb"),
        "ta",
        "tb",
        "v",
    )
    return cells.agg(
        F.round(
            F.sum(F.col("pa") * F.log2(F.col("pa") / F.col("pb"))), 6
        ).alias("kl_bits"),
        F.max("v").cast("long").alias("vocab_size"),
        F.max("ta").cast("long").alias("n_words_a"),
        F.max("tb").cast("long").alias("n_words_b"),
    )


@query(
    "profile_fd_discovery",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus AS st, o_orderpriority AS pr,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(year(o_orderdate) >= 1998 AS BIGINT) AS era
      FROM orders),
    combos AS (SELECT DISTINCT st, pr, yr, era FROM base),
    pairs AS (
      SELECT 'st' AS lhs, 'pr' AS rhs, st AS a, pr AS b FROM combos
      UNION ALL SELECT 'st', 'yr', st, CAST(yr AS VARCHAR) FROM combos
      UNION ALL SELECT 'st', 'era', st, CAST(era AS VARCHAR) FROM combos
      UNION ALL SELECT 'pr', 'st', pr, st FROM combos
      UNION ALL SELECT 'pr', 'yr', pr, CAST(yr AS VARCHAR) FROM combos
      UNION ALL SELECT 'pr', 'era', pr, CAST(era AS VARCHAR) FROM combos
      UNION ALL SELECT 'yr', 'st', CAST(yr AS VARCHAR), st FROM combos
      UNION ALL SELECT 'yr', 'pr', CAST(yr AS VARCHAR), pr FROM combos
      UNION ALL SELECT 'yr', 'era', CAST(yr AS VARCHAR),
                       CAST(era AS VARCHAR) FROM combos
      UNION ALL SELECT 'era', 'st', CAST(era AS VARCHAR), st FROM combos
      UNION ALL SELECT 'era', 'pr', CAST(era AS VARCHAR), pr FROM combos
      UNION ALL SELECT 'era', 'yr', CAST(era AS VARCHAR),
                       CAST(yr AS VARCHAR) FROM combos),
    per_lhs AS (
      SELECT lhs, rhs, a, COUNT(DISTINCT b) AS nb
      FROM (SELECT DISTINCT lhs, rhs, a, b FROM pairs)
      GROUP BY 1, 2, 3)
    SELECT lhs, rhs,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_values,
           CAST(SUM(nb) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM per_lhs GROUP BY 1, 2
    """,
)
def profile_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency DISCOVERY (operators/profile.py:
    fd_discovery): every ordered pair of (status, priority, order-year,
    era) scored for lhs→rhs dependency — the search that feeds the
    single-pair FD rule and the contract-suggestion loop with
    candidate constraints.  The planted era column (year >= 1998) makes
    yr→era a TRUE dependency the discovery must find while era→yr and
    every other pair fail with measured violating-lhs counts.  One
    corpus scan builds the distinct-combination relation; all 12 pair
    aggregations run over that tiny frame (combo-cardinality-bounded,
    the base is never re-read).  String-cast comparisons in the oracle
    mirror value distinctness, not representation."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pr"),
        F.year("o_orderdate").cast("long").alias("yr"),
        (F.year("o_orderdate") >= 1998).cast("long").alias("era"),
    )
    return fd_discovery(o, ["st", "pr", "yr", "era"])


def _fd2_oracle_sql() -> str:
    """DuckDB mirror of the level-2 FD search INCLUDING the TANE
    pruning rule (a composite candidate appears only when both
    single-column parents fail) — generated so the pruning logic lives
    in one loop on each side and at any scale factor."""
    cols = ["st", "pr", "yr", "slot"]
    singles = []
    for a in cols:
        for c in cols:
            if a == c:
                continue
            singles.append(
                f"s_{a}_{c} AS (SELECT SUM(CASE WHEN nb > 1 THEN 1 "
                "ELSE 0 END) = 0 AS holds FROM "
                f"(SELECT {a}, COUNT(DISTINCT {c}) AS nb FROM combos "
                f"GROUP BY {a}))"
            )
    legs = []
    for a, b in combinations(cols, 2):
        for c in cols:
            if c in (a, b):
                continue
            legs.append(
                "SELECT * FROM ("
                f"SELECT '{a}+{b}' AS lhs, '{c}' AS rhs,"
                " CAST(COUNT(*) AS BIGINT) AS n_lhs_values,"
                " CAST(SUM(nb) AS BIGINT) AS n_pairs,"
                " CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END)"
                " AS BIGINT) AS n_violating_lhs,"
                " SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds"
                f" FROM (SELECT {a}, {b}, COUNT(DISTINCT {c}) AS nb"
                f" FROM combos GROUP BY {a}, {b})"
                f") WHERE NOT (SELECT holds FROM s_{a}_{c})"
                f" AND NOT (SELECT holds FROM s_{b}_{c})"
            )
    return (
        "WITH base AS (SELECT o_orderstatus AS st,"
        " o_orderpriority AS pr,"
        " CAST(year(o_orderdate) AS VARCHAR) AS yr,"
        " o_orderstatus || '#' || o_orderpriority AS slot FROM orders),"
        " combos AS MATERIALIZED"
        " (SELECT DISTINCT st, pr, yr, slot FROM base), "
        + ", ".join(singles)
        + " "
        + " UNION ALL ".join(legs)
    )


@query("profile_fd_composite", oracle=_fd2_oracle_sql())
def profile_fd_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-2 functional-dependency discovery (operators/profile.py:
    fd_discovery_composite — VERDICT r7 item 7, the TANE level-wise
    step): candidates ``{a,b} → c`` are tested ONLY when both
    single-column parents fail (implied dependencies are pruned before
    any level-2 aggregation runs — lattice control is driver-side over
    k·(k-1) booleans, the distributed work is one combos-relation
    aggregation per surviving candidate).  The planted ``slot`` column
    (status || '#' || priority) makes ``st+pr → slot`` a TRUE minimal
    composite dependency — neither st nor pr alone determines slot —
    while slot's own single-column FDs (slot → st, slot → pr) prune
    every composite that contains slot on the left with st/pr on the
    right, so the oracle checks the pruning rule as much as the
    verdicts."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderpriority").alias("pr"),
        F.year("o_orderdate").cast("string").alias("yr"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias(
            "slot"
        ),
    )
    return fd_discovery_composite(o, ["st", "pr", "yr", "slot"])


@query(
    "profile_join_cardinality",
    oracle="""
    WITH ca AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS na
                FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
    cb AS (SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS nb
           FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
    j AS (SELECT COALESCE(ca.k, cb.k) AS k,
                 COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb ON ca.k = cb.k),
    agg AS (SELECT
              CAST(SUM(CASE WHEN na > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_keys_a,
              CAST(SUM(CASE WHEN nb > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_keys_b,
              CAST(SUM(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_keys,
              CAST(SUM(na) AS BIGINT) AS rows_a,
              CAST(SUM(nb) AS BIGINT) AS rows_b,
              CAST(SUM(na * nb) AS BIGINT) AS join_rows
            FROM j),
    top AS (SELECT k AS top_key,
                   CAST(na * nb AS BIGINT) AS top_key_fanout
            FROM j ORDER BY na * nb DESC, k DESC LIMIT 1)
    SELECT 'o_custkey' AS key_column, rows_a, rows_b, n_keys_a,
           n_keys_b, n_shared_keys, join_rows, top_key, top_key_fanout,
           ((2000000 * join_rows + GREATEST(rows_a, rows_b))
            // (2 * GREATEST(rows_a, rows_b))) / 1000000.0
             AS amplification
    FROM agg, top
    """,
)
def profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality advisor (operators/profile.py:
    join_cardinality_profile): the EXACT orders⋈customer output size
    from per-key counts — Σ cntA·cntB over shared keys — plus the
    heaviest key pair and the output/input amplification, WITHOUT
    running the join.  With profile_key_skew this is the pre-shuffle
    checklist: skew decides salting, this decides whether the fanout
    bill is payable at all.  Two distinct-key shuffles + one tiny
    count-relation join; ratios use exact integer half-up division."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return join_cardinality_profile(o, c, "o_custkey", "c_custkey")


@query(
    "profile_key_skew",
    oracle="""
    WITH counts AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS n
                    FROM lineitem WHERE l_partkey IS NOT NULL
                    GROUP BY 1),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(MAX(n) AS BIGINT) AS max_count,
                   ROUND(STDDEV_SAMP(n) / AVG(n), 6) AS cv,
                   ROUND(quantile_cont(n, 0.5), 4) AS p50_count,
                   ROUND(quantile_cont(n, 0.9), 4) AS p90_count,
                   ROUND(quantile_cont(n, 0.99), 4) AS p99_count
            FROM counts),
    top AS (SELECT k AS top_key FROM counts
            ORDER BY n DESC, k DESC LIMIT 1)
    SELECT 'l_partkey' AS key_column, n_rows, n_keys, max_count, top_key,
           ((2000000 * max_count + n_rows) // (2 * n_rows)) / 1000000.0
             AS max_share,
           ((2000000 * max_count * n_keys + n_rows) // (2 * n_rows))
             / 1000000.0 AS skew_ratio,
           cv, p50_count, p90_count, p99_count
    FROM agg, top
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew advisor (operators/profile.py:
    key_skew_profile): the per-key count distribution for a
    prospective join/agg key — heaviest key, max share, skew ratio
    (max/mean), CV, and exact count percentiles.  The measurement that
    decides plain shuffle vs AQE skew split vs explicit salting
    (agg_salted_skew_counts is the remedy; this is the diagnosis).
    One distinct-key shuffle + O(keys) statistics; shares/ratios use
    exact integer half-up division, so the verdict is hash-stable."""
    li = _t(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_partkey")


@query(
    "profile_mutual_information",
    oracle="""
    WITH joint AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM orders
      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
      GROUP BY 1, 2),
    cells AS (SELECT n,
                     SUM(n) OVER (PARTITION BY a) AS na,
                     SUM(n) OVER (PARTITION BY b) AS nb,
                     SUM(n) OVER () AS t
              FROM joint),
    agg AS (SELECT SUM(-(n/t) * log2(na/t)) AS ha,
                   SUM(-(n/t) * log2(nb/t)) AS hb,
                   SUM(-(n/t) * log2(n/t)) AS hab,
                   CAST(MAX(t) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM cells)
    SELECT 'o_orderpriority' AS col_a, 'o_orderstatus' AS col_b,
           n_rows, n_cells,
           ROUND(ha, 6) AS h_a_bits, ROUND(hb, 6) AS h_b_bits,
           ROUND(hab, 6) AS h_joint_bits,
           ROUND(ha + hb - hab, 6) + 0.0 AS mi_bits,
           ROUND(CASE WHEN ha > 0 THEN (ha + hb - hab) / ha END, 6)
             + 0.0 AS u_a_given_b,
           ROUND(CASE WHEN hb > 0 THEN (ha + hb - hab) / hb END, 6)
             + 0.0 AS u_b_given_a
    FROM agg
    """,
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic dependency profile (operators/profile.py:
    mutual_information_profile): entropies, mutual information, and
    uncertainty coefficients between order priority and status — the
    GRADED complement of the hard FD rule (U == 1 is a functional
    dependency; anything between quantifies "almost determines").  One
    joint-count aggregation scans the corpus once; marginals derive
    from the k contingency cells via window sums, so cost after the
    scan is O(cells).  ``+ 0.0`` on the near-zero terms folds -0.0 to
    0.0 on both engines (independent columns give MI ≈ ±1e-16 before
    rounding — the sign of a zero must not flip the hash)."""
    o = _t(spark, sf_dir, "orders")
    out = mutual_information_profile(o, "o_orderpriority", "o_orderstatus")
    return out.select(
        "col_a", "col_b", "n_rows", "n_cells",
        "h_a_bits", "h_b_bits", "h_joint_bits",
        (F.col("mi_bits") + 0.0).alias("mi_bits"),
        (F.col("u_a_given_b") + 0.0).alias("u_a_given_b"),
        (F.col("u_b_given_a") + 0.0).alias("u_b_given_a"),
    )


@query(
    "drift_wasserstein",
    oracle=f"""{_pooled_counts(_CENTS)}
    cum AS (SELECT v, SUM(na) OVER w AS cuma, SUM(nb) OVER w AS cumb,
                   LEAD(v) OVER w AS nextv
            FROM cnts WINDOW w AS (ORDER BY v)),
    tot AS (SELECT SUM(na) AS n_a, SUM(nb) AS n_b FROM cnts),
    joined AS (SELECT c.*, t.n_a, t.n_b FROM cum c, tot t
               WHERE c.nextv IS NOT NULL)
    SELECT ROUND(CAST(SUM(ABS(CAST(cuma AS HUGEINT) * n_b
                              - CAST(cumb AS HUGEINT) * n_a)
                          * (nextv - v)) AS DOUBLE)
                 / (CAST(ANY_VALUE(n_a) AS DOUBLE)
                    * CAST(ANY_VALUE(n_b) AS DOUBLE) * 100.0), 6)
             AS w1_stat,
           CAST(ANY_VALUE(n_a) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b
    FROM joined
    """,
)
def drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth mover's) drift between urgent- and
    normal-priority order amounts (operators/relational.py:
    wasserstein_1d) — the drift measure that weighs HOW FAR the mass
    moved where KS only sees the largest CDF gap.  Values enter as
    integer cents, so every CDF-gap term ``|cuma·n_b − cumb·n_a| · gap``
    is an exact integer accumulated in DECIMAL(38,0) (the emb_near_dup
    discipline); no float exists until the single final division.  The
    prefix sums are ``operators.block_scan``, as in drift_ks_totalprice,
    and summing by parts removes each value's successor — never a
    single-task global window; bin_width only sets block granularity
    (pytest-pinned invariant)."""
    return R.wasserstein_1d(
        *_urgent_normal(spark, sf_dir), "cents", bin_width=1_000_000,
        unit_scale=100.0,
    )


@query(
    "drift_mannwhitney",
    oracle=f"""{_pooled_counts(_CENTS)}
    ord AS (
      SELECT v, na, nb, na + nb AS t,
             COALESCE(SUM(na + nb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c
      FROM cnts),
    agg AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n_a,
             CAST(SUM(nb) AS BIGINT) AS n_b,
             SUM(CAST(na AS HUGEINT)
                 * (2 * CAST(c AS HUGEINT) + t + 1)) AS r2a,
             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
      FROM ord),
    fin AS (
      SELECT n_a, n_b, ties,
             CAST(r2a - CAST(n_a AS HUGEINT)
                        * (CAST(n_a AS HUGEINT) + 1) AS BIGINT)
               AS u_a_x2
      FROM agg),
    vr AS (
      SELECT *,
             CAST(n_a AS DOUBLE) * n_b / 12.0
             * ((n_a + n_b + 1)
                - CAST(ties AS DOUBLE)
                  / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
               AS var
      FROM fin)
    SELECT n_a, n_b, u_a_x2,
           CAST(2 * CAST(n_a AS HUGEINT) * n_b AS BIGINT) - u_a_x2
             AS u_b_x2,
           CASE WHEN n_a + n_b > 1 AND var > 0 THEN
             ROUND((CAST(u_a_x2 AS DOUBLE)
                    - CAST(n_a AS DOUBLE) * n_b)
                   / (2.0 * SQRT(var)), 6)
           END AS z
    FROM vr
    """,
)
def drift_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Mann–Whitney U rank-sum drift between urgent- and
    normal-priority order amounts (operators/relational.py:
    mannwhitney_u) — the rank-based member completing the drift family:
    KS sees the largest CDF gap, W1 the mass displacement, U the
    stochastic ordering (P[urgent > normal] shifted from ½), robust to
    any monotone value transform.  Doubled midranks make every tie
    group an exact integer (2C+t+1), so 2·R_a and 2·U accumulate in
    DECIMAL(38,0) with no float midranks; the tie-corrected normal z
    is the only float, round-6.  Same ``operators.block_scan`` over
    per-value counts as the KS/W1 siblings; never a single-task global
    window."""
    return R.mannwhitney_u(
        *_urgent_normal(spark, sf_dir), "cents", bin_width=1_000_000
    )


@query(
    "drift_cvm",
    oracle=f"""{_pooled_counts(_CENTS)}
    ord AS (
      SELECT na, nb, na + nb AS t,
             COALESCE(SUM(na + nb) OVER w, 0) AS c,
             COALESCE(SUM(na) OVER w, 0) AS ap
      FROM cnts
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    d AS (
      SELECT na, nb,
             2 * CAST(c AS HUGEINT) + t + 1
               - 2 * CAST(ap AS HUGEINT) AS d0a,
             2 * CAST(c AS HUGEINT) + t + 1
               - 2 * (CAST(c AS HUGEINT) - ap) AS d0b
      FROM ord),
    agg AS (
      SELECT CAST(COALESCE(SUM(na), 0) AS BIGINT) AS n_a,
             CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_b,
             SUM(3 * CAST(na AS HUGEINT) * d0a * d0a
                 - 6 * d0a * CAST(na AS HUGEINT) * (na + 1)
                 + 2 * CAST(na AS HUGEINT) * (na + 1)
                   * (2 * CAST(na AS HUGEINT) + 1)) AS sa,
             SUM(3 * CAST(nb AS HUGEINT) * d0b * d0b
                 - 6 * d0b * CAST(nb AS HUGEINT) * (nb + 1)
                 + 2 * CAST(nb AS HUGEINT) * (nb + 1)
                   * (2 * CAST(nb AS HUGEINT) + 1)) AS sb
      FROM d)
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             ROUND(CAST(CAST(n_a AS HUGEINT) * sa
                        + CAST(n_b AS HUGEINT) * sb AS DOUBLE)
                   / CAST(12 * CAST(n_a AS HUGEINT) * n_b
                          * (n_a + n_b) AS DOUBLE)
                   - CAST(4 * CAST(n_a AS HUGEINT) * n_b - 1 AS DOUBLE)
                   / CAST(6 * (CAST(n_a AS HUGEINT) + n_b) AS DOUBLE),
                   6)
           END AS cvm_t
    FROM agg
    """,
)
def drift_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Cramér–von Mises T between urgent- and
    normal-priority order amounts (operators/relational.py:
    cramer_von_mises — Anderson 1962 rank form) on the SAME pooled
    cents frame as drift_mannwhitney, completing the drift family's
    whole-CDF member: KS sees the single largest CDF gap, W1 the total
    mass displacement, U the stochastic ordering — CvM integrates the
    SQUARED CDF gap over the pooled sample, so many small distributed
    discrepancies that never open one big gap still register.  Doubled
    midranks (2C+t+1) make every tie group's Σ3(2r−2i)² a closed-form
    pure-integer expression in DECIMAL(38,0) — no division anywhere
    until the two final exact-integer quotients (IEEE-identical across
    engines, round-6).  Same ``operators.block_scan`` over per-value
    counts as the KS/W1/U siblings — never a single-task global
    window."""
    return R.cramer_von_mises(
        *_urgent_normal(spark, sf_dir), "cents", bin_width=1_000_000
    )


@query(
    "drift_wasserstein_by_year",
    oracle=f"""{_pooled_counts(_CENTS, by_year=True)}
    cum AS (SELECT order_year, v,
              SUM(na) OVER w AS cuma, SUM(nb) OVER w AS cumb,
              LEAD(v) OVER w AS nextv,
              SUM(na) OVER (PARTITION BY order_year) AS n_a,
              SUM(nb) OVER (PARTITION BY order_year) AS n_b
            FROM cnts WINDOW w AS (PARTITION BY order_year ORDER BY v)),
    terms AS (SELECT order_year, n_a, n_b,
                CASE WHEN nextv IS NOT NULL THEN
                  ABS(CAST(cuma AS HUGEINT) * n_b
                      - CAST(cumb AS HUGEINT) * n_a) * (nextv - v) END
                  AS t
              FROM cum)
    SELECT order_year,
           ROUND(CAST(COALESCE(SUM(t), 0) AS DOUBLE)
                 / NULLIF(CAST(ANY_VALUE(n_a) AS DOUBLE)
                          * CAST(ANY_VALUE(n_b) AS DOUBLE) * 100.0, 0), 6)
             AS w1_stat,
           CAST(ANY_VALUE(n_a) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(n_b) AS BIGINT) AS n_b
    FROM terms GROUP BY 1
    """,
)
def drift_wasserstein_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEGMENT exact Wasserstein-1 drift (operators/relational.py:
    wasserstein_by_group): the urgent-vs-normal price distance computed
    independently per order year in ONE pass — "which year's
    distribution moved?", the same segmentation step agg_kll_by_segment
    applies to the quantile sketch.  The group key joins every window's
    partitioning, so the computation is embarrassingly parallel across
    segments (each segment's frame is its own value domain); arithmetic
    keeps the ungrouped operator's exact-integer DECIMAL(38,0)
    contract, and a group missing one side yields NULL via try_divide
    (SQL NULLIF parity), never an ANSI abort."""
    a, b = (
        side.select(F.year("o_orderdate").alias("order_year"), "cents")
        for side in _urgent_normal(spark, sf_dir)
    )
    return R.wasserstein_by_group(
        a, b, "order_year", "cents", unit_scale=100.0
    )


@query(
    "drift_mannwhitney_by_segment",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment AS segment,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
      FROM customer
      WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
    cnts AS (
      SELECT segment, v, CAST(COUNT(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2),
    grp AS (SELECT v, SUM(c) AS t FROM cnts GROUP BY 1),
    vals AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
      FROM grp),
    gl AS (SELECT SUM(t) AS n, SUM(t * t * t - t) AS ties FROM vals),
    per AS (
      SELECT segment, SUM(c) AS ng,
             SUM(c * (2 * cb + t + 1)) AS r2
      FROM cnts JOIN vals USING (v) GROUP BY 1),
    vr AS (
      SELECT segment, ng, n - ng AS nr, ties, n,
             CAST(r2 - ng * (ng + 1) AS BIGINT) AS u_seg_x2,
             CAST(ng AS DOUBLE) * CAST(n - ng AS DOUBLE) / 12.0
             * ((CAST(n AS DOUBLE) + 1)
                - CAST(ties AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
               AS var
      FROM per, gl)
    SELECT segment,
           CAST(ng AS BIGINT) AS n_seg,
           CAST(nr AS BIGINT) AS n_rest,
           u_seg_x2,
           CASE WHEN n > 1 AND nr > 0 AND var > 0 THEN
             ROUND((CAST(u_seg_x2 AS DOUBLE)
                    - CAST(ng AS DOUBLE) * CAST(nr AS DOUBLE))
                   / (2.0 * SQRT(var)), 6)
           END AS z
    FROM vr ORDER BY 1
    """,
)
def drift_mannwhitney_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE-VS-REST Mann–Whitney U for every market segment's account
    balances against the rest of the customer base
    (operators/relational.py: mannwhitney_by_segment) — the
    segment-scan companion to drift_mannwhitney: instead of one
    hand-picked a-vs-b pair, all |G| one-vs-rest tests come out of a
    SINGLE pass because for one-vs-rest the pooled sample is the whole
    table, so the below-counts, tie sizes, and the Σ(t³−t) correction
    are global and shared by every segment.  Doubled midranks keep
    2·R_g and 2·U_g exact DECIMAL(38,0); the per-segment z is the only
    float (round-6).  ONE data shuffle (the (segment, value)
    pair-count agg, pinned + released on materialize); the global
    cumulative is an ``operators.block_scan`` of the distinct-value
    frame."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100, 0).cast("long")
    )
    return R.mannwhitney_by_segment(
        c, "c_mktsegment", "cents", bin_width=1_000_000
    )


@query(
    "drift_segment_bh_scan",
    oracle="""
    WITH base AS (
      SELECT CAST(c_nationkey AS INT) AS segment,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
      FROM customer
      WHERE c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL),
    cnts AS (
      SELECT segment, v, CAST(COUNT(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2),
    grp AS (SELECT v, SUM(c) AS t FROM cnts GROUP BY 1),
    vals AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb
      FROM grp),
    gl AS (SELECT SUM(t) AS n, SUM(t * t * t - t) AS ties FROM vals),
    per AS (
      SELECT segment, SUM(c) AS ng,
             SUM(c * (2 * cb + t + 1)) AS r2
      FROM cnts JOIN vals USING (v) GROUP BY 1),
    st1 AS (
      SELECT segment, ng, n - ng AS nr, n, ties,
             r2 - ng * (ng + 1) AS u2,
             r2 - ng * (ng + 1) - ng * (n - ng) AS d
      FROM per, gl),
    st2 AS (
      SELECT segment, ng, nr, u2, d,
             3 * d * d * n * (n - 1) AS num,
             ng * nr * (n * (n - 1) * (n + 1) - ties) AS den
      FROM st1),
    pv AS (
      SELECT segment,
             CAST(ng AS BIGINT) AS n_seg,
             CAST(nr AS BIGINT) AS n_rest,
             CAST(u2 AS BIGINT) AS u_seg_x2,
             CASE WHEN den > 0 THEN
               CASE WHEN d = 0 OR den >= num
                    THEN CAST(1000000 AS BIGINT)
                    ELSE CAST((1000000 * den) // num AS BIGINT) END
             END AS p_cheby_ppm
      FROM st2),
    rk AS (
      SELECT *,
             CASE WHEN p_cheby_ppm IS NOT NULL THEN
               CAST(ROW_NUMBER() OVER (
                 ORDER BY (p_cheby_ppm IS NULL), p_cheby_ppm, segment)
                 AS BIGINT) END AS p_rank,
             COUNT(p_cheby_ppm) OVER () AS m
      FROM pv),
    kk AS (
      SELECT *,
             MAX(CASE WHEN CAST(p_cheby_ppm AS HUGEINT) * m
                        <= 50000 * p_rank
                      THEN p_rank END) OVER () AS k
      FROM rk)
    SELECT segment, n_seg, n_rest, u_seg_x2, p_cheby_ppm, p_rank,
           CASE WHEN p_cheby_ppm IS NOT NULL
                THEN COALESCE(p_rank <= k, FALSE) END AS bh_reject
    FROM kk ORDER BY segment
    """,
)
def drift_segment_bh_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest Mann–Whitney scan over all 25 customer nations'
    account balances with BENJAMINI-HOCHBERG false-discovery control
    (operators/relational.py: mannwhitney_bh_scan) — the decision
    layer the segment scan needs: 25 simultaneous tests at α = 0.05
    fabricate a "drifting" nation in roughly three runs out of four
    without correction.  The whole chain is EXACT integer arithmetic:
    the doubled centered statistic d = 2U − n_g·n_rest, the
    tie-corrected z² as the integer pair (3d²N(N−1),
    n_g·n_rest·(N(N−1)(N+1) − Σ(t³−t))), the distribution-free
    Chebyshev bound p_ppm = min(10⁶, 10⁶·den div num), and the BH
    step-up p_(i)·m ≤ α·i — no erf, no floats, the oracle replays
    every branch bit-for-bit.  ONE data shuffle (the (segment, value)
    pair-count agg, pinned + released on materialize); BH windows run
    on the 25-row frame."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100, 0).cast("long")
    ).withColumn("c_nationkey", F.col("c_nationkey").cast("int"))
    return R.mannwhitney_bh_scan(
        c, "c_nationkey", "cents",
        alpha_ppm=50_000, bin_width=1_000_000,
    )
