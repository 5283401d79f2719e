"""One-pass table profiling: per-column statistics in a single scan.

The data-validator counterpart of Deequ/Great-Expectations profilers:
row count, null counts, distinct counts, numeric moments, and string
length bounds for every requested column — computed as expression
columns of ONE aggregation, so the table is scanned once regardless of
how many columns are profiled (the same single-pass trick as the rule
metrics in ``operators/relational.py``).

Output is long-format ``(column, metric, value)`` rows — stable schema
no matter which columns are profiled, so sinks/dashboards don't churn.
The wide→long pivot happens on the single aggregate row via ``stack``,
never on data rows.

Distinct counts are exact ``COUNT(DISTINCT)`` (one extra expand of the
agg, still one scan; oracle-exact).  ``operators/sketches.py`` holds the
mergeable sketches for where an exact count is too dear.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators import block_scan, checkpoint, pin

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}
_TEMPORAL = {"date", "timestamp", "timestamp_ntz"}


def profile_table(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Profile ``columns`` (default: all non-complex columns) in one
    aggregation pass.  Returns ``(column, metric, value)`` with metrics:

    - every column: ``row_count``, ``null_count``, ``distinct_count``
      (exact)
    - numeric: ``min``, ``max``, ``mean``, ``stddev`` (sample)
    - string: ``min_length``, ``max_length``, ``avg_length``
    - date / timestamp (incl. NTZ): ``min_epoch_s``, ``max_epoch_s`` —
      the bounds as epoch seconds, so freshness/staleness checks read
      straight off the profile (the session timezone is pinned UTC by
      every entry point, making NTZ wall-clock and epoch agree
      cross-engine)

    All values are DOUBLE (metrics are quantitative; string min/max
    VALUES are a top-k question, not a profile metric).  Rounded to 6
    for cross-engine hash stability.
    """
    dtypes = dict(df.dtypes)
    if columns is None:
        columns = [
            c for c, t in df.dtypes
            if t in _NUMERIC or t == "string" or t.startswith("decimal")
            or t in _TEMPORAL
        ]
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    metrics: list[tuple[str, str]] = []  # (column, metric) in agg order

    def add(col: str, metric: str, expr: Column) -> None:
        aggs.append(expr.alias(f"{col}__{metric}"))
        metrics.append((col, metric))

    for c in columns:
        t = dtypes[c]
        add(c, "null_count", F.sum(F.col(c).isNull().cast("long")).cast("double"))
        add(c, "distinct_count", F.count_distinct(F.col(c)).cast("double"))
        if t in _NUMERIC or t.startswith("decimal"):
            add(c, "min", F.min(c).cast("double"))
            add(c, "max", F.max(c).cast("double"))
            add(c, "mean", F.avg(c).cast("double"))
            add(c, "stddev", F.stddev_samp(c).cast("double"))
        elif t == "string":
            add(c, "min_length", F.min(F.length(c)).cast("double"))
            add(c, "max_length", F.max(F.length(c)).cast("double"))
            add(c, "avg_length", F.avg(F.length(c)).cast("double"))
        elif t in _TEMPORAL:
            ep = F.unix_timestamp(F.col(c).cast("timestamp")).cast("double")
            add(c, "min_epoch_s", F.min(ep))
            add(c, "max_epoch_s", F.max(ep))
    wide = df.agg(*aggs)

    # one-row wide → long: explode an array of literal structs (operates
    # on the single aggregate row only); row_count replicates per column
    # so every column's profile is self-contained
    triples: list[tuple[Column, Column, Column]] = [
        (F.lit(c), F.lit(m), F.col(f"{c}__{m}")) for c, m in metrics
    ] + [
        (F.lit(c), F.lit("row_count"), F.col("__rows").cast("double"))
        for c in columns
    ]
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        c.alias("column"),
                        m.alias("metric"),
                        F.round(v, 6).alias("value"),
                    )
                    for c, m, v in triples
                ]
            )
        ).alias("p")
    ).select("p.column", "p.metric", "p.value")


def functional_dependency_profile(
    df: DataFrame,
    lhs_col: str,
    rhs_col: str,
) -> DataFrame:
    """Check the candidate functional dependency ``lhs → rhs`` and, where
    it fails, quantify HOW it fails — the Deequ-style FD validator
    (``hasUniqueness``/``satisfies`` generalized to discovered rules).

    Per distinct LHS value: row count, distinct RHS count, the MODAL rhs
    (most frequent, ties broken by value so the result is deterministic),
    how many rows carry it, and ``violation_rows`` = rows that would need
    to change for the FD to hold.  ``fd_holds`` is the per-key verdict.

    Null LHS rows have no key to check and null RHS rows have no value
    to agree on — both are excluded (completeness is its own rule;
    folding it into FD counts double-reports one defect as two).

    Two aggregations, both partial-aggregated map-side: (lhs, rhs) pair
    counts, then a per-lhs rollup where the mode falls out of a
    ``max_by``-style struct comparison instead of a window sort — one
    shuffle on the pair, one on lhs, no row-level window.  At 100 TB the
    pair-count frame is the (small) co-domain, not the data.
    """
    pairs = (
        df.filter(
            F.col(lhs_col).isNotNull() & F.col(rhs_col).isNotNull()
        )
        .groupBy(
            F.col(lhs_col).alias("lhs_value"),
            F.col(rhs_col).alias("_rhs"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # mode with deterministic tie-break: max of (count, reversed-rhs) —
    # expressed as max_by over a struct ordered (count asc, rhs desc)
    # would tie-break toward the LARGER rhs; to break ties toward the
    # SMALLER rhs portably, take min_by over (-count, rhs).
    out = pairs.groupBy("lhs_value").agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_rhs"),
        F.min(F.struct((-F.col("_n")).alias("neg"), F.col("_rhs").alias("v"))).alias("_top"),
    )
    return out.select(
        "lhs_value",
        "n_rows",
        "n_distinct_rhs",
        F.col("_top.v").alias("top_rhs"),
        (-F.col("_top.neg")).cast("bigint").alias("top_rhs_rows"),
        (F.col("n_rows") + F.col("_top.neg")).cast("bigint").alias(
            "violation_rows"
        ),
        (F.col("n_distinct_rhs") == 1).alias("fd_holds"),
    )


_BENFORD_DECIMALS = 2


def benford_first_digit(
    df: DataFrame,
    col: str,
) -> DataFrame:
    """First-significant-digit distribution of a positive numeric column
    against Benford's law — the classic fabricated-data / unit-mixup
    screen for financial-style amounts.

    The digit is extracted in INTEGER space: the value is scaled by
    ``10^decimals``, rounded to a bigint, and the first character of its
    decimal rendering is the digit.  Floating ``log10``/``pow`` digit
    extraction misfires at exact powers of ten (``log10(1000.) →
    2.999…`` in some libms) and is NOT engine-stable; integer-string
    extraction is exact and portable.

    Returns one row per digit 1-9: observed count, observed share,
    Benford's expected share ``log10(1+1/d)``, and the absolute
    deviation.  One aggregation over a projection; digits absent from
    the data still appear (zero count) via a 9-row literal frame join so
    the output schema/rowcount is input-independent.
    """
    import math

    spark = df.sparkSession
    scale = 10 ** _BENFORD_DECIMALS
    digit = F.substring(
        F.round(F.col(col) * F.lit(scale)).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    observed = (
        df.filter(F.col(col) > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = spark.createDataFrame(
        [(d, round(math.log10(1.0 + 1.0 / d), 6)) for d in range(1, 10)],
        "digit int, expected_share double",
    )
    total = observed.agg(F.sum("n").alias("_t"))
    return (
        expected.join(observed, "digit", "left")
        .join(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)) / F.col("_t"), 6
            ).alias("share"),
            "expected_share",
            F.round(
                F.abs(
                    F.coalesce(F.col("n"), F.lit(0)) / F.col("_t")
                    - F.col("expected_share")
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def candidate_key_rule(df: DataFrame) -> DataFrame:
    """Candidate-key discovery: for each non-nested column, exact row / distinct /
    null counts and whether the column is a candidate key (unique and
    never null) — the uniqueness-contract suggestion a validator emits
    before anyone has declared keys.

    ONE aggregation pass for all columns (the :func:`profile_table`
    shape): N ``count_distinct`` aggregates compile into a single
    multi-distinct Expand plan — one scan, no per-column jobs.  The
    counts are exact, so the rule is hash-checkable.
    """
    columns = [c for c, t in df.dtypes if not t.startswith(("array", "map", "struct"))]
    if not columns:
        raise ValueError("no columns to profile")
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__d"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__n")
        )
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__rows").cast("long").alias("n_rows"),
            F.col(f"{c}__d").cast("long").alias("n_distinct"),
            F.coalesce(F.col(f"{c}__n"), F.lit(0))
            .cast("long")
            .alias("n_nulls"),
            (
                (F.col(f"{c}__d") == F.col("__rows"))
                & (F.coalesce(F.col(f"{c}__n"), F.lit(0)) == 0)
            ).alias("is_candidate_key"),
        )
        for c in columns
    ]
    return wide.select(F.explode(F.array(*structs)).alias("_s")).select(
        "_s.*"
    )


def metrics_history(
    runs: Sequence[tuple],
    columns: Optional[Sequence[str]] = None,
    run_col: str = "run_id",
) -> DataFrame:
    """Deequ-style metrics repository builder: profile each ``(run_id,
    DataFrame)`` snapshot with :func:`profile_table` and stack the long
    rows into one ``(run_id, column, metric, value)`` history frame.

    Each run costs its own single-pass aggregation (in production runs
    arrive over time and their profile rows APPEND to a persisted
    metrics table — this builder exists so a backfill / test can mint N
    runs in one plan); the union is metadata-only.  The history frame
    is what :func:`profile_trend_anomalies` monitors.
    """
    if not runs:
        raise ValueError("runs must be non-empty")
    parts = []
    for run_id, df in runs:
        parts.append(
            profile_table(df, columns=columns).select(F.lit(run_id).alias(run_col), "column", "metric", "value")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_TREND_TRAILING = 3
_TREND_Z = 3.0


def profile_trend_anomalies(
    history: DataFrame,
    run_col: str = "run_id",
) -> DataFrame:
    """Trend-based validation over a metrics repository: flag any
    ``(column, metric)`` whose CURRENT value deviates from its own
    trailing-``_TREND_TRAILING``-run history — the "compare this run against
    the last N runs" rule that catches slow drifts and sudden breaks a
    two-snapshot diff can't see (the most common production
    data-quality shape; Deequ's AnomalyDetection-on-repository
    pattern).

    Per (column, metric): the value, the mean/stddev of the PRECEDING
    ``_TREND_TRAILING`` runs (current excluded — the monitored value must not
    contaminate its own baseline, same discipline as
    events_analytics.rolling_zscore_anomalies), the z-score, and
    ``is_anomaly``.  Fewer than 2 preceding observations or zero
    variance → NULL z, never flagged.

    Scale: the window partitions by (column, metric) and each partition
    holds ONE ROW PER RUN — thousands of rows after years of daily
    runs — so the ordered window is bounded by construction; the raw
    tables are never re-read (the repository IS the input).
    """
    w = (
        Window.partitionBy("column", "metric")
        .orderBy(run_col)
        .rowsBetween(-_TREND_TRAILING, -1)
    )
    base = history.select(
        run_col,
        "column",
        "metric",
        "value",
        F.count("value").over(w).alias("_n_prev"),
        F.avg("value").over(w).alias("_mean"),
        F.stddev_samp("value").over(w).alias("_std"),
    )
    z = F.when(
        (F.col("_n_prev") >= 2)
        & F.col("_std").isNotNull()
        & (F.col("_std") > 0),
        (F.col("value") - F.col("_mean")) / F.col("_std"),
    )
    return base.select(
        run_col,
        "column",
        "metric",
        "value",
        F.round("_mean", 6).alias("trailing_mean"),
        F.round("_std", 6).alias("trailing_std"),
        F.round(z, 4).alias("z_score"),
        F.coalesce(
            F.abs(z) > F.lit(_TREND_Z), F.lit(False)
        ).alias("is_anomaly"),
    )


def mutual_information_profile(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Information-theoretic dependency between two categorical columns:
    entropies H(A), H(B), H(A,B), mutual information, and the
    uncertainty coefficients U(A|B), U(B|A) — the GRADED complement of
    :func:`functional_dependency_profile` (an FD is the U == 1 extreme;
    this measures how close a soft dependency gets, catching
    "priority almost determines status" relationships a hard FD rule
    calls simply broken).

    ONE aggregation builds the joint (a, b) contingency cells (map-side
    combined — the shuffle carries distinct pairs, not rows); marginals
    and the total derive from the CELLS via window sums, so the corpus
    is scanned exactly once however it scales.  The windows run over
    the k-cell frame only — k is the category-pair cardinality, which
    must be aggregate-scale (the same contract as chi-square/PSI); this
    is not an operator for high-cardinality keys.

    Entropies in bits, rounded to 6 (−p·log2 p is transcendental — no
    exact tie class).  NULLs are excluded (a null is a completeness
    question, not a category).  Returns one row.
    """
    a, b = F.col(col_a), F.col(col_b)
    joint = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("_n"))
    )
    wa = Window.partitionBy("_a")
    wb = Window.partitionBy("_b")
    wt = Window.partitionBy()
    cells = joint.select(
        "_n",
        F.sum("_n").over(wa).alias("_na"),
        F.sum("_n").over(wb).alias("_nb"),
        F.sum("_n").over(wt).alias("_t"),
    )
    p = F.col("_n") / F.col("_t")
    agg = cells.agg(
        F.sum(-p * F.log2(F.col("_na") / F.col("_t"))).alias("_ha"),
        F.sum(-p * F.log2(F.col("_nb") / F.col("_t"))).alias("_hb"),
        F.sum(-p * F.log2(p)).alias("_hab"),
        F.max("_t").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    mi = F.col("_ha") + F.col("_hb") - F.col("_hab")
    return agg.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        "n_rows",
        "n_cells",
        F.round("_ha", 6).alias("h_a_bits"),
        F.round("_hb", 6).alias("h_b_bits"),
        F.round("_hab", 6).alias("h_joint_bits"),
        F.round(mi, 6).alias("mi_bits"),
        F.round(
            F.when(F.col("_ha") > 0, mi / F.col("_ha")), 6
        ).alias("u_a_given_b"),
        F.round(
            F.when(F.col("_hb") > 0, mi / F.col("_hb")), 6
        ).alias("u_b_given_a"),
    )


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Pre-shuffle skew advisor: the distribution of per-key row counts
    for a prospective join/aggregation key — the measurement that
    decides between a plain shuffle, AQE skew splitting, and explicit
    salting BEFORE the cluster bill arrives (operators/relational.py's
    salted aggregation is the remedy; this is the diagnosis).

    One row: total rows/keys, the heaviest key (deterministic max-count
    tie-break toward the larger key) and its count, ``max_share`` (top
    key's fraction of all rows), ``skew_ratio`` (max/mean per-key count
    — 1.0 is perfectly uniform), coefficient of variation, and exact
    p50/p90/p99 of the per-key counts.

    Cost: one map-side-combined count per key (the shuffle carries
    distinct keys), then O(keys) statistics — the same two-level shape
    as the drift tests.  Shares/ratios are quantized with exact integer
    half-up division (never ``round(double)`` on terminating rationals);
    interpolated count percentiles carry ≤2 decimals so round-4 is
    tie-free.  NULL keys are excluded (a null key is a completeness
    defect, not a skew question).
    """
    k = F.col(key_col)
    counts = (
        df.filter(k.isNotNull())
        .groupBy(k.alias("_k"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    pcts = F.percentile("_n", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    agg = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_n").cast("long").alias("n_rows"),
        F.max("_n").cast("long").alias("max_count"),
        F.max(F.struct(F.col("_n"), F.col("_k"))).alias("_top"),
        F.round(
            F.stddev_samp("_n") / F.avg("_n"), 6
        ).alias("cv"),
        pcts.alias("_p"),
    )
    return agg.select(
        F.lit(key_col).alias("key_column"),
        "n_rows",
        "n_keys",
        "max_count",
        F.col("_top._k").alias("top_key"),
        F.expr(
            "cast((2000000 * max_count + n_rows) div (2 * n_rows)"
            " as double) / 1000000.0"
        ).alias("max_share"),
        F.expr(
            "cast((2000000 * max_count * n_keys + n_rows)"
            " div (2 * n_rows) as double) / 1000000.0"
        ).alias("skew_ratio"),
        "cv",
        F.round(F.col("_p")[0], 4).alias("p50_count"),
        F.round(F.col("_p")[1], 4).alias("p90_count"),
        F.round(F.col("_p")[2], 4).alias("p99_count"),
    )


def join_cardinality_profile(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    key_col_b: str,
) -> DataFrame:
    """Pre-join cardinality advisor: the EXACT output size of
    ``a JOIN b ON a.key_col = b.key_col_b``, computed from per-key counts WITHOUT
    running the join — Σ over shared keys of cntA·cntB.  Together with
    :func:`key_skew_profile` this is the pre-shuffle checklist: skew
    says whether the join needs salting/AQE, this says whether its
    OUTPUT will explode (the fact-fact fanout bill) before a cluster
    pays for it.

    One row: per-side row/key counts, shared-key count, the exact
    joined row count, the heaviest key pair (max cntA·cntB,
    deterministic tie-break toward the larger key) with its fanout,
    and ``amplification`` = joined rows / larger input (quantized with
    exact integer half-up division — hash-stable).

    Cost: each side reduces to (key, count) map-side — the shuffles
    carry distinct keys — and the tiny count relations join;
    everything after is O(shared keys).  NULL keys are excluded (they
    never match in an equi-join).
    """
    ca = (
        a.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("_k"))
        .agg(F.count(F.lit(1)).alias("_na"))
    )
    cb = (
        b.filter(F.col(key_col_b).isNotNull())
        .groupBy(F.col(key_col_b).alias("_k"))
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    j = ca.join(cb, "_k", "full_outer").select(
        "_k",
        F.coalesce("_na", F.lit(0)).alias("_na"),
        F.coalesce("_nb", F.lit(0)).alias("_nb"),
    )
    agg = j.agg(
        F.sum(F.when(F.col("_na") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_keys_a"),
        F.sum(F.when(F.col("_nb") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_keys_b"),
        F.sum(
            F.when((F.col("_na") > 0) & (F.col("_nb") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_shared_keys"),
        F.sum("_na").cast("long").alias("rows_a"),
        F.sum("_nb").cast("long").alias("rows_b"),
        F.sum(F.col("_na") * F.col("_nb")).cast("long").alias("join_rows"),
        F.max(
            F.struct(
                (F.col("_na") * F.col("_nb")).alias("fanout"),
                F.col("_k").alias("k"),
            )
        ).alias("_top"),
    )
    return agg.select(
        F.lit(key_col).alias("key_column"),
        "rows_a",
        "rows_b",
        "n_keys_a",
        "n_keys_b",
        "n_shared_keys",
        "join_rows",
        F.col("_top.k").alias("top_key"),
        F.col("_top.fanout").cast("long").alias("top_key_fanout"),
        F.expr(
            "cast((2000000 * join_rows + greatest(rows_a, rows_b))"
            " div (2 * greatest(rows_a, rows_b)) as double) / 1000000.0"
        ).alias("amplification"),
    )


def fd_discovery(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Functional-dependency DISCOVERY over every ordered column pair —
    the search the single-pair rule (:func:`functional_dependency_profile`
    via operators/rules.py) assumes someone already ran: which
    ``lhs → rhs`` dependencies actually hold in this data (candidate
    constraints to promote into the contract), and how broken the rest
    are.

    Scale contract: ONE scan reduces the table to its distinct
    combination relation over ``cols`` (bounded by combo cardinality,
    not rows); every pair statistic is then computed from that tiny
    relation — ``lhs → rhs`` holds iff ``count_distinct(lhs) ==
    count_distinct(lhs, rhs)``, and the violating-lhs count is the
    number of lhs values mapping to >1 rhs.  For k columns the k·(k-1)
    pair aggregations all run over the combos frame; the base table is
    never re-read.

    Returns ``(lhs, rhs, n_lhs_values, n_pairs, n_violating_lhs,
    holds)`` per ordered pair.
    """
    cols = list(cols)
    combos = checkpoint(
        df.groupBy(*[F.col(c) for c in cols]).agg(F.count(F.lit(1)).alias("_rows"))
    )
    parts = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            per_lhs = combos.groupBy(a).agg(
                F.count_distinct(F.col(b)).alias("_nb")
            )
            parts.append(
                per_lhs.agg(
                    F.lit(a).alias("lhs"),
                    F.lit(b).alias("rhs"),
                    F.count(F.lit(1)).cast("long").alias("n_lhs_values"),
                    F.sum("_nb").cast("long").alias("n_pairs"),
                    F.sum((F.col("_nb") > 1).cast("long"))
                    .cast("long")
                    .alias("n_violating_lhs"),
                    (F.sum((F.col("_nb") > 1).cast("long")) == 0).alias(
                        "holds"
                    ),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fd_discovery_composite(
    df: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """Level-2 functional-dependency discovery (VERDICT r7 item 7 —
    TANE-style level-wise search): score every candidate
    ``{a, b} → c`` whose single-column parents both FAIL — the
    composite keys' dependencies the contract-suggestion loop cannot
    see from :func:`fd_discovery` alone.

    TANE's candidate pruning is applied BEFORE computing a level-2
    aggregation: if ``a → c`` or ``b → c`` already holds, the
    composite is implied (non-minimal) and never tested — the control
    decision is driver-side over the level-1 verdicts, which is
    ``k·(k-1)`` booleans, bounded by the column-set size, never by
    rows (the classic TANE shape: lattice control on the driver, one
    distributed aggregation per surviving candidate).

    Scale contract is inherited from :func:`fd_discovery`: ONE base
    scan builds the distinct combination relation; level-1 verdicts
    and every surviving level-2 aggregation run over that
    combo-cardinality-bounded frame.

    Returns ``(lhs, rhs, n_lhs_values, n_pairs, n_violating_lhs,
    holds)`` with ``lhs = "a+b"`` — surviving (minimal) candidates
    only, so every ``holds = true`` row is a GENUINELY composite
    dependency.
    """
    from itertools import combinations

    cols = list(cols)
    combos = checkpoint(
        df.groupBy(*[F.col(c) for c in cols]).agg(F.count(F.lit(1)).alias("_rows"))
    )
    # all k·(k-1) level-1 verdicts in ONE job (a union of per-pair
    # two-row aggregations over the checkpointed combos frame), not one
    # Spark job per pair — lattice control should cost one round trip
    verdict_parts = []
    for a in cols:
        for c in cols:
            if a == c:
                continue
            verdict_parts.append(
                combos.groupBy(a)
                .agg(F.count_distinct(F.col(c)).alias("_nb"))
                .agg(
                    F.lit(a).alias("_a"),
                    F.lit(c).alias("_c"),
                    F.sum((F.col("_nb") > 1).cast("long")).alias("_v"),
                )
            )
    verdicts = verdict_parts[0]
    for p in verdict_parts[1:]:
        verdicts = verdicts.unionByName(p)
    single_holds = {
        (r["_a"], r["_c"]): (r["_v"] or 0) == 0
        for r in verdicts.collect()
    }
    parts = []
    for a, b in combinations(cols, 2):
        for c in cols:
            if c in (a, b):
                continue
            if single_holds[(a, c)] or single_holds[(b, c)]:
                continue  # implied by a level-1 FD — TANE-pruned
            per_lhs = combos.groupBy(a, b).agg(
                F.count_distinct(F.col(c)).alias("_nb")
            )
            parts.append(
                per_lhs.agg(
                    F.lit(f"{a}+{b}").alias("lhs"),
                    F.lit(c).alias("rhs"),
                    F.count(F.lit(1)).cast("long").alias("n_lhs_values"),
                    F.sum("_nb").cast("long").alias("n_pairs"),
                    F.sum((F.col("_nb") > 1).cast("long"))
                    .cast("long")
                    .alias("n_violating_lhs"),
                    (F.sum((F.col("_nb") > 1).cast("long")) == 0).alias(
                        "holds"
                    ),
                )
            )
    if not parts:
        schema = (
            "lhs string, rhs string, n_lhs_values long, n_pairs long,"
            " n_violating_lhs long, holds boolean"
        )
        return df.sparkSession.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_MAD_K_E4 = 30_000
_MAD_SCALE_E4 = 14_826


def robust_outlier_mad(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Robust per-group outlier screen on median/MAD — the
    heavy-tail-safe sibling of the mean/σ z-score rule (one extreme
    row inflates σ and HIDES other outliers; the median and the
    median absolute deviation have 50% breakdown).  A row is flagged
    when ``|x − median| > (k · 1.4826) · MAD`` (1.4826 ≈ the
    σ-consistency constant for normal data, carried as the rational
    ``scale_e4/1e4`` so the comparison stays exact).

    Cross-engine exactness without integers-only: ``value_col`` must
    be integral (cents), so the interpolated median lands on 0.5
    steps and the MAD on 0.25 steps — both binary fractions, exact in
    doubles, and every product below stays under 2⁵³ — hence the
    shipped ``median_x2``/``mad_x4`` BIGINT columns are engine-exact.

    Plan: THREE base passes — the exact minimum for a grouped exact
    MAD (median first, then the deviation distribution's median, then
    the flags).  The per-group ``median``/``MAD`` relations are
    |groups|-row tiny, PINNED and broadcast back, so neither median
    subtree ever recomputes and the final pass folds the flag count,
    row count, and both statistics into ONE aggregation — no final
    multi-join.  At 100 TB with huge groups, swap the exact
    percentile buffer for the two-pass equidepth device
    (operators/sampling.py) — the rule's contract is the flag
    predicate, not the percentile algorithm.
    """
    med = pin(df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    ))
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = pin(dev.groupBy(group_col).agg(
        F.expr("percentile(_adev, 0.5)").alias("_mad")
    ))
    # Enforce (not just document) the exactness precondition (ADVICE
    # r8): beyond these bounds the double products misround relative
    # to the oracle SILENTLY.  2^53 is exact in a double, and both
    # products are monotone in their operand, so the compare itself is
    # a safe guard even where the product has already lost ulps.
    exact_bound = F.lit(float(2**53))
    overflow = (
        F.col("_adev") * F.lit(100_000_000.0) > exact_bound
    ) | (F.lit(float(_MAD_K_E4) * float(_MAD_SCALE_E4)) * F.col("_mad") > exact_bound)
    flag = F.when(
        overflow,
        F.raise_error(
            F.lit(
                "robust_outlier_mad: |x-median|*1e8 or k*scale*MAD "
                "exceeds 2^53; the exact-double flag predicate would "
                "misround silently — rescale value_col first"
            )
        ).cast("boolean"),
    ).otherwise(
        (F.col("_adev") * 10_000 * 10_000)
        > (F.lit(_MAD_K_E4) * F.lit(_MAD_SCALE_E4) * F.col("_mad"))
    )
    return (
        dev.join(F.broadcast(mad), group_col)
        .withColumn("_is_out", flag)
        .groupBy(group_col)
        .agg(
            F.first("n_rows").alias("n_rows"),
            (F.first("_med") * 2).cast("long").alias("median_x2"),
            (F.first("_mad") * 4).cast("long").alias("mad_x4"),
            F.sum(F.col("_is_out").cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            group_col, "n_rows", "median_x2", "mad_x4", "n_outliers"
        )
    )


def spearman_rank_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group SPEARMAN rank correlation — the robust,
    monotone-dependence sibling of the Pearson profiler
    (agg_correlation_matrix): Pearson answers "is the relation
    LINEAR" and one wild outlier row drags it arbitrarily; Spearman
    ranks first, so it reads THROUGH outliers and any monotone
    transform, the screening statistic feature-selection actually
    wants.

    Exactness device: Pearson on DOUBLED MIDRANKS.  All rank moments
    come from the (group, x, y) PAIR-COUNT frame — for each distinct
    value, doubled midrank ``m = 2·cum − cnt + 1`` (an integer even
    under ties) from a cumulative count over the tiny distinct-value
    frame, then

        ``rho = (n·Σc·mx·my − Σc·mx·Σc·my)
               / (√(n·Σc·mx² − (Σc·mx)²) · √(n·Σc·my² − (Σc·my)²))``

    with every moment an exact DECIMAL(38,0) integer; the only floats
    are the two square roots and the final quotient (IEEE-identical
    across engines, round-6).  This IS the tie-corrected Spearman
    (Pearson-on-midranks definition), not the 6Σd² shortcut that
    breaks under ties.

    Scale shape: ONE data shuffle — the (group, x, y) pair-count
    aggregation; the marginal midrank windows run on the
    distinct-value frames (|X|·|Y| rows per group, e.g. 50·11 for
    quantity × discount) and join back broadcast.  Integer bound:
    n·Σc·m² ≤ 4n⁴ per group — exact through ~10⁹ rows per group
    inside DECIMAL(38,0); beyond that, pre-bucket the dense column
    (the equidepth device) first.  Returns one row per group
    ``(group, n_rows, spearman_rho)``; ``spearman_rho`` is NULL when
    either column is constant within the group (zero rank variance).
    """
    pairs = (
        df.groupBy(
            F.col(group_col).alias("_g"),
            F.col(x_col).alias("_x"),
            F.col(y_col).alias("_y"),
        )
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c"))
    )
    pairs = pin(pairs)

    def marginal(col: str, out: str) -> DataFrame:
        w = (
            Window.partitionBy("_g")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            pairs.groupBy("_g", col)
            .agg(F.sum("_c").alias("_cnt"))
            .select(
                "_g",
                col,
                (
                    F.lit(2) * F.sum("_cnt").over(w)
                    - F.col("_cnt")
                    + F.lit(1)
                )
                .cast("decimal(38,0)")
                .alias(out),
            )
        )

    xm = marginal("_x", "_mx")
    ym = marginal("_y", "_my")
    j = (
        pairs.join(F.broadcast(xm), ["_g", "_x"])
        .join(F.broadcast(ym), ["_g", "_y"])
    )
    s = j.groupBy("_g").agg(
        F.sum("_c").alias("_n"),
        F.sum(F.expr("_c * _mx")).alias("_sx"),
        F.sum(F.expr("_c * _my")).alias("_sy"),
        F.sum(F.expr("_c * _mx * _mx")).alias("_sxx"),
        F.sum(F.expr("_c * _my * _my")).alias("_syy"),
        F.sum(F.expr("_c * _mx * _my")).alias("_sxy"),
    )
    return s.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_rows"),
        F.when(
            (F.expr("_n * _sxx - _sx * _sx") > 0)
            & (F.expr("_n * _syy - _sy * _sy") > 0),
            F.round(
                F.expr("CAST(_n * _sxy - _sx * _sy AS DOUBLE)")
                / (
                    F.sqrt(F.expr("CAST(_n * _sxx - _sx * _sx AS DOUBLE)"))
                    * F.sqrt(
                        F.expr("CAST(_n * _syy - _sy * _sy AS DOUBLE)")
                    )
                ),
                6,
            ),
        ).alias("spearman_rho"),
    )


_VALUE_SCALE = 100


def gini_concentration(
    df: DataFrame,
    key_col: str,
    value_col: str,
    bin_width: int = 1 << 30,
) -> DataFrame:
    """Exact-integer GINI coefficient of a per-key value distribution
    — the inequality/concentration profiler ("do 1% of customers
    carry 60% of revenue?") that tells a pipeline whether a key column
    is load-balanced long before a skewed shuffle discovers it the
    hard way (the key_skew_profile's single-number summary).

    Exactness device: with per-key cents x and per-VALUE tie counts
    ``(v, t_v)`` plus ``C_v`` = keys strictly below v, the rank-weighted
    sum over ANY within-tie ordering collapses to

        ``2·Σᵢ i·x₍ᵢ₎ = Σ_v v·(2·t_v·C_v + t_v² + t_v)``

    so ``gini_ppm = ((2Σi·x₍ᵢ₎ − (n+1)·S) · 10⁶) div (n·S)`` is an
    exact DECIMAL(38,0) integer in [0, 10⁶] — no float sort order, no
    tie hazard.  Requires non-negative per-key values (revenue); a
    zero total ships NULL.

    Scale shape: one shuffle to per-key cents, one to per-value
    counts; the cumulative count is
    :func:`~big_data_validator_spark.operators.block_scan` — never a
    single-task global window, so millions of distinct keys rank in
    parallel.  Returns one row ``(n_keys, total_cents, gini_ppm)``.
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    perkey = (
        df.groupBy(F.col(key_col).alias("_k"))
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .cast("long")
            .alias("_x")
        )
    )
    cnts = pin(
        perkey.groupBy("_x")
        .agg(F.count(F.lit(1)).alias("_t"))
    )
    blk = F.floor(F.col("_x") / F.lit(float(bin_width))).cast("long")
    scanned = block_scan(cnts, blk, ["_x"], ["_t"])
    dec = "decimal(38,0)"
    c = F.col("_t_before").cast(dec)
    t = F.col("_t").cast(dec)
    terms = scanned.select(
        (
            F.col("_x").cast(dec)
            * (F.lit(2).cast(dec) * t * c + t * t + t)
        ).alias("_rw"),
        (F.col("_x").cast(dec) * t).alias("_s"),
        F.col("_t").alias("_n"),
    )
    agg = terms.agg(
        F.sum("_n").cast("long").alias("n_keys"),
        F.sum("_s").alias("_stot"),
        F.sum("_rw").alias("_rwtot"),
    )
    return agg.select(
        "n_keys",
        F.col("_stot").cast("long").alias("total_cents"),
        F.when(
            F.col("_stot") > 0,
            F.expr(
                "CAST(((_rwtot - (CAST(n_keys AS DECIMAL(38,0)) + 1)"
                " * _stot) * 1000000)"
                " div (CAST(n_keys AS DECIMAL(38,0)) * _stot) AS BIGINT)"
            ),
        ).alias("gini_ppm"),
    )


def hhi_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Exact-integer HERFINDAHL-HIRSCHMAN concentration index per
    group — Σ shareᵢ² of each key's value within its group, the
    market-concentration companion to :func:`gini_concentration`
    (Gini reads inequality of the whole curve; HHI weights the largest shares —
    a monopoly group hits 10⁶ ppm, k equal players 10⁶/k).

    ``hhi_ppm = (10⁶ · Σxᵢ²) div S²`` and ``top_share_ppm =
    (10⁶ · max x) div S`` with per-(group, key) cents x and group
    total S, all DECIMAL(38,0) — no float shares.  Two hash
    aggregations, no windows, no joins: the (group, key) agg is the
    only data-size shuffle and the group rollup runs on its output.
    Negative per-key totals (returns ledgers) would break the share
    interpretation and raise.  Zero-total groups ship NULL ppms.
    Returns ``(group, n_keys, total_cents, hhi_ppm, top_share_ppm)``.
    """
    perkey = (
        df.groupBy(
            F.col(group_col).alias("_g"), F.col(key_col).alias("_k")
        )
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_x")
        )
    )
    agg = perkey.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("_x").alias("_s"),
        F.sum(F.expr("_x * _x")).alias("_sq"),
        F.max("_x").alias("_mx"),
        F.min("_x").alias("_mn"),
    )
    # the guard lives INSIDE an emitted column — a free-standing check
    # column would be pruned unevaluated by Catalyst
    neg_guard = F.when(
        F.col("_mn") < 0,
        F.raise_error(
            F.lit(
                "hhi_by_group: negative per-key totals break the "
                "share interpretation; filter or abs() first"
            )
        ).cast("long"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        "n_keys",
        F.col("_s").cast("long").alias("total_cents"),
        F.coalesce(
            neg_guard,
            F.when(
                F.col("_s") > 0,
                F.expr("CAST((_sq * 1000000) div (_s * _s) AS BIGINT)"),
            ),
        ).alias("hhi_ppm"),
        F.coalesce(
            neg_guard,
            F.when(
                F.col("_s") > 0,
                F.expr("CAST((_mx * 1000000) div _s AS BIGINT)"),
            ),
        ).alias("top_share_ppm"),
    )


def kendall_tau_b(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group KENDALL tau-b — the pairwise-ordering association
    profiler completing the correlation trio (Pearson: linear;
    Spearman: monotone via ranks; tau-b: P[concordant] −
    P[discordant], the probabilistic statement auditors actually
    quote, with the tie-correction that keeps it in [−1, 1] on
    discrete columns).

    Exactness device: every count comes from the (group, x, y)
    PAIR-COUNT contingency frame — concordant/discordant mass from a
    self-join restricted to ``x₂ > x₁`` (each unordered pair counted
    once; x-ties fall to the tie terms, y-ties inside the join are
    neither C nor D):

        ``tau_b = (C − D) / (√(n₀−n₁) · √(n₀−n₂))``

    with ``n₀ = n(n−1)/2``, ``n₁ = Σ tₓ(tₓ−1)/2`` over x-marginal tie
    groups, ``n₂`` likewise for y — all exact DECIMAL(38,0) (×2
    scaling keeps the halves integral); floats only in the two square
    roots and the final quotient (round-6, IEEE-identical across
    engines).

    Scale shape: ONE data shuffle (the pair-count agg, pinned); the
    self-join and marginals run on the |X|·|Y| distinct-pair frame — built for
    LOW-CARDINALITY or pre-bucketed columns (the equidepth device
    first for dense ones): cost is Σ_g k_g², e.g. 550² ≈ 3·10⁵ row
    pairs for quantity × discount, regardless of corpus size.
    Returns ``(group, n_rows, concordant_x2, discordant_x2,
    tau_b)``; NULL tau when either column is constant in the group.
    """
    pairs = (
        df.groupBy(
            F.col(group_col).alias("_g"),
            F.col(x_col).alias("_x"),
            F.col(y_col).alias("_y"),
        )
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_c"))
    )
    pairs = pin(pairs)

    a = pairs.select(
        F.col("_g"), F.col("_x").alias("_x1"),
        F.col("_y").alias("_y1"), F.col("_c").alias("_c1"),
    )
    b = pairs.select(
        F.col("_g").alias("_g2"), F.col("_x").alias("_x2"),
        F.col("_y").alias("_y2"), F.col("_c").alias("_c2"),
    )
    cd = (
        a.join(b, (a["_g"] == b["_g2"]) & (b["_x2"] > a["_x1"]))
        .groupBy("_g")
        .agg(
            F.sum(
                F.when(
                    F.col("_y2") > F.col("_y1"),
                    F.expr("_c1 * _c2"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("_cc"),
            F.sum(
                F.when(
                    F.col("_y2") < F.col("_y1"),
                    F.expr("_c1 * _c2"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("_dd"),
        )
    )

    def tie_terms(col: str, out: str) -> DataFrame:
        # doubled tie mass: 2·n_ties = Σ t·(t−1) stays integral
        return (
            pairs.groupBy("_g", col)
            .agg(F.sum("_c").alias("_t"))
            .groupBy("_g")
            .agg(F.sum(F.expr("_t * (_t - 1)")).alias(out))
        )

    tx = tie_terms("_x", "_n1x2")
    ty = tie_terms("_y", "_n2x2")
    tot = pairs.groupBy("_g").agg(F.sum("_c").alias("_n"))
    s = (
        tot.join(cd, "_g", "left")
        .join(tx, "_g")
        .join(ty, "_g")
        .select(
            "_g",
            "_n",
            F.coalesce(F.col("_cc"), F.lit(0).cast("decimal(38,0)"))
            .alias("_cc"),
            F.coalesce(F.col("_dd"), F.lit(0).cast("decimal(38,0)"))
            .alias("_dd"),
            F.expr("_n * (_n - 1)").alias("_n0x2"),
            "_n1x2",
            "_n2x2",
        )
    )
    return s.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_rows"),
        F.expr("CAST(2 * _cc AS DECIMAL(38,0))")
        .cast("long")
        .alias("concordant_x2"),
        F.expr("CAST(2 * _dd AS DECIMAL(38,0))")
        .cast("long")
        .alias("discordant_x2"),
        F.when(
            (F.expr("_n0x2 - _n1x2") > 0) & (F.expr("_n0x2 - _n2x2") > 0),
            F.round(
                F.expr("CAST(_cc - _dd AS DOUBLE)")
                / (
                    F.sqrt(F.expr("CAST(_n0x2 - _n1x2 AS DOUBLE) / 2"))
                    * F.sqrt(F.expr("CAST(_n0x2 - _n2x2 AS DOUBLE) / 2"))
                ),
                6,
            ),
        ).alias("tau_b"),
    )


def cramers_v_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """CRAMÉR'S V association matrix over every unordered pair of the
    given low-cardinality columns — the CATEGORICAL completion of the
    association suite (:func:`spearman_rank_corr` / tau-b read ordered
    columns, the Pearson matrix reads numerics, mutual information
    reads bits; V reads the chi-square effect SIZE normalized to
    [0, 1], the screen that finds derived/redundant columns — V ≈ 1 —
    before a modeler trusts them as independent signals).

    Exactness device: the Pearson statistic in the identity form
    ``X² = n·Σ o²/(rₐ·c_b) − n`` makes every cell term a ratio of
    exact integers, so ``chi2_ppm = Σ (o²·n·10⁶) div (rₐ·c_b) −
    n·10⁶`` is engine-portable truncating-div arithmetic in
    DECIMAL(38,0) (the Gini/HHI ppm discipline; truncation error
    < #cells ppm, i.e. ~10⁻⁷ relative on real tables).  The only
    float is the final ``cramers_v = √(chi2/(n·(min(r,c)−1)))``,
    round-6.  Overflow bound: o²·n·10⁶ < n³·10⁶ needs n < ~2·10¹⁰
    rows per pair — DECIMAL(38,0)-safe on any realistic table.

    Scale shape: ONE corpus scan and ONE data shuffle per pair (the
    contingency agg — map-side combined, the shuffle carries |X|·|Y|
    cells, not rows); marginals are WINDOW sums over the tiny
    post-shuffle cell frame — no joins, no re-aggregation, so nothing
    re-reads the source (the first cut derived marginals from the
    cell frame's lineage and the plan audit showed every marginal
    re-scanning the corpus: 24 scans for 3 pairs).  The deliberately
    global windows run on the cell frame only — built for
    LOW-CARDINALITY columns (bucket dense ones first with the
    equidepth device).  Rows with a NULL in either column of a pair
    are excluded from that pair (pairwise deletion, the
    Pearson-matrix convention).  Returns one row per pair ``(col_x,
    col_y, n_rows, x_levels, y_levels, chi2_ppm, cramers_v)``; V is
    NULL when either column is constant or the pair frame is empty.
    """
    if len(cols) < 2:
        raise ValueError(f"need at least 2 columns, got {len(cols)}")
    dec = "decimal(38,0)"
    parts = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            cx, cy = cols[i], cols[j]
            cells = (
                df.filter(
                    F.col(cx).isNotNull() & F.col(cy).isNotNull()
                )
                .groupBy(
                    F.col(cx).alias("_x"), F.col(cy).alias("_y")
                )
                .agg(F.count(F.lit(1)).cast(dec).alias("_o"))
            )
            wx = Window.partitionBy("_x")
            wy = Window.partitionBy("_y")
            wall = Window.partitionBy()
            enriched = cells.select(
                "_x",
                "_y",
                "_o",
                F.sum("_o").over(wx).alias("_ra"),
                F.sum("_o").over(wy).alias("_cb"),
                F.sum("_o").over(wall).alias("_n"),
            )
            agg = enriched.select(
                F.expr(
                    "(_o * _o * _n * 1000000) div (_ra * _cb)"
                ).alias("_t"),
                "_x",
                "_y",
                "_n",
            ).agg(
                (
                    F.sum("_t")
                    - F.max("_n") * F.lit(1_000_000).cast(dec)
                ).alias("_chi2ppm"),
                F.max("_n").alias("_n"),
                F.count_distinct(F.col("_x")).cast(dec).alias("_r"),
                F.count_distinct(F.col("_y")).cast(dec).alias("_c"),
            )
            mins = F.when(F.col("_r") < F.col("_c"), F.col("_r")).otherwise(
                F.col("_c")
            )
            parts.append(
                agg.select(
                    F.lit(cx).alias("col_x"),
                    F.lit(cy).alias("col_y"),
                    F.coalesce(F.col("_n").cast("long"), F.lit(0)).alias(
                        "n_rows"
                    ),
                    F.coalesce(F.col("_r").cast("long"), F.lit(0)).alias(
                        "x_levels"
                    ),
                    F.coalesce(F.col("_c").cast("long"), F.lit(0)).alias(
                        "y_levels"
                    ),
                    F.col("_chi2ppm").cast("long").alias("chi2_ppm"),
                    F.when(
                        (F.col("_n") > 0) & (mins > 1),
                        F.round(
                            F.sqrt(
                                F.col("_chi2ppm").cast("double")
                                / 1e6
                                / (
                                    F.col("_n").cast("double")
                                    * (mins - 1).cast("double")
                                )
                            ),
                            6,
                        ),
                    ).alias("cramers_v"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
