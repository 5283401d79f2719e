"""Generalized relational validation rules (SURVEY.md §7 P3).

The reference's north star generalizes its three CSV rules into a relational
rule vocabulary: uniqueness, completeness, referential integrity, domain /
range conformance, cross-snapshot drift, and distribution statistics.  The
reference itself has none of these (SURVEY.md §2g) — every operator here is
a Spark-first design:

- each rule is a function ``DataFrame -> DataFrame`` returning *violations*
  (oracle-checkable) plus, where useful, a metric variant returning a
  one-row summary — so a 100 TB run can compute all metrics in one pass and
  only materialize violations when asked;
- joins against dimension tables take an explicit ``broadcast_dim`` hint
  (small dims should never shuffle the fact table's full width);
- distinct counts are exact ``count_distinct`` aggregates.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators import adaptive_partitions, block_scan, pin


# --------------------------------------------------------------- uniqueness

def duplicate_key_groups(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key groups that occur more than once: ``(keys..., dup_count)``.

    Map-side partial aggregation makes this one shuffle of (keys, count)
    pairs — never of full rows.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_metrics(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One row per column: total count, exact distinct count, uniqueness
    ratio, in one aggregation over all ``cols``."""
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in cols:
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_distinct"))
    row = df.agg(*aggs)
    out = []
    for c in cols:
        out.append(
            row.select(
                F.lit(c).alias("column_name"),
                F.col("row_count"),
                F.col(f"{c}_distinct").alias("distinct_count"),
                (F.col(f"{c}_distinct") / F.col("row_count")).alias(
                    "uniqueness_ratio"
                ),
            )
        )
    result = out[0]
    for o in out[1:]:
        result = result.unionByName(o)
    return result


# ------------------------------------------------------------- completeness

def completeness_metrics(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column null count and completeness ratio, one aggregation pass
    over all requested columns (``avg(isNull)`` style, SURVEY.md §7 P3)."""
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
        )
    row = df.agg(*aggs)
    out = []
    for c in cols:
        out.append(
            row.select(
                F.lit(c).alias("column_name"),
                F.col("row_count"),
                F.col(f"{c}_nulls").alias("null_count"),
                (1.0 - F.col(f"{c}_nulls") / F.col("row_count")).alias(
                    "completeness_ratio"
                ),
            )
        )
    result = out[0]
    for o in out[1:]:
        result = result.unionByName(o)
    return result


# ---------------------------------------------------- referential integrity

def orphan_rows(
    fact: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Fact rows whose key has no match in the dimension (LEFT ANTI join).

    The dimension's key projection is broadcast — at 100 TB the fact side
    streams through each executor with zero shuffle.
    """
    dim_keys = list(dim_keys or fact_keys)
    dim_proj = F.broadcast(
        dim.select(*[F.col(k) for k in dim_keys]).dropDuplicates()
    )
    cond = [
        fact[fk].eqNullSafe(dim_proj[dk]) for fk, dk in zip(fact_keys, dim_keys)
    ]
    return fact.join(dim_proj, cond, "left_anti")


def violation_expr_metrics(df: DataFrame, exprs: dict[str, Column]) -> DataFrame:
    """Evaluate many named boolean violation expressions in ONE pass:
    returns a single row with one violation-count column per rule.  This is
    the engine's main scale trick — N rules, one scan, no rule-per-job."""
    return df.agg(
        *[F.sum(e.cast("long")).alias(name) for name, e in exprs.items()]
    )


# -------------------------------------------------------------------- drift

def snapshot_drift(
    old: DataFrame, new: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """Row-level drift between two snapshots projected to ``cols``: rows
    added minus rows removed, labeled.  ``exceptAll`` keeps duplicate
    multiplicity (bag semantics)."""
    old = old.select(*cols)
    new = new.select(*cols)
    added = new.exceptAll(old).withColumn("drift_kind", F.lit("added"))
    removed = old.exceptAll(new).withColumn("drift_kind", F.lit("removed"))
    return added.unionByName(removed)


def distribution_drift_psi(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    bin_edges: Sequence[float],
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column, over EXPLICIT bin edges.

    Returns one row per bin: ``(bin_id, p_old, p_new, psi_term)`` with
    ``PSI = Σ psi_term = Σ (p_new - p_old) · ln(p_new / p_old)`` (the
    standard drift monitor; PSI > 0.2 conventionally flags a shift).

    Explicit edges — not quantiles — keep the operator deterministic and
    oracle-checkable, and at 100 TB each side is ONE pass (bucket
    expression + groupBy(bin) partial counts; the shuffle carries
    ``len(bin_edges)+1`` rows per partition).  ``epsilon`` smooths empty
    bins so the log stays finite."""
    edges = [float(e) for e in bin_edges]

    def bucket(col: Column) -> Column:
        b = F.lit(0)
        for i, e in enumerate(edges):
            b = F.when(col >= F.lit(e), F.lit(i + 1)).otherwise(b)
        return b

    def proportions(df: DataFrame, out_name: str) -> DataFrame:
        # total via a window over the (tiny) aggregated bin counts — the
        # raw data is scanned exactly once, no extra count() job
        counts = (
            df.select(bucket(F.col(value_col)).alias("bin_id"))
            .groupBy("bin_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        total = F.sum("n").over(Window.partitionBy(F.lit(1)))
        return counts.select(
            "bin_id", (F.col("n") / total).alias(out_name)
        )

    bins = range(len(edges) + 1)
    spark = old.sparkSession
    frame = spark.createDataFrame([(b,) for b in bins], ["bin_id"])
    po = proportions(old, "p_old")
    pn = proportions(new, "p_new")
    eps = F.lit(epsilon)
    out = (
        frame.join(po, "bin_id", "left")
        .join(pn, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce("p_old", F.lit(0.0)).alias("p_old"),
            F.coalesce("p_new", F.lit(0.0)).alias("p_new"),
        )
        .withColumn(
            "psi_term",
            (F.col("p_new") - F.col("p_old"))
            * F.log((F.col("p_new") + eps) / (F.col("p_old") + eps)),
        )
    )
    return out


#: Smoothing of empty bins in every PSI term, so the log stays finite.
_PSI_EPSILON = 1e-6


def _psi_bin(col: Column, bin_edges: Sequence[float]) -> Column:
    """PSI bin id of ``col`` over ascending ``bin_edges``: 0 below the
    first edge, ``i + 1`` at or above edge ``i``."""
    b = F.lit(0)
    for i, e in enumerate(bin_edges):
        b = F.when(col >= F.lit(float(e)), F.lit(i + 1)).otherwise(b)
    return b


def _psi_term(p_new: Column, p_old: Column) -> Column:
    """One bin's PSI term ``(p_new − p_old)·ln((p_new+ε)/(p_old+ε))``."""
    eps = F.lit(_PSI_EPSILON)
    return (p_new - p_old) * F.log((p_new + eps) / (p_old + eps))


def distribution_drift_psi_split(
    df: DataFrame,
    value_col: str,
    bin_edges: Sequence[float],
    old_pred: Column,
    new_pred: Column,
) -> DataFrame:
    """:func:`distribution_drift_psi` for the common monitoring case
    where BOTH snapshots are predicates over the SAME table (old = last
    week's partition filter, new = this week's): one conditional
    aggregation reads the table ONCE — ``sum(when(pred, 1))`` per side
    per bin — where the two-frame operator plans two full scans
    (VERDICT r9 item 6: Spark shares no subplans across the two legs,
    so the generic operator's flexibility costs a needless 2× read at
    100 TB).  Same output contract and same numbers as the two-frame
    form over ``df.filter(old_pred)`` / ``df.filter(new_pred)`` —
    pinned in tests/test_relational.py."""
    counts = (
        df.filter(old_pred | new_pred)
        .select(
            _psi_bin(F.col(value_col), bin_edges).alias("bin_id"),
            old_pred.cast("long").alias("_o"),
            new_pred.cast("long").alias("_n"),
        )
        .groupBy("bin_id")
        .agg(F.sum("_o").alias("n_old"), F.sum("_n").alias("n_new"))
    )
    w = Window.partitionBy(F.lit(1))
    props = counts.select(
        "bin_id",
        (F.col("n_old") / F.sum("n_old").over(w)).alias("p_old"),
        (F.col("n_new") / F.sum("n_new").over(w)).alias("p_new"),
    )
    spark = df.sparkSession
    frame = spark.createDataFrame(
        [(bb,) for bb in range(len(bin_edges) + 1)], ["bin_id"]
    )
    return (
        frame.join(props, "bin_id", "left")
        .select(
            "bin_id",
            F.coalesce("p_old", F.lit(0.0)).alias("p_old"),
            F.coalesce("p_new", F.lit(0.0)).alias("p_new"),
        )
        .withColumn("psi_term", _psi_term(F.col("p_new"), F.col("p_old")))
    )


# ------------------------------------------------------------- distribution

def distribution_stats(
    df: DataFrame, value_col: str, group_cols: Sequence[str]
) -> DataFrame:
    """min/max/avg/stddev/count per group — the profile a drift monitor
    compares across runs.  Partial aggregation map-side; the shuffle moves
    only (group, sketch) pairs."""
    c = F.col(value_col)
    aggs = [
        F.count(c).alias("value_count"),
        F.min(c).alias("min_value"),
        F.max(c).alias("max_value"),
        F.avg(c).alias("avg_value"),
        F.stddev_samp(c).alias("stddev_value"),
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def outlier_zscore_violations(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    z_threshold: float = 3.0,
) -> DataFrame:
    """Rows whose value deviates more than ``z_threshold`` standard
    deviations from their group mean — the distribution-check rule of the
    generalized vocabulary (SURVEY §2g: reference has no distribution
    rules at all).

    Two-pass formulation: aggregate per-group mean/stddev first (tiny:
    one row per group), then broadcast-join the stats back and filter.
    At 100 TB this beats the window formulation — a window over the group
    would shuffle EVERY data row on the group key; here the full-size
    side streams through map-side with stats broadcast, no data shuffle
    at all.  ``stddev_samp`` matches ANSI/DuckDB ``stddev``."""
    stats = df.groupBy(*group_cols).agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_samp(value_col).alias("_sd"),
    )
    joined = df.join(F.broadcast(stats), list(group_cols))
    zscore = (F.col(value_col) - F.col("_mu")) / F.col("_sd")
    return (
        joined.filter(F.col("_sd") > 0)
        .withColumn("zscore", zscore)
        .filter(F.abs(F.col("zscore")) > z_threshold)
        .drop("_mu", "_sd")
    )


# ------------------------------------------------------------ skew handling

_SALT_BUCKETS = 16


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (keys..., salt) — a hot key's rows spread across
    ``_SALT_BUCKETS`` reducers instead of melting one; phase 2 merges the
    per-salt partials on the true keys (tiny input: one row per key per
    bucket).  Only SUM/COUNT-decomposable aggregates belong here — pass
    the partial expression in ``aggs`` and the helper sums partials.
    AQE's skew-join handling covers joins; this covers aggregations,
    where AQE cannot split a hot reducer because the group-by contract
    pins a key to one task.
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * _SALT_BUCKETS).cast("int")
    )
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(f"_p_{name}") for name, expr in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[F.sum(f"_p_{name}").alias(name) for name in aggs]
    )


# ------------------------------------------------------- temporal joins

def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join: each left row picks up ``value_cols`` from the
    latest right row with ``right_ts <= left_ts`` for the same key
    (inclusive); unmatched left rows keep NULLs.

    Spark has no native as-of join; the scalable formulation is the
    union-and-fill trick: tag both sides, union them, and run ONE window
    pass per key ordered by time — ``last(value, ignorenulls=True)`` over
    an unbounded-preceding frame carries each right row's values forward to
    the left rows that follow it.  Cost is a single shuffle on the key
    (same as any join) + one sort within partitions; no range explosion,
    no per-row probe.  This is how Flink/kdb-style as-of joins are usually
    re-expressed on Spark.

    ``value_cols`` must not collide with left's column names; right rows
    should be unique per (key, ts) for deterministic results (pre-aggregate
    otherwise).
    """
    lpay = list(left.columns)
    rtypes = dict(right.dtypes)
    ltypes = dict(left.dtypes)
    l2 = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).cast("timestamp").alias("_t"),
        F.lit(0).alias("_is_r"),
        *[F.col(c) for c in lpay],
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in value_cols],
    )
    r2 = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).cast("timestamp").alias("_t"),
        F.lit(1).alias("_is_r"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpay],
        *[F.col(c) for c in value_cols],
    )
    # right rows sort before left rows at equal timestamps → inclusive <=
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_is_r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l2.unionByName(r2).select(
        "_is_r",
        *[F.col(c) for c in lpay],
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
    )
    return filled.filter(F.col("_is_r") == 0).drop("_is_r")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    tolerance_seconds: float,
    direction: str = "nearest",
) -> DataFrame:
    """Directional as-of join: each left row picks up ``value_cols``
    from the right row closest in EVENT TIME for the same key under
    ``direction`` — ``'nearest'`` (before or after, ties broken toward
    the earlier/backward row), ``'backward'`` (latest right at-or-before,
    inclusive) or ``'forward'`` (earliest right at-or-after, inclusive).
    The sensor-fusion / attribution sibling of :func:`asof_join` (the
    NULL-preserving backward fill); ``tolerance_seconds`` (required) nulls
    out matches farther than the horizon — pandas
    ``merge_asof(direction=..., tolerance=...)``.  An unbounded horizon
    is not offered: a match any distance away is not a neighbour.

    Same scalable shape for every direction — union-and-fill, ONE
    shuffle on the key.  ``'nearest'`` runs TWO window passes over the
    SAME partition/sort (backward carry via ``last(ignorenulls)`` over
    the preceding frame, forward via ``first(ignorenulls)`` over the
    following frame; Catalyst reuses the exchange and sort, so the
    second pass adds no shuffle); single-direction runs compute only
    their one frame.  A right row at the exact left timestamp is
    INCLUSIVE in every direction: it counts as backward for
    ``'nearest'``/``'backward'`` (never both frames) and matches with
    gap 0 for ``'forward'`` — the union's secondary sort key places
    equal-timestamp right rows on the inclusive side of the frame.

    Adds ``value_cols`` plus ``asof_gap_us`` (signed integer
    microseconds to the chosen right row: <= 0 backward, > 0 forward;
    NULL when unmatched or beyond tolerance — exact integer arithmetic,
    hash-stable across engines).  Rows with a NULL key or NULL
    timestamp are EXCLUDED on both sides (a timeless row has no
    distance to anything).  ``value_cols`` must not collide with
    left's columns; right rows should be unique per (key, ts).
    """
    if direction not in ("nearest", "backward", "forward"):
        raise ValueError(
            "direction must be 'nearest', 'backward' or 'forward' "
            f"(got {direction!r})"
        )
    lpay = list(left.columns)
    rtypes = dict(right.dtypes)
    # keyless or timeless rows cannot participate: a NULL left
    # timestamp has no distance to anything (it would otherwise fall
    # through the distance CASE and arbitrarily bind forward), and a
    # NULL-key/ts right row can never be anyone's neighbor
    left = left.filter(
        F.col(left_key).isNotNull() & F.col(left_ts).isNotNull()
    )
    right = right.filter(
        F.col(right_key).isNotNull() & F.col(right_ts).isNotNull()
    )
    l2 = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).cast("timestamp").alias("_t"),
        F.lit(0).alias("_is_r"),
        *[F.col(c) for c in lpay],
        F.lit(None).cast("timestamp").alias("_rt"),
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in value_cols],
    )
    ltypes = dict(left.dtypes)
    r2 = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).cast("timestamp").alias("_t"),
        F.lit(1).alias("_is_r"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpay],
        F.col(right_ts).cast("timestamp").alias("_rt"),
        *[F.col(c) for c in value_cols],
    )
    # secondary sort key decides which frame an exact-time right row
    # lands in: before left rows (backward-inclusive) for
    # nearest/backward, after left rows (forward-inclusive) for forward
    tie = (
        F.col("_is_r").asc()
        if direction == "forward"
        else F.col("_is_r").desc()
    )
    order = [F.col("_t").asc(), tie]
    wb = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    payload = ["_rt", *value_cols]
    packed = F.struct(*[F.col(c) for c in payload])
    fills = []
    if direction in ("nearest", "backward"):
        fills.append(
            F.last(F.when(F.col("_is_r") == 1, packed), ignorenulls=True)
            .over(wb)
            .alias("_back")
        )
    if direction in ("nearest", "forward"):
        fills.append(
            F.first(F.when(F.col("_is_r") == 1, packed), ignorenulls=True)
            .over(wf)
            .alias("_fwd")
        )
    both = l2.unionByName(r2).select(
        "_is_r",
        "_t",
        *[F.col(c) for c in lpay],
        *fills,
    ).filter(F.col("_is_r") == 0)
    if direction == "backward":
        chosen = F.col("_back")
    elif direction == "forward":
        chosen = F.col("_fwd")
    else:
        # gap arithmetic in exact integer MICROSECONDS: double-cast
        # epochs at ~1.7e9 s carry only ~1e-7 s of precision, enough to
        # flip the 6th decimal against an engine computing the
        # difference exactly
        dback = F.unix_micros(F.col("_t")) - F.unix_micros(
            F.col("_back._rt")
        )
        dfwd = F.unix_micros(F.col("_fwd._rt")) - F.unix_micros(
            F.col("_t")
        )
        chosen = (
            F.when(F.col("_back").isNull(), F.col("_fwd"))
            .when(F.col("_fwd").isNull(), F.col("_back"))
            .when(dback <= dfwd, F.col("_back"))
            .otherwise(F.col("_fwd"))
        )
    gap = F.unix_micros(F.col("_chosen._rt")) - F.unix_micros(F.col("_t"))
    out = both.withColumn("_chosen", chosen).withColumn(
        "_chosen",
        F.when(
            F.abs(gap) <= F.lit(int(round(tolerance_seconds * 1_000_000))),
            F.col("_chosen"),
        ),
    )
    return out.select(
        *[F.col(c) for c in lpay],
        *[F.col(f"_chosen.{c}").alias(c) for c in value_cols],
        gap.cast("long").alias("asof_gap_us"),
    )


def point_in_time_join(
    facts: DataFrame,
    features: DataFrame,
    key: str,
    fact_ts: str,
    feature_ts: str,
    feature_cols: Sequence[str],
    ttl_seconds: float,
    age_col: str = "feature_age_us",
) -> DataFrame:
    """Feature-store POINT-IN-TIME-CORRECT join: each fact row picks up
    ``feature_cols`` from the LATEST feature row at-or-before its
    timestamp for the same ``key`` (named alike on both sides) — never a
    future one.  This is the training-set construction rule that
    prevents feature LEAKAGE / training-serving skew (Feast's
    get_historical_features, Databricks feature-store point-in-time
    semantics): a model trained with features the serving system could
    not have known yet looks great offline and fails online.

    ``ttl_seconds`` (required) expires stale features (a fact farther than the TTL
    from its newest feature gets NULLs, exactly like a serving-side
    feature TTL); ``age_col`` emits the feature's age at fact time in
    exact integer microseconds (>= 0; NULL when unmatched/expired) —
    the staleness distribution to monitor for skew.

    Built on the one-shuffle union-and-fill as-of frame
    (:func:`asof_join_nearest`, ``direction='backward'``): one shuffle
    on the key, one keyed window pass, no range explosion — the same
    cost as any equi-join at 100 TB.
    """
    out = asof_join_nearest(
        facts,
        features,
        key,
        key,
        fact_ts,
        feature_ts,
        feature_cols,
        tolerance_seconds=ttl_seconds,
        direction="backward",
    )
    # backward gaps are <= 0 by construction; age is the non-negative view
    return out.withColumn(
        age_col, (-F.col("asof_gap_us")).cast("long")
    ).drop("asof_gap_us")


def range_bucket_join(
    fact: DataFrame,
    buckets: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Join each fact row to the bucket where ``lo <= value < hi``.

    A non-equi (range) join has no hash key; against a *small* bucket dim
    the right plan is a broadcast nested-loop join — the fact side streams
    through executors unshuffled and probes the handful of broadcast
    ranges.  Never use this shape dim-to-dim at scale; for large interval
    tables, bucketize both sides to a common grid first to recover an
    equi-join."""
    cond = (F.col(value_col) >= buckets[lo_col]) & (
        F.col(value_col) < buckets[hi_col]
    )
    return fact.join(F.broadcast(buckets), cond, "left")


def _guarded_bin_sequence(
    lo: Column, hi: Column, w: Column, max_bins: int
) -> Column:
    """``sequence(floor(lo/w), floor(hi/w))`` with a fail-fast cap: a
    single outlier interval far longer than the median (or a tiny
    auto-derived bin width) would otherwise explode to millions of bins
    for one row — quadratic work in disguise, or an executor OOM /
    ``sequence`` element-limit crash with no diagnostic.  The guard is a
    per-row scalar check inside codegen (zero-cost when healthy) that
    raises a USER_RAISED_EXCEPTION naming the offending bin count, so
    degenerate inputs fail immediately with an actionable message
    instead of melting the stage (ADVICE r4)."""
    lo_b = F.floor(lo / w).cast("long")
    hi_b = F.floor(hi / w).cast("long")
    n = hi_b - lo_b + F.lit(1)
    guarded_hi = (
        F.when(n <= F.lit(max_bins), hi_b)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("binned join: interval explodes to "),
                    n.cast("string"),
                    F.lit(
                        f" bins > max_bins_per_interval={max_bins}; "
                        "raise the cap or pass a larger bin_width"
                    ),
                )
            )
        )
        .cast("long")
    )
    return F.sequence(lo_b, guarded_hi)


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    value_col: str,
    bin_width: float,
    lo_col: str = "lo",
    hi_col: str = "hi",
    max_bins_per_interval: int = 4096,
) -> DataFrame:
    """Point-in-interval join for LARGE interval tables: bin both sides
    to a common grid so the join becomes an EQUI-join on the bin id.

    :func:`range_bucket_join`'s broadcast nested-loop is right when the
    intervals fit in a broadcast; fact-fact range joins (events × session
    windows, reading × calibration ranges) need this instead:

    1. every interval explodes to the grid bins it overlaps
       (``sequence(floor(lo/w), floor(hi/w))`` — contiguous, so the blowup
       is ``len/bin_width`` — choose ``bin_width`` ≈ the median interval
       length to keep it ~2×);
    2. every point maps to exactly ONE bin — ``floor(value/w)``;
    3. hash equi-join on the bin id (shuffle both sides by bin — standard
       partitioned join, AQE-skew-splittable), then the exact
       ``lo <= v < hi`` predicate filters the bin's false pairs.

    Identical output to the nested-loop formulation (pinned by tests);
    shuffle volume O(points + intervals·overlap) instead of
    O(points × intervals) comparisons.
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    w = F.lit(float(bin_width))
    ib = intervals.withColumn(
        "_bin",
        F.explode(
            _guarded_bin_sequence(
                F.col(lo_col), F.col(hi_col), w, max_bins_per_interval
            )
        ),
    )
    pb = points.withColumn("_bin", F.floor(F.col(value_col) / w).cast("long"))
    return (
        pb.join(ib, "_bin")
        .filter(
            (F.col(value_col) >= F.col(lo_col))
            & (F.col(value_col) < F.col(hi_col))
        )
        .drop("_bin")
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    support: float = 0.01,
) -> DataFrame:
    """Frequent values of ``col``: every value occurring in more than
    ``support`` fraction of rows.  A one-pass sketch (the
    Karp/Misra-Gries sketch behind ``DataFrame.stat.freqItems``, a
    one-sided guarantee: every such value plus possible false
    positives) proposes the candidates; they are re-counted exactly,
    removing the sketch's false positives, so the result is EXACT with the sketch serving only as
    the scan-reducing candidate generator.  The whole operator is
    exactly TWO passes over the data — the sketch and one verify
    aggregation that computes candidate counts AND the grand
    total together (rows outside the candidate set collapse into a single
    null bucket, so the total needs no separate ``count()`` job).  The
    verify filter compares EXACT counts (``exact_count > support *
    total``), never the display-rounded share — at ~2M+ rows a true
    heavy hitter within 5e-7 of the threshold would otherwise round down
    and be dropped (ADVICE r4).  At 100 TB this is the standard two-phase
    heavy-hitters shape: sketch pass O(1/support) memory, verify pass one
    map-side-combined aggregation of ≤ 1/support + 1 groups.  Returns
    ``(value, exact_count, share)`` ordered by count desc; ``value``
    keeps the input column's native type on every path, including the
    empty-candidate early return.
    """
    # Spark's freqItems requires support ≥ 1e-4 (sketch size 1/support);
    # looser validation here surfaced as a confusing downstream error.
    if not 1e-4 <= support < 1.0:
        raise ValueError(f"support must be in [1e-4, 1), got {support}")
    cands = [
        c for c in df.stat.freqItems([col], support).first()[0]
        if c is not None
    ]
    vtype = df.schema[col].dataType.simpleString()
    if not cands:
        return df.sparkSession.createDataFrame(
            [], f"value {vtype}, exact_count long, share double"
        )
    counts = df.groupBy(
        F.when(F.col(col).isin(cands), F.col(col)).alias("value")
    ).agg(F.count(F.lit(1)).alias("exact_count"))
    # counts has ≤ len(cands)+1 rows; an unpartitioned window over that
    # tiny aggregate is a single-partition no-op, not a scale hazard.
    out = counts.withColumn(
        "_total", F.sum("exact_count").over(Window.partitionBy())
    ).filter(
        F.col("value").isNotNull()
        & (F.col("exact_count") > F.col("_total") * F.lit(float(support)))
    )
    return (
        out.withColumn(
            "share", F.round(F.col("exact_count") / F.col("_total"), 6)
        )
        .drop("_total")
        .orderBy(F.col("exact_count").desc(), F.col("value"))
    )


_MAX_BINS_PER_INTERVAL = 4096


def binned_interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
) -> DataFrame:
    """Interval-overlap join (``l_lo < r_hi AND r_lo < l_hi``) for two
    LARGE interval tables — sessions × incident windows, readings ×
    calibration ranges — as a binned equi-join.

    Both sides explode to the grid bins they cover; overlapping pairs
    necessarily share the bin containing their intersection's start, so
    the equi-join on the bin finds every pair.  A pair sharing SEVERAL
    bins would duplicate — instead of a dedup shuffle, each pair is
    accepted only at its canonical bin (``floor(greatest(l_lo, r_lo) /
    w)``), turning dedup into a free scalar filter.  Output is exactly
    the nested-loop pair set (pinned by tests); shuffle volume
    O(rows · interval_len/bin_width) instead of |left|×|right|.
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    w = F.lit(float(bin_width))

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            "_bin",
            F.explode(
                _guarded_bin_sequence(
                    F.col(lo), F.col(hi), w, _MAX_BINS_PER_INTERVAL
                )
            ),
        )

    lb, rb = binned(left, left_lo, left_hi), binned(right, right_lo, right_hi)
    overlap = (F.col(left_lo) < F.col(right_hi)) & (
        F.col(right_lo) < F.col(left_hi)
    )
    canonical = F.col("_bin") == F.floor(
        F.greatest(F.col(left_lo), F.col(right_lo)) / w
    ).cast("long")
    return lb.join(rb, "_bin").filter(overlap & canonical).drop("_bin")


def top_k_by(
    df: DataFrame,
    order_col: str,
    k: int,
    tiebreak_cols: Sequence[str],
) -> DataFrame:
    """Deterministic top-k by ``order_col`` descending: global sort is
    avoided — Spark's ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject, a per-partition top-k plus a k-row driver
    merge, O(k) memory regardless of input size.  Ascending tiebreak
    columns make results reproducible for oracle comparison."""
    order = [F.col(order_col).desc()] + [F.col(t).asc() for t in tiebreak_cols]
    return df.orderBy(*order).limit(k)


def _pooled_value_counts(
    a: DataFrame, b: DataFrame, value_col: str, as_long: bool
) -> DataFrame:
    """The two-sample drift tests' pooled frame: both samples' non-null
    ``value_col`` (cast to BIGINT when ``as_long``), tagged by side and
    counted per distinct value — ``(_v, _na, _nb)``, one shuffle,
    map-side combined, so the frame shrinks to the value domain.  It is
    pinned hash-partitioned on ``_v``: every caller reads it more than
    once (the block scan's local windows, its per-block totals, the
    grand totals), and without the pin the pooled scan recomputes for
    each consumer (6 base-table scans in the KS physical plan)."""
    v = F.col(value_col)
    val = v.cast("long") if as_long else v

    def side(df: DataFrame, ca: int) -> DataFrame:
        return df.filter(v.isNotNull()).select(
            val.alias("_v"), F.lit(ca).alias("_ca"), F.lit(1 - ca).alias("_cb")
        )

    pooled = side(a, 1).unionAll(side(b, 0))
    return pin(
        pooled.groupBy("_v")
        .agg(F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb"))
        .repartition(adaptive_partitions(pooled), "_v")
    )


def _value_blocks(bin_width: float) -> Column:
    """The block key ``floor(_v / bin_width)`` under which the drift
    family's exact CDFs and ranks :func:`block_scan` a per-distinct-value
    counts frame in ``_v`` order.  Callers build it before they pin
    their counts, so a non-positive width raises with no cache left
    behind."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    return F.floor(F.col("_v") / F.lit(float(bin_width))).cast("long")


def ks_two_sample(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    ``value_col`` distributions of ``a`` and ``b`` — the
    distribution-drift test that, unlike PSI
    (:func:`distribution_drift_psi`), needs no binning CHOICE to be
    correct: ``D = max over observed v of |F_a(v) − F_b(v)|`` with the
    empirical CDFs evaluated at every observed value.

    The textbook formulation is a cumulative sum over the globally
    sorted pooled sample — a single-task window at scale.  Here both
    samples pool tagged into per-distinct-value counts (one shuffle,
    map-side combined — the frame shrinks to the value domain), and the
    CDFs are :func:`~big_data_validator_spark.operators.block_scan`
    over those counts, blocked by ``floor(value / bin_width)``.

    ``bin_width`` only controls block granularity, NEVER the result —
    any positive value yields the identical exact statistic (pinned in
    tests).  Returns one row: ``(ks_stat, n_a, n_b)``, ``ks_stat``
    rounded to 6 for cross-engine hash stability and NULL when either
    sample is empty (its count is then 0).  Nulls are excluded (a null
    carries no position in either CDF).
    """
    blocks = _value_blocks(bin_width)
    cnts = _pooled_value_counts(a, b, value_col, as_long=False)
    cum = block_scan(cnts, blocks, ["_v"], ["_na", "_nb"]).select(
        (F.col("_na_before") + F.col("_na")).alias("_cuma"),
        (F.col("_nb_before") + F.col("_nb")).alias("_cumb"),
    )
    grand = cnts.agg(
        F.sum("_na").alias("_n_a"), F.sum("_nb").alias("_n_b")
    )
    # an empty side divides by zero: try_divide makes the statistic
    # NULL; no row at all means both sides are empty, so n = 0
    return (
        cum.join(F.broadcast(grand))
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.try_divide(F.col("_cuma"), F.col("_n_a"))
                        - F.try_divide(F.col("_cumb"), F.col("_n_b"))
                    )
                ),
                6,
            ).alias("ks_stat"),
            F.coalesce(F.first("_n_a"), F.lit(0)).alias("n_a"),
            F.coalesce(F.first("_n_b"), F.lit(0)).alias("n_b"),
        )
    )


def wasserstein_1d(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    bin_width: int,
    unit_scale: float = 1.0,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between the
    ``value_col`` distributions of ``a`` and ``b`` — the drift measure
    that, unlike KS (:func:`ks_two_sample`, max CDF gap), weighs HOW FAR
    the mass moved, not just the largest displacement: a fat tail that
    shifts by 10% of the range moves W1 but barely moves D.

    ``W1 = ∫ |F_a(v) − F_b(v)| dv``, which over empirical CDFs is the
    exact finite sum ``Σ_i |F_a(v_i) − F_b(v_i)| · (v_{i+1} − v_i)``
    over consecutive observed values.  ``value_col`` must be INTEGRAL
    (pass cents, not dollars) so every term is exact: with integer
    cumulative counts the summand is ``D_i · gap`` with ``D_i =
    |cuma_i·n_b − cumb_i·n_a|``, accumulated in DECIMAL(38,0) — no
    float ever enters until the final division, so the statistic
    hash-matches any engine that sums exact integers (the emb_near_dup
    DECIMAL(38,0) discipline).

    The CDFs come from :func:`~big_data_validator_spark.operators
    .block_scan`, like :func:`ks_two_sample`'s.  Summing by parts
    removes the successor value: the exclusive CDF at ``v_i`` is the
    inclusive one at ``v_{i−1}``, so ``Σ D_i·(v_{i+1} − v_i) = Σ
    v_i·(D_{i−1} − D_i)`` with ``D_0 = 0`` and ``D_max = 0`` (both CDFs
    are 1 there) — the same exact integer, and no neighbour lookup.

    ``bin_width`` only sets block granularity — any positive value
    yields the identical statistic (pinned in tests).  ``unit_scale``
    divides the final value (100.0 turns cents back into dollars).
    Returns one row ``(w1_stat, n_a, n_b)``, ``w1_stat`` rounded to 6
    and NULL when either sample is empty (its count is then 0).  Nulls
    are excluded (no position in either CDF).
    """
    blocks = _value_blocks(bin_width)
    cnts = _pooled_value_counts(a, b, value_col, as_long=True)
    cum = block_scan(cnts, blocks, ["_v"], ["_na", "_nb"])
    grand = cnts.agg(
        F.coalesce(F.sum("_na"), F.lit(0)).alias("_n_a"),
        F.coalesce(F.sum("_nb"), F.lit(0)).alias("_n_b"),
    )
    dec = "decimal(38,0)"

    def cdf_gap(cum_a, cum_b):  # D = |cuma·n_b − cumb·n_a|
        return F.abs(
            cum_a.cast(dec) * F.col("_n_b") - cum_b.cast(dec) * F.col("_n_a")
        )

    before_a, before_b = F.col("_na_before"), F.col("_nb_before")
    term = F.col("_v").cast(dec) * (
        cdf_gap(before_a, before_b)
        - cdf_gap(before_a + F.col("_na"), before_b + F.col("_nb"))
    )
    termsum = cum.join(F.broadcast(grand)).agg(F.sum(term).alias("_ts"))
    return grand.join(F.broadcast(termsum)).select(
        F.round(
            F.try_divide(  # an empty side: NULL, not a zero divide
                F.col("_ts").cast("double"),
                F.col("_n_a").cast("double")
                * F.col("_n_b").cast("double")
                * F.lit(float(unit_scale)),
            ),
            6,
        ).alias("w1_stat"),
        F.col("_n_a").alias("n_a"),
        F.col("_n_b").alias("n_b"),
    )


def winsorized_group_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_ppm: int = 10_000,
    hi_ppm: int = 990_000,
) -> DataFrame:
    """Per-group WINSORIZED mean — the robust location estimate that
    clamps instead of dropping: values below the ``lo_ppm``-quantile
    (parts-per-million, default P1) pull up to it, values above the
    ``hi_ppm``-quantile (default P99) pull down, then the mean runs
    over the clamped column.  The monitoring default when outliers are
    REAL data you must not discard (refunds, whale orders) but must
    not let own the mean either; complements the trimmed-mean UDAF
    (drops tails) and the median/MAD rule (ignores magnitude).

    Exactness: integer values, lower-quantile cut convention (the
    element at 1-based position ``ceil(q·n)`` of the sorted multiset —
    exact integer arithmetic as ``(q_ppm·n + 999_999) div 1_000_000``),
    and the winsorized SUM assembled exactly as ``Σ clamp(v)·cnt`` in
    DECIMAL(38,0); the mean ships as ``(sum·10⁶) div n`` (truncating
    div on both engines).

    ONE data-shuffle: the (group, value) count aggregation.  Both the
    quantile cuts AND the winsorized sum then compute on that SHRUNKEN
    frame — cumulative counts via a window partitioned BY GROUP
    (parallel across groups), never a second scan of the data and
    never a global sort.  Returns ``(group, n_rows, lo_cut, hi_cut,
    winsorized_mean_scaled, scale)`` with scale = 10⁶.
    """
    if not 0 <= lo_ppm <= hi_ppm <= 1_000_000:
        raise ValueError(
            f"need 0 <= lo_ppm <= hi_ppm <= 1e6, got {lo_ppm}, {hi_ppm}"
        )
    v = F.col(value_col)
    cnts = (
        df.filter(v.isNotNull())
        .groupBy(F.col(group_col).alias("_g"), v.cast("long").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # two consumers (cut search + clamped sum): pin the shrunken counts
    # so the base relation scans once (the ks/W1 convention), sized to
    # the input (adaptive_partitions rationale).  Partitioned on _g
    # ALONE (ADVICE r13): the cut-search window partitions by _g and
    # the clamped sum joins on _g, so a (_g,_v)-keyed cache fed every
    # consumer through an extra Exchange.
    cnts = cnts.repartition(adaptive_partitions(df), "_g")
    pin(cnts)
    w = Window.partitionBy("_g").orderBy("_v")
    cum = cnts.withColumn(
        "_cum", F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("_n", F.sum("_c").over(Window.partitionBy("_g")))
    lo_pos = F.expr(f"({lo_ppm}L * _n + 999999) div 1000000")
    hi_pos = F.expr(f"({hi_ppm}L * _n + 999999) div 1000000")
    # the cut = first value whose cumulative count reaches the position
    cuts = cum.groupBy("_g").agg(
        F.min(F.when(F.col("_cum") >= lo_pos, F.col("_v"))).alias(
            "lo_cut"
        ),
        F.min(F.when(F.col("_cum") >= hi_pos, F.col("_v"))).alias(
            "hi_cut"
        ),
        F.first("_n").alias("n_rows"),
    )
    clamped = (
        cnts.join(cuts, "_g")
        .select(
            "_g",
            "n_rows",
            "lo_cut",
            "hi_cut",
            (
                F.greatest(
                    F.least(F.col("_v"), F.col("hi_cut")), F.col("lo_cut")
                ).cast("decimal(38,0)")
                * F.col("_c")
            ).alias("_wv"),
        )
        .groupBy("_g", "n_rows", "lo_cut", "hi_cut")
        .agg(F.sum("_wv").alias("_ws"))
    )
    return clamped.select(
        F.col("_g").alias(group_col),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("lo_cut").cast("long").alias("lo_cut"),
        F.col("hi_cut").cast("long").alias("hi_cut"),
        F.expr("(_ws * 1000000) div n_rows")
        .cast("long")
        .alias("winsorized_mean_scaled"),
        F.lit(1_000_000).cast("long").alias("scale"),
    )


def mannwhitney_u(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    bin_width: int = 1 << 20,
) -> DataFrame:
    """Exact two-sample Mann–Whitney U (Wilcoxon rank-sum) — the
    rank-based drift test that completes the KS/W1 family: KS sees the
    largest CDF gap, W1 the total mass displacement, U the stochastic
    ORDERING (P[X > Y] shifted from ½) — robust to any monotone
    transform of the values, which neither KS distance scaling nor W1
    units are.

    Exactness contract: with per-value counts ``(na_v, nb_v)`` and
    ``C_v`` = pooled count strictly below v, the midrank of the tie
    group at v doubles to the INTEGER ``2·C_v + t_v + 1``, so
    ``2·R_a = Σ na_v · (2·C_v + t_v + 1)`` and ``2·U_a = 2·R_a −
    n_a(n_a+1)`` are exact integers accumulated in DECIMAL(38,0) —
    ties need no float midranks, the classic cross-engine hazard.  The
    tie-corrected normal z uses ``σ² = n_a·n_b/12 · ((N+1) −
    Σ(t³−t)/(N(N−1)))`` (floats only in this final scalar, rounded 6).

    Same scale shape as :func:`ks_two_sample`/:func:`wasserstein_1d`:
    one shuffle to per-value counts, then :func:`block_scan`;
    ``bin_width`` moves block granularity only (identical statistic at
    any positive value, pinned in tests).  Returns one
    row ``(n_a, n_b, u_a_x2, u_b_x2, z)``; ``z`` is NULL when either
    sample is empty (its count is then 0); nulls are excluded.
    """
    _value_blocks(bin_width)  # a bad width raises before the pin
    return mwu_from_value_counts(
        _pooled_value_counts(a, b, value_col, as_long=True), bin_width
    )


def mwu_from_value_counts(
    cnts: DataFrame, bin_width: int = 1 << 20
) -> DataFrame:
    """The counts→statistic half of :func:`mannwhitney_u`, shared with
    the streaming drift monitor: given a per-value counts frame
    ``(_v long, _na, _nb)`` (sample-1 / sample-2 counts at each
    distinct value), compute the exact doubled-midrank U pair and the
    tie-corrected z through :func:`block_scan`.  The caller
    owns any caching of ``cnts`` (the batch wrapper pins it; the
    streaming monitor's per-batch frames are bounded parquet reads
    and pass through uncached)."""
    scanned = block_scan(
        cnts.withColumn("_t", F.col("_na") + F.col("_nb")),
        _value_blocks(bin_width),
        ["_v"],
        ["_t"],
    )
    dec = "decimal(38,0)"
    c = F.col("_t_before").cast(dec)
    terms = scanned.select(
        (
            F.col("_na").cast(dec)
            * (F.lit(2).cast(dec) * c + F.col("_t") + F.lit(1))
        ).alias("_r2a_term"),
        (
            F.col("_t").cast(dec) * F.col("_t") * F.col("_t")
            - F.col("_t")
        ).alias("_tie_term"),
        F.col("_na"),
        F.col("_nb"),
    )
    agg = terms.agg(
        F.coalesce(F.sum("_na"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("_nb"), F.lit(0)).cast("long").alias("n_b"),
        F.sum("_r2a_term").alias("_r2a"),
        F.sum("_tie_term").alias("_ties"),
    )
    n_a = F.col("n_a").cast(dec)
    n_b = F.col("n_b").cast(dec)
    n = n_a + n_b
    u2a = (F.col("_r2a") - n_a * (n_a + F.lit(1))).cast("long")
    u2b = (F.lit(2).cast(dec) * n_a * n_b).cast("long") - F.col("u_a_x2")
    var = (
        n_a.cast("double")
        * n_b.cast("double")
        / F.lit(12.0)
        * (
            (n + F.lit(1)).cast("double")
            - F.col("_ties").cast("double")
            / (n.cast("double") * (n - F.lit(1)).cast("double"))
        )
    )
    out = (
        agg.withColumn("u_a_x2", u2a)
        .withColumn("u_b_x2", u2b)
        .withColumn(
            "z",
            # degenerate pools (N<2 or all values tied) have zero
            # rank variance — z undefined, shipped NULL on both engines
            F.when(
                (n > F.lit(1)) & (var > F.lit(0.0)),
                F.round(
                    (
                        F.col("u_a_x2").cast("double")
                        - n_a.cast("double") * n_b.cast("double")
                    )
                    / (F.lit(2.0) * F.sqrt(var)),
                    6,
                ),
            ),
        )
        .select("n_a", "n_b", "u_a_x2", "u_b_x2", "z")
    )
    return out


def cramer_von_mises(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    bin_width: int = 1 << 20,
) -> DataFrame:
    """Exact two-sample Cramér–von Mises T (Anderson 1962) — the
    whole-CDF member completing the drift family: KS sees the single
    largest CDF gap, W1 the total mass displacement, U the stochastic
    ordering; CvM integrates the SQUARED CDF gap over the pooled
    sample, so many small distributed discrepancies that KS's max
    misses still register.

    Exactness contract — everything integer until one final float:
    Anderson's rank form is ``T = U/(n·m·N) − (4nm−1)/(6N)`` with
    ``U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)²`` over each sample's pooled ranks.
    With midranks doubled to the integer ``R = 2C+t+1`` (the
    :func:`mannwhitney_u` tie device) and every sample-1 member of a
    tie group occupying consecutive per-sample indices, the group's
    ``Σ(2r−2i)²`` has the closed form ``c·D₀² − 2·D₀·c(c+1) +
    2·c(c+1)(2c+1)/3`` with ``D₀ = R − 2·A_prev`` — multiplied through
    by 3, every term is a pure DECIMAL(38,0) integer product (no
    division anywhere), accumulated as ``U12 = 3·(4U)``.  The only
    floats are the two final quotients of exact integers (IEEE-
    identical across engines), rounded 6.

    Same scale shape as the KS/W1/U siblings: one shuffle to per-value
    counts, then one :func:`block_scan` for both the pooled and the
    sample-1 prefix; ``bin_width`` moves block granularity only.
    Returns one row ``(n_a, n_b, cvm_t)``; ``cvm_t`` NULL when either
    sample is empty; nulls excluded.
    """
    blocks = _value_blocks(bin_width)
    cnts = _pooled_value_counts(a, b, value_col, as_long=True)
    scanned = block_scan(
        cnts.withColumn("_t", F.col("_na") + F.col("_nb")),
        blocks,
        ["_v"],
        ["_t", "_na"],
    )
    dec = "decimal(38,0)"
    cpr = F.col("_t_before").cast(dec)
    apr = F.col("_na_before").cast(dec)
    bpr = cpr - apr
    r = F.lit(2).cast(dec) * cpr + F.col("_t") + F.lit(1)

    def contrib3(c_col, d0):
        c = c_col.cast(dec)
        return (
            F.lit(3).cast(dec) * c * d0 * d0
            - F.lit(6).cast(dec) * d0 * c * (c + F.lit(1))
            + F.lit(2).cast(dec)
            * c
            * (c + F.lit(1))
            * (F.lit(2).cast(dec) * c + F.lit(1))
        )

    terms = scanned.select(
        F.col("_na"),
        F.col("_nb"),
        contrib3(
            F.col("_na"), r - F.lit(2).cast(dec) * apr
        ).alias("_c3a"),
        contrib3(
            F.col("_nb"), r - F.lit(2).cast(dec) * bpr
        ).alias("_c3b"),
    )
    agg = terms.agg(
        F.coalesce(F.sum("_na"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("_nb"), F.lit(0)).cast("long").alias("n_b"),
        F.sum("_c3a").alias("_sa"),
        F.sum("_c3b").alias("_sb"),
    )
    n_a = F.col("n_a").cast(dec)
    n_b = F.col("n_b").cast(dec)
    n = n_a + n_b
    u12 = n_a * F.col("_sa") + n_b * F.col("_sb")
    return agg.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                u12.cast("double")
                / (
                    F.lit(12).cast(dec) * n_a * n_b * n
                ).cast("double")
                - (
                    F.lit(4).cast(dec) * n_a * n_b - F.lit(1)
                ).cast("double")
                / (F.lit(6).cast(dec) * n).cast("double"),
                6,
            ),
        ).alias("cvm_t"),
    )


def _one_vs_rest_rank_frames(
    df: DataFrame,
    segment_col: str,
    value_col: str,
    bin_width: int,
):
    """Shared internals of the one-vs-rest segment scans: ONE data
    shuffle to (segment, value) pair counts, a :func:`block_scan`
    global cumulative on the distinct-value frame, then the per-segment
    doubled-rank sums.  Returns ``(per, glob, cnts)``: ``per`` holds one
    row per segment ``(segment, _ng, _r2)`` in DECIMAL(38,0), ``glob``
    is a broadcast 1-row frame ``(_N, _ties)`` with the pool size and
    the Σ(t³−t) tie correction, and ``cnts`` is the pinned pair-count
    frame."""
    blocks = _value_blocks(bin_width)
    v = F.col(value_col)
    base = df.filter(v.isNotNull() & F.col(segment_col).isNotNull()).select(
        F.col(segment_col).alias("segment"),
        v.cast("long").alias("_v"),
    )
    # partitioned on _v ALONE (ADVICE r13): the distinct-value rollup
    # aggregates by _v and the per-segment rank sum joins on _v, so a
    # (segment,_v)-keyed cache fed both consumers through an Exchange.
    cnts = pin(
        base.groupBy("segment", "_v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .repartition(adaptive_partitions(df), "_v")
    )
    vals = cnts.groupBy("_v").agg(F.sum("_c").alias("_t"))
    dec = "decimal(38,0)"
    vstats = block_scan(vals, blocks, ["_v"], ["_t"]).select(
        "_v",
        F.col("_t").cast(dec).alias("_t"),
        F.col("_t_before").cast(dec).alias("_cb"),
    )
    glob = F.broadcast(
        vstats.agg(
            F.sum("_t").alias("_N"),
            F.sum(
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
            ).alias("_ties"),
        )
    )
    per = (
        cnts.join(vstats, "_v")
        .groupBy("segment")
        .agg(
            F.sum("_c").cast(dec).alias("_ng"),
            F.sum(
                F.col("_c").cast(dec)
                * (
                    F.lit(2).cast(dec) * F.col("_cb")
                    + F.col("_t")
                    + F.lit(1)
                )
            ).alias("_r2"),
        )
    )
    return per, glob, cnts


def mannwhitney_by_segment(
    df: DataFrame,
    segment_col: str,
    value_col: str,
    bin_width: int = 1 << 20,
) -> DataFrame:
    """ONE-VS-REST Mann–Whitney U for every segment of one table — the
    segment-scan companion to :func:`mannwhitney_u`: instead of one
    a-vs-b pair, every segment g is tested against ALL OTHER rows at
    once, answering "which slice's values are stochastically shifted
    against the rest of the population" in a single pass (the
    per-segment drift triage a validator runs before pairing anything).

    The shared-pool identity that makes this one job, not |G| jobs:
    for one-vs-rest the pooled sample IS the whole table, so the
    below-count ``C_v`` and tie size ``t_v`` at each value — and the
    tie-correction scalar ``Σ(t³−t)`` — are GLOBAL, computed once and
    shared by every segment.  With per-(segment, value) counts
    ``c_gv``, the :func:`mannwhitney_u` doubled-midrank device gives
    ``2·R_g = Σ_v c_gv · (2·C_v + t_v + 1)`` and ``2·U_g = 2·R_g −
    n_g(n_g+1)`` — exact DECIMAL(38,0) integers per segment.  The
    tie-corrected normal z per segment uses ``σ²_g = n_g·n_rest/12 ·
    ((N+1) − Σ(t³−t)/(N(N−1)))`` (floats only in this final scalar,
    rounded 6; NULL when the pool is degenerate).

    Scale shape: ONE data shuffle (the (segment, value) pair-count
    agg, pinned);
    the global cumulative is a :func:`block_scan` of the
    DISTINCT-value frame, and the value-stats join back to the pair
    counts is a counts-frame join, not a data join.  ``bin_width``
    moves block granularity only.  Returns one row per segment
    ``(segment, n_seg, n_rest, u_seg_x2, z)``; rows with a NULL segment
    or NULL value are excluded.
    """
    per, glob, cnts = _one_vs_rest_rank_frames(
        df, segment_col, value_col, bin_width
    )
    n_g = F.col("_ng")
    n_n = F.col("_N")
    n_rest = n_n - n_g
    var = (
        n_g.cast("double")
        * n_rest.cast("double")
        / F.lit(12.0)
        * (
            (n_n + F.lit(1)).cast("double")
            - F.col("_ties").cast("double")
            / (n_n.cast("double") * (n_n - F.lit(1)).cast("double"))
        )
    )
    return (
        per.crossJoin(glob)
        .withColumn("u_seg_x2", (F.col("_r2") - n_g * (n_g + F.lit(1))).cast("long"))
        .withColumn(
            "z",
            F.when(
                (n_n > F.lit(1)) & (n_rest > F.lit(0)) & (var > F.lit(0.0)),
                F.round(
                    (
                        F.col("u_seg_x2").cast("double")
                        - n_g.cast("double") * n_rest.cast("double")
                    )
                    / (F.lit(2.0) * F.sqrt(var)),
                    6,
                ),
            ),
        )
        .select(
            "segment",
            n_g.cast("long").alias("n_seg"),
            n_rest.cast("long").alias("n_rest"),
            "u_seg_x2",
            "z",
        )
    )


def mannwhitney_bh_scan(
    df: DataFrame,
    segment_col: str,
    value_col: str,
    alpha_ppm: int = 50_000,
    bin_width: int = 1 << 20,
) -> DataFrame:
    """One-vs-rest segment scan with MULTIPLE-TESTING control — the
    decision layer on top of :func:`mannwhitney_by_segment`: scanning
    |G| segments runs |G| simultaneous tests, and at α = 0.05 a
    25-segment scan FABRICATES a drifting segment roughly every run;
    Benjamini-Hochberg (1995) step-up control of the false-discovery
    rate is the standard fix, and this operator runs it end-to-end in
    EXACT integer arithmetic.

    The exactness chain — no floats anywhere, so the oracle replays
    it bit-for-bit:

    1. per segment, ``d = 2U_g − n_g·n_rest`` (the doubled centered
       statistic) and the tie-corrected ``z² = num/den`` as the exact
       integer pair ``num = 3·d²·N(N−1)``, ``den = n_g·n_rest·
       (N(N−1)(N+1) − Σ(t³−t))``;
    2. the distribution-free CHEBYSHEV bound ``p ≤ min(1, 1/z²)``
       gives ``p_cheby_ppm = min(10⁶, (10⁶·den) div num)`` — a valid
       (conservative) p-value with no normal CDF, hence no erf float;
    3. BH step-up on the integer ppm p-values: rank ascending (ties
       broken by segment for determinism), reject ranks 1..k where
       ``k = max{i : p_(i)·m ≤ alpha_ppm·i}`` — pure integer
       comparisons.

    Degenerate segments (den ≤ 0: pool under 2 rows or all values
    tied) ship NULL p/rank/reject and are excluded from ``m``.  The
    10⁶·den product bounds the pool at ~4·10⁶ rows in DECIMAL(38,0)
    (den < N⁵/4); larger pools raise loudly — bucket values or sample
    first.  Scale shape: identical to :func:`mannwhitney_by_segment`
    (ONE data shuffle; the BH windows run on the |G|-row frame).
    Returns one row per segment ``(segment, n_seg, n_rest, u_seg_x2,
    p_cheby_ppm, p_rank, bh_reject)``.
    """
    if not 0 < alpha_ppm <= 1_000_000:
        raise ValueError(
            f"alpha_ppm must be in (0, 1e6], got {alpha_ppm}"
        )
    per, glob, cnts = _one_vs_rest_rank_frames(
        df, segment_col, value_col, bin_width
    )
    dec = "decimal(38,0)"
    n_g = F.col("_ng")
    n_n = F.col("_N")
    n_rest = n_n - n_g
    u2 = F.col("_r2") - n_g * (n_g + F.lit(1))
    d = u2 - n_g * n_rest
    num = F.lit(3).cast(dec) * d * d * n_n * (n_n - F.lit(1))
    den = (
        n_g
        * n_rest
        * (
            n_n * (n_n - F.lit(1)) * (n_n + F.lit(1))
            - F.col("_ties")
        )
    )
    pre = per.crossJoin(glob).select(
        "segment",
        n_g.cast("long").alias("n_seg"),
        n_rest.cast("long").alias("n_rest"),
        u2.cast("long").alias("u_seg_x2"),
        d.alias("_d"),
        num.alias("_num"),
        den.alias("_den"),
    )
    # the guard lives INSIDE the emitted p column (the hhi_by_group
    # device) — 10^6*den must stay inside DECIMAL(38,0)
    overflow_guard = F.when(
        F.col("_den")
        >= F.expr(
            "CAST(10000000000000000000000000000000 AS DECIMAL(38,0))"
        ),
        F.raise_error(
            F.lit(
                "mannwhitney_bh_scan: 1e6*den overflows DECIMAL(38,0) "
                "(pool too large) — bucket the value column or sample "
                "to <= ~4e6 rows first"
            )
        ).cast("long"),
    )
    stats = pre.select(
        "segment",
        "n_seg",
        "n_rest",
        "u_seg_x2",
        F.coalesce(
            overflow_guard,
            F.when(
                F.col("_den") > 0,
                F.when(
                    (F.col("_d") == 0)
                    | (F.col("_den") >= F.col("_num")),
                    F.lit(1_000_000).cast("long"),
                ).otherwise(
                    # den < num here, so the quotient is < 1e6 and the
                    # 1e6*den product stays inside DECIMAL(38,0)
                    F.expr(
                        "CAST((CAST(1000000 AS DECIMAL(38,0))"
                        " * _den) div _num AS BIGINT)"
                    )
                ),
            ),
        ).alias("p_cheby_ppm"),
    )
    wr = Window.orderBy(
        F.col("p_cheby_ppm").asc_nulls_last(), F.col("segment").asc()
    )
    wall = Window.partitionBy()
    ranked = stats.select(
        "*",
        F.when(
            F.col("p_cheby_ppm").isNotNull(),
            F.row_number().over(wr).cast("long"),
        ).alias("p_rank"),
        F.count("p_cheby_ppm").over(wall).cast(dec).alias("_m"),
    )
    cond = (
        F.col("p_cheby_ppm").cast(dec) * F.col("_m")
        <= F.lit(alpha_ppm).cast(dec) * F.col("p_rank").cast(dec)
    )
    return ranked.select(
        "*",
        F.max(F.when(cond, F.col("p_rank"))).over(wall).alias("_k"),
    ).select(
        "segment",
        "n_seg",
        "n_rest",
        "u_seg_x2",
        "p_cheby_ppm",
        "p_rank",
        F.when(
            F.col("p_cheby_ppm").isNotNull(),
            F.coalesce(
                F.col("p_rank") <= F.col("_k"), F.lit(False)
            ),
        ).alias("bh_reject"),
    )


def order_inversions(
    df: DataFrame,
    part_col: str,
    seq_col: str,
    value_col: str,
) -> DataFrame:
    """Sequence-monotonicity rule: within each ``part_col`` group,
    ordered by ``seq_col``, count the adjacent pairs where ``value_col``
    strictly DECREASES — the "surrogate keys must respect event time"
    sanity check a CDC/ingest pipeline runs (an inversion means the
    write order disagrees with the domain order, i.e. late or
    out-of-order ingestion).

    One ``lag`` window partitioned by the group key — fully parallel,
    no global sort; the aggregate then collapses to one row per group,
    and only violating groups are returned (the violations-only
    convention every rule_* operator here follows).  Null values and
    the first row of each group carry no pair.  Returns
    ``(part, n_rows, n_pairs, n_inversions)`` for groups with
    ``n_inversions > 0``.
    """
    w = Window.partitionBy(part_col).orderBy(seq_col)
    prev = F.lag(value_col).over(w)
    flagged = df.select(
        F.col(part_col).alias("part"),
        F.when(
            prev.isNotNull() & F.col(value_col).isNotNull(), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("_pair"),
        F.when(
            prev.isNotNull() & (prev > F.col(value_col)), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("_inv"),
    )
    return (
        flagged.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_pair").alias("n_pairs"),
            F.sum("_inv").alias("n_inversions"),
        )
        .filter(F.col("n_inversions") > 0)
    )


def key_gaps(
    df: DataFrame, key_col: str, block_size: int = 1 << 20
) -> DataFrame:
    """Missing-key ranges inside an integer key domain — the
    completeness rule "sequence ids must be contiguous" reported as
    actual ``(gap_start, gap_end, gap_len)`` ranges, not just a count.

    The textbook ``lag() OVER (ORDER BY k)`` is a single-task global
    sort.  The scalable formulation is the same block decomposition as
    :func:`ks_two_sample`:

    1. distinct keys get an order-preserving block id ``k div
       block_size``; intra-block gaps come from a lag window partitioned
       BY BLOCK — fully parallel;
    2. cross-block gaps (including runs of entirely-empty blocks) come
       from the per-block ``(min, max)`` summary — ONE row per non-empty
       block — with a global lag over that small frame.  The global
       window's input is bounded by ``distinct_keys / block_size`` (for
       dense domains); size ``block_size`` so that count stays in the
       millions (e.g. 2^20 blocks cover a 10^12-key dense domain with
       ~10^6 summary rows).

    Only INTERNAL gaps are reported (between the observed min and max);
    the domain's intended endpoints are a contract question, not an
    observation.  Nulls are ignored.
    """
    if block_size <= 1:
        raise ValueError(f"block_size must be > 1, got {block_size}")
    k = F.col(key_col).cast("long")
    keys = (
        df.filter(k.isNotNull()).select(k.alias("_k")).distinct()
    )
    keyed = keys.withColumn("_blk", (F.col("_k") / block_size).cast("long"))

    w_blk = Window.partitionBy("_blk").orderBy("_k")
    intra = (
        keyed.withColumn("_pk", F.lag("_k").over(w_blk))
        .filter(F.col("_pk").isNotNull() & (F.col("_k") - F.col("_pk") > 1))
        .select(
            (F.col("_pk") + 1).alias("gap_start"),
            (F.col("_k") - 1).alias("gap_end"),
        )
    )

    summary = keyed.groupBy("_blk").agg(
        F.min("_k").alias("_mn"), F.max("_k").alias("_mx")
    )
    w_all = Window.orderBy("_blk")
    inter = (
        summary.withColumn("_pmx", F.lag("_mx").over(w_all))
        .filter(
            F.col("_pmx").isNotNull() & (F.col("_mn") - F.col("_pmx") > 1)
        )
        .select(
            (F.col("_pmx") + 1).alias("gap_start"),
            (F.col("_mn") - 1).alias("gap_end"),
        )
    )

    return intra.unionAll(inter).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).alias("gap_len"),
    )


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    block_width: float,
) -> DataFrame:
    """EXACT equi-depth (equal-frequency) histogram: ``n_bins`` buckets
    whose boundaries are observed values, each holding ~``rows/n_bins``
    rows — the optimizer/profiling statistic equi-WIDTH histograms
    can't substitute for on skewed columns.

    The textbook formulation is ``ntile(n) OVER (ORDER BY v)`` — a
    single-task global sort at scale.  Here per-distinct-value counts
    (one shuffle, frame shrinks to the value domain) run through
    :func:`block_scan`, then every distinct value's bin is
    ``floor(cum_before · n_bins / total)`` in EXACT integer arithmetic.
    All duplicates of one value land in one bin (bins differ from
    ntile's row-split exactly there, which is what makes the result
    deterministic and engine-portable).

    ``block_width`` only sets block granularity — any positive value
    yields the identical histogram (pinned in tests).  Returns one row
    per non-empty bin: ``(bin_id, n_rows, min_v, max_v)``.
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    if block_width <= 0:
        raise ValueError(f"block_width must be positive, got {block_width}")
    v = F.col(value_col)
    cnts = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    grand = cnts.agg(F.sum("_n").alias("_total"))
    binned = (
        block_scan(cnts, _value_blocks(block_width), ["_v"], ["_n"])
        .join(F.broadcast(grand))
        .select(
            "_v",
            "_n",
            F.least(
                F.expr(f"(_n_before * {int(n_bins)}) div _total"),
                F.lit(n_bins - 1),
            ).alias("bin_id"),
        )
    )
    return binned.groupBy("bin_id").agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.min("_v").alias("min_v"),
        F.max("_v").alias("max_v"),
    )


def chi_square_drift(
    a: DataFrame, b: DataFrame, category_col: str
) -> DataFrame:
    """Pearson chi-square homogeneity test between the ``category_col``
    distributions of two snapshots — the CATEGORICAL drift test
    completing the drift triple (PSI for binned numerics, KS for
    continuous, chi-square for categoricals).

    ``X² = N·Σ_cells (o/N − e)²/e`` over the 2×k contingency table.
    Both snapshots aggregate to per-category counts FIRST (map-side
    combined — the shuffle carries k categories, not rows), the two
    tiny count frames full-outer join on category (absent categories
    count 0), and the statistic is one aggregation over k rows.  At
    100 TB the cost is two scans; everything after is O(k).

    Returns one row: ``(chi2, dof, n_a, n_b)``; ``chi2`` rounded to 6
    for cross-engine hash stability.  Nulls are excluded (a null is a
    completeness question, not a category).
    """
    c = F.col(category_col)

    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.filter(c.isNotNull())
            .groupBy(c.alias("_cat"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    ca = counts(a, "_na")
    cb = counts(b, "_nb")
    table = (
        ca.join(cb, "_cat", "full_outer")
        .select(
            F.coalesce("_na", F.lit(0)).cast("double").alias("_na"),
            F.coalesce("_nb", F.lit(0)).cast("double").alias("_nb"),
        )
    )
    # totals via window-free aggregation: one pass computes row/col sums
    # and the statistic needs expected = row_total*col_total/N per cell,
    # so compute in two chained aggregates over the k-row frame
    tot = table.agg(
        F.sum("_na").alias("_ta"), F.sum("_nb").alias("_tb")
    )
    cells = table.crossJoin(F.broadcast(tot)).select(
        "_na",
        "_nb",
        "_ta",
        "_tb",
        (F.col("_ta") + F.col("_tb")).alias("_n"),
        ((F.col("_na") + F.col("_nb")) / (F.col("_ta") + F.col("_tb"))).alias(
            "_p"
        ),
    )
    # expected cell counts: e_a = p*ta, e_b = p*tb; cells with p=0 can't
    # occur (a category appears in at least one side).  try_divide: when
    # one snapshot is EMPTY (ta or tb is 0 — a normal drift-monitor
    # input, e.g. a brand-new feed) its expected counts are 0 for every
    # cell and the Pearson term is undefined; Spark 4's ANSI mode would
    # throw DIVIDE_BY_ZERO.  try_divide yields NULL instead, the NULL
    # propagates through _x, and SUM over all-NULL returns NULL — so the
    # statistic comes back as a defined row (chi2 NULL, n_a/n_b
    # populated) rather than a crash (ADVICE r5).
    contrib = cells.select(
        (
            F.try_divide(
                F.pow(F.col("_na") - F.col("_p") * F.col("_ta"), 2),
                F.col("_p") * F.col("_ta"),
            )
            + F.try_divide(
                F.pow(F.col("_nb") - F.col("_p") * F.col("_tb"), 2),
                F.col("_p") * F.col("_tb"),
            )
        ).alias("_x"),
        "_ta",
        "_tb",
    )
    return contrib.agg(
        F.round(F.sum("_x"), 6).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.first("_ta").cast("long").alias("n_a"),
        F.first("_tb").cast("long").alias("n_b"),
    )


def salted_skew_join(
    big: DataFrame,
    small: DataFrame,
    key_cols: Sequence[str],
    salt: int = 8,
    salt_col: str = "_salt",
) -> DataFrame:
    """Explicit salt-replication INNER equi-join for a SKEWED big side
    whose small side is too large to broadcast: the classic hot-key device a
    100 TB fact-fact join needs when one key holds a double-digit
    percentage of the rows and a single reducer would own it.

    - every big row gets a deterministic salt in ``[0, salt)``:
      ``xxhash64`` over all columns MIXED WITH ``spark_partition_id()``
      (ADVICE r8: hashing columns alone sends byte-identical duplicate
      rows — a common real skew shape — to ONE reducer, silently
      no-op'ing the mitigation; the partition id spreads identical
      rows by their physical location while staying deterministic for
      a fixed input partitioning, unlike ``rand``).  Note xxhash64
      rejects un-hashable column types (e.g. ``MapType``) — project
      them away first;
    - the small side replicates ``salt`` ways (an ``explode`` of a
      literal array — map-side, no shuffle of its own);
    - the join runs on ``key_cols + [salt]``, splitting each hot key's
      rows across ``salt`` reducers.

    Correctness is salt-invariant (each big row meets exactly one
    replica of each matching small row), which is what the oracle
    checks; the SHAPE (hot key fanned across partitions, no broadcast)
    is pinned in tests with the broadcast threshold disabled.  AQE's
    skew-join split is the runtime alternative — this operator is the
    explicit, plan-stable form for when AQE's thresholds don't fire or
    the engine is pinned to static planning.
    """
    if salt < 1:
        raise ValueError("salt must be >= 1")
    keys = list(key_cols)
    salt_expr = F.pmod(
        F.xxhash64(
            F.spark_partition_id(),
            *[F.col(c) for c in big.columns],
        ),
        F.lit(salt),
    )
    b = big.withColumn(salt_col, salt_expr)
    s = small.withColumn(
        salt_col,
        F.explode(F.array(*[F.lit(i) for i in range(salt)])),
    )
    return b.join(s, keys + [salt_col]).drop(salt_col)


def pareto_frontier_2d(
    df: DataFrame,
    cost_col: str,
    gain_col: str,
    prefilter_buckets: Optional[int] = 64,
) -> DataFrame:
    """2-D Pareto frontier (skyline): the rows no other row dominates,
    where ``q`` dominates ``p`` iff ``q.cost ≤ p.cost ∧ q.gain ≥
    p.gain`` with at least one strict.  Ties that dominate in neither
    direction (equal cost AND equal gain) all stay on the frontier
    (multiset semantics — matches the NOT EXISTS formulation oracles
    use).

    Both columns must be integral (the strictly-cheaper window below
    uses a RANGE frame with offset −1, exact only on integers — scale
    floats to cents/micros first, which the repo's hash discipline
    demands anyway).

    Exact window formulation, one pass, no self-join: sort by cost;
    a row survives iff its gain exceeds the running max gain over all
    STRICTLY cheaper rows (``RANGE UNBOUNDED PRECEDING .. -1``) and it
    carries the max gain within its own cost (same-cost dominance).

    Scale shape: the final window is a global sort — the classic
    skyline bottleneck — so a LOCAL PREFILTER runs first when
    ``prefilter_buckets`` is set: rows are hash-bucketed and the SAME
    survivor predicate runs per bucket.  A bucket-local skyline is a
    superset of the global one restricted to that bucket (dominance
    by a row outside the bucket is not tested locally, and dominance
    is transitive: any global survivor survives every subset), so the
    global pass sees only Σ per-bucket frontiers — typically
    O(buckets · frontier) rows instead of the table.  The global sort
    never touches the full input.
    """
    cost, gain = F.col(cost_col), F.col(gain_col)

    def survivors(frame: DataFrame, *part_cols: str) -> DataFrame:
        strictly_cheaper = (
            Window.partitionBy(*part_cols)
            .orderBy(cost_col)
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        same_cost = Window.partitionBy(*part_cols, cost_col)
        return (
            frame.withColumn("_best_cheaper", F.max(gain).over(strictly_cheaper))
            .withColumn("_best_same", F.max(gain).over(same_cost))
            .filter(
                (F.col("_best_cheaper").isNull() | (gain > F.col("_best_cheaper")))
                & (gain == F.col("_best_same"))
            )
            .drop("_best_cheaper", "_best_same")
        )

    if prefilter_buckets:
        local = survivors(
            df.withColumn(
                "_skyb",
                F.pmod(F.xxhash64(cost, gain), F.lit(prefilter_buckets)),
            ),
            "_skyb",
        ).drop("_skyb")
        return survivors(local)
    return survivors(df)


def time_decayed_group_value(
    df: DataFrame,
    group_col: str,
    amount_cents_col: str,
    age_periods_col: str,
    max_shift: int = 32,
) -> DataFrame:
    """EXACT exponentially-decayed value per group with a one-period
    half-life: ``Σ amount · 2^−age`` — recency-weighted customer value
    / document freshness scoring whose decay weights are EXACT binary
    rationals, so the aggregate is an integer in scaled space and
    hash-matches any engine (the DECIMAL(38,0) discipline): the
    floating ``pow(decay, age)`` a naive version uses is the
    cross-engine hazard this formulation removes.

    Each row contributes ``cents · 2^(max_shift − min(age, max_shift))``
    (a long shift, then DECIMAL(38,0) — ages beyond ``max_shift``
    half-lives contribute 0, which IS the exact value of their weight
    at the shipped rounding).  One map-side-combined groupBy — fully
    row-local weights, one shuffle of (group, decimal) partials, no
    skew surface beyond the group key itself.  Returns
    ``(group, n_rows, decayed_value)`` with the value unscaled back to
    units at 6 decimals via EXACT integer half-up division (the
    key_skew_profile quantization device) — the power-of-2 denominator
    makes TRUE decimal halfway cases common (unlike an irrational
    statistic's), and ``round(double)`` is exactly where engines
    disagree on a tie (half-up vs half-even; measured 7/1500 groups off
    by one ulp before this).
    """
    if not 0 < max_shift <= 62:
        raise ValueError(f"max_shift must be in (0, 62], got {max_shift}")
    # Clamp age on BOTH ends: ages beyond max_shift half-lives floor to
    # weight 1 in scaled space (exact 0 at the shipped rounding), and a
    # NEGATIVE age (future-dated row — clock skew, bad ingest: exactly
    # what a validator sees) clamps to 0 rather than pushing the shift
    # past 63, where shiftleft silently wraps and flips the sign of the
    # whole group's value.
    weight = F.expr(
        f"cast(shiftleft(1L, {max_shift} - greatest(least(cast("
        f"{age_periods_col} as int), {max_shift}), 0)) as decimal(38,0))"
    )
    scaled = (
        F.col(amount_cents_col).cast("decimal(38,0)") * weight
    )
    den = (1 << max_shift) * 100  # scaled space -> cents -> units
    # Sign audit (ADVICE r11 raised a floor-vs-truncate alarm): Spark's
    # ``div`` and DuckDB's integer ``//`` BOTH truncate toward zero
    # (duckdb: SELECT (-7)//2 = -3, incl. HUGEINT), so a NEGATIVE
    # decayed sum (refund/credit-heavy group) quantizes identically on
    # both engines with the plain form — pinned against live DuckDB in
    # tests/test_relational.py::test_time_decayed_value_negative_sum.
    quantized = F.expr(f"(_scaled * 2000000 + {den}) div {2 * den}")
    return (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(scaled).alias("_scaled"),
        )
        .select(
            group_col,
            "n_rows",
            (quantized.cast("double") / F.lit(1e6)).alias(
                "decayed_value"
            ),
        )
    )


def wasserstein_by_group(
    a: DataFrame,
    b: DataFrame,
    group_col: str,
    value_col: str,
    unit_scale: float = 1.0,
) -> DataFrame:
    """Per-group exact 1-D Wasserstein-1 drift — :func:`wasserstein_1d`
    computed independently for every ``group_col`` value in ONE pass:
    the per-segment drift monitor (which region's price distribution
    moved?) the same way ``agg_kll_by_segment`` segments the quantile
    sketch.

    Because the group key joins every window's partitioning, the global
    block machinery of the ungrouped operator is unnecessary: the
    cumulative sums and successor lookups run in windows partitioned BY
    GROUP — embarrassingly parallel across segments, each segment's
    frame bounded by its own value domain.  (For a single monster
    segment, fall back to :func:`wasserstein_1d` on that segment's
    slice — same statistic, block-decomposed.)  Arithmetic is the same
    exact-integer DECIMAL(38,0) contract: ``value_col`` must be
    integral.  Returns one row per group present in EITHER side:
    ``(group, w1_stat, n_a, n_b)``; groups missing a side entirely
    yield NULL ``w1_stat`` (no distance between a distribution and
    nothing), with the counts still reported.
    """
    g = F.col(group_col)
    v = F.col(value_col)
    pooled = a.filter(v.isNotNull()).select(
        g.alias("_g"),
        v.cast("long").alias("_v"),
        F.lit(1).alias("_ca"),
        F.lit(0).alias("_cb"),
    ).unionAll(
        b.filter(v.isNotNull()).select(
            g.alias("_g"),
            v.cast("long").alias("_v"),
            F.lit(0).alias("_ca"),
            F.lit(1).alias("_cb"),
        )
    )
    cnts = pooled.groupBy("_g", "_v").agg(
        F.sum("_ca").alias("_na"), F.sum("_cb").alias("_nb")
    )
    w = Window.partitionBy("_g").orderBy("_v")
    cum = cnts.select(
        "_g",
        "_v",
        F.sum("_na")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cuma"),
        F.sum("_nb")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_cumb"),
        F.lead("_v").over(w).alias("_nextv"),
        F.sum("_na")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n_a"),
        F.sum("_nb")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_n_b"),
    )
    dec = "decimal(38,0)"
    term = F.when(
        F.col("_nextv").isNotNull(),
        F.abs(
            F.col("_cuma").cast(dec) * F.col("_n_b")
            - F.col("_cumb").cast(dec) * F.col("_n_a")
        )
        * (F.col("_nextv") - F.col("_v")).cast(dec),
    )
    return (
        cum.groupBy(F.col("_g").alias(group_col))
        .agg(
            F.round(
                F.try_divide(
                    # a group with ONE distinct pooled value has no gap
                    # terms but a well-defined W1 of 0 (all mass at the
                    # same point) — coalesce before the divide so only
                    # a missing SIDE (n=0 -> try_divide NULL) nulls out
                    F.coalesce(
                        F.sum(term), F.lit(0).cast("decimal(38,0)")
                    ).cast("double"),
                    F.first("_n_a").cast("double")
                    * F.first("_n_b").cast("double")
                    * F.lit(float(unit_scale)),
                ),
                6,
            ).alias("w1_stat"),
            F.first("_n_a").alias("n_a"),
            F.first("_n_b").alias("n_b"),
        )
    )


def mcnemar_paired_rules(
    df: DataFrame,
    rule_a: Column,
    rule_b: Column,
) -> DataFrame:
    """McNEMAR's test of PAIRED rule disagreement — the marginal-
    homogeneity member completing the association suite (chi²/V ask
    "are two columns independent"; McNemar asks the question a
    validator actually has when it ships rule v2 beside rule v1: on
    the SAME rows, are the disagreements symmetric — v1-only flips ≈
    v2-only flips — or does the new rule systematically flag a
    different population?).  Only the discordant cells carry
    information: ``X² = (b − c)²/(b + c)`` over b = only-A rows and
    c = only-B rows.

    Exactness contract: one conditional aggregation emits the 2×2
    table as exact longs and both statistics as exact truncating-div
    ppm integers — ``mcnemar_x2_ppm = ((b−c)²·10⁶) div (b+c)`` and
    the Edwards continuity-corrected ``mcnemar_cc_x2_ppm =
    ((|b−c|−1)²·10⁶) div (b+c)`` (0 when |b−c| ≤ 1, the standard
    clamp) — plus ``only_a_share_ppm``, the discordance asymmetry a
    dashboard actually plots.  No floats anywhere.

    Scale shape: ONE scan, ONE conditional aggregation, no shuffle
    beyond the final single-row reduce — the cheapest possible test.
    Rows where EITHER rule evaluates NULL are excluded (a rule that
    cannot evaluate casts no verdict); both statistics NULL when
    b + c = 0 (no disagreement — nothing to test).  Returns one row
    ``(n_rows, both, only_a, only_b, neither, mcnemar_x2_ppm,
    mcnemar_cc_x2_ppm, only_a_share_ppm)``.
    """
    a = rule_a
    b = rule_b
    ok = a.isNotNull() & b.isNotNull()
    agg = df.agg(
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_rows"),
        F.sum(F.when(ok & a & b, 1).otherwise(0))
        .cast("long")
        .alias("both"),
        F.sum(F.when(ok & a & ~b, 1).otherwise(0))
        .cast("long")
        .alias("only_a"),
        F.sum(F.when(ok & ~a & b, 1).otherwise(0))
        .cast("long")
        .alias("only_b"),
        F.sum(F.when(ok & ~a & ~b, 1).otherwise(0))
        .cast("long")
        .alias("neither"),
    )
    disc_sql = (
        "(CAST(only_a AS DECIMAL(38,0)) + only_b)"
    )
    diff_sql = "(CAST(only_a AS DECIMAL(38,0)) - only_b)"
    return agg.select(
        "n_rows",
        "both",
        "only_a",
        "only_b",
        "neither",
        F.expr(
            f"CASE WHEN {disc_sql} > 0 THEN "
            f"CAST(({diff_sql} * {diff_sql} * 1000000)"
            f" div {disc_sql} AS BIGINT) END"
        ).alias("mcnemar_x2_ppm"),
        F.expr(
            f"CASE WHEN {disc_sql} > 0 THEN "
            f"CASE WHEN abs({diff_sql}) <= 1 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(((abs({diff_sql}) - 1) * (abs({diff_sql}) - 1)"
            f" * 1000000) div {disc_sql} AS BIGINT) END END"
        ).alias("mcnemar_cc_x2_ppm"),
        F.expr(
            f"CASE WHEN {disc_sql} > 0 THEN "
            f"CAST((CAST(only_a AS DECIMAL(38,0)) * 1000000)"
            f" div {disc_sql} AS BIGINT) END"
        ).alias("only_a_share_ppm"),
    )
