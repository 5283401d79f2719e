"""Event-stream analytics: funnels, cohort retention, and time-series
anomaly detection over an append-only events table.

These are the monitoring queries a data-validation deployment runs ON its
own event log (validation outcomes, pipeline telemetry) as well as on the
product events it validates — the reference's summary counters
(`/root/reference/bigDataValidator/.../big_data_validator.py` keeps only
global violation tallies) generalize here to ordered multi-step funnels,
cohort matrices, and rolling-window anomaly flags.

Scale notes (100 TB events):

- Funnel stages join/aggregate ONLY on the user key — every Exchange in
  the chain hashes the same column, so co-partitioning is reused across
  stages and AQE coalesces the tiny later-stage sides.
- Cohort retention shuffles (user, period) pairs once, then joins the
  per-user cohort (a fraction of distinct users — broadcastable at most
  scales) back to the activity set.
- The anomaly detector's unpartitioned ORDER BY window runs over the
  per-period AGGREGATE (one row per day/hour) — thousands of rows at
  a decade of retention, a deliberate single-partition no-op, never over
  raw events.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_conversion(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strictly-ordered funnel: per user, the earliest completion time of
    each step given the previous step happened STRICTLY BEFORE it
    (classic view → click → purchase attribution).

    Returns one row per user who completed step 1, with nullable
    ``t_<step>`` timestamps for each later step and ``stages_completed``.
    Semantics are the standard iterated minimum:

        t1 = min ts(step1);  t_{i+1} = min ts(step_{i+1}) with ts > t_i

    Each stage is one aggregation + one join, ALL keyed on ``user_col``:
    the plan re-uses the same hash partitioning end-to-end and later
    stages shrink monotonically (only users still in the funnel
    survive), so the dominant cost is the single scan + first shuffle.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    stage = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias(f"t_{steps[0]}"))
    )
    out = stage
    prev_t = f"t_{steps[0]}"
    for s in steps[1:]:
        nxt = (
            events.filter(F.col(type_col) == s)
            .join(out.select(user_col, prev_t), user_col)
            .filter(F.col(ts_col) > F.col(prev_t))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{s}"))
        )
        out = out.join(nxt, user_col, "left")
        prev_t = f"t_{s}"
    completed = sum(
        F.when(F.col(f"t_{s}").isNotNull(), 1).otherwise(0) for s in steps
    )
    return out.withColumn("stages_completed", completed.cast("int"))


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the week
    (Monday-aligned) of their FIRST event; for each (cohort, offset)
    cell, how many of them were active.

    Returns ``(cohort_period, period_offset, active_users, cohort_size,
    retention_rate)`` — ``cohort_period`` formatted ``yyyy-MM-dd`` so the
    result is engine-portable, ``period_offset`` in whole weeks.

    Two aggregations: per-user first-activity (shuffle on user), then
    distinct (user, week) activity joined to the cohort assignment and
    rolled up to cells.  The cohort frame has one row per user — at
    extreme scale swap the equi-join for a broadcast of the per-cohort
    SIZES only and recompute the assignment expression on the activity
    side (same one-scan shape).
    """
    cohort = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).cast("date").alias("_cohort")
    )
    active = events.select(
        user_col,
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("_period"),
    ).distinct()
    sizes = cohort.groupBy("_cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        active.join(cohort, user_col)
        .groupBy(
            "_cohort",
            (F.datediff(F.col("_period"), F.col("_cohort")) / 7)
            .cast("int")
            .alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    return (
        cells.join(sizes, "_cohort")
        .select(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort_period"),
            "period_offset",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users") / F.col("cohort_size"), 6
            ).alias("retention_rate"),
        )
    )


_ZSCORE_TRAILING = 7
_Z_THRESHOLD = 2.0


def rolling_zscore_anomalies(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Volume anomaly detection: daily event counts flagged against a
    trailing-window z-score (the standard freshness/volume monitor a
    validation deployment runs on every feed).

    For each day: the count, the mean/stddev of the PRECEDING ``_ZSCORE_TRAILING``
    days (current day excluded — the monitored value must not contaminate
    its own baseline), the z-score, and ``is_anomaly``.  Days with fewer
    than 2 preceding observations (or zero variance) have a null z and
    are never flagged.

    One aggregation shuffles (day, partial count); the ordered window
    then runs over ONE ROW PER DAY — a bounded single-partition frame by
    construction (10 years ≈ 3.7k rows), which is why the global
    ``ORDER BY`` window is not the scale hazard it would be on raw rows.
    """
    daily = events.groupBy(
        F.col(ts_col).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("day").rowsBetween(-_ZSCORE_TRAILING, -1)
    base = daily.select(
        "day",
        "n",
        F.avg("n").over(w).alias("_mean"),
        F.stddev_samp("n").over(w).alias("_std"),
    )
    z = F.when(
        F.col("_std").isNotNull() & (F.col("_std") > 0),
        (F.col("n") - F.col("_mean")) / F.col("_std"),
    )
    return base.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.round("_mean", 6).alias("trailing_mean"),
        F.round("_std", 6).alias("trailing_std"),
        F.round(z, 6).alias("z_score"),
        F.coalesce(
            F.abs(z) > F.lit(_Z_THRESHOLD), F.lit(False)
        ).alias("is_anomaly"),
    )


_WEEKDAY_TRAILING = 4


def weekday_seasonal_anomalies(
    events: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Seasonality-aware volume anomaly detection: each day's event
    count z-scored against the trailing ``_WEEKDAY_TRAILING`` occurrences of the
    SAME WEEKDAY — the monitor for feeds with weekly rhythm, where the
    plain rolling z-score (:func:`rolling_zscore_anomalies`) either
    fires every weekend or misses a broken Sunday batch because Sundays
    are "always low".

    Baseline excludes the monitored day (same discipline as the rolling
    monitor and the metrics-repository trend rule).  Fewer than 2 prior
    same-weekday observations or zero variance → NULL z, never flagged.

    Scale: one aggregation reduces the feed to a row per day; the
    ordered window partitions by weekday over that per-day aggregate
    (7 partitions × #weeks — bounded by construction, never row data).
    ``dow`` is 1=Sunday…7=Saturday (Spark ``dayofweek``; oracles add 1
    to DuckDB's 0-based ``dayofweek``).
    """
    daily = events.groupBy(
        F.col(ts_col).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    dowed = daily.withColumn("dow", F.dayofweek("day"))
    w = (
        Window.partitionBy("dow")
        .orderBy("day")
        .rowsBetween(-_WEEKDAY_TRAILING, -1)
    )
    base = dowed.select(
        "day",
        "dow",
        "n",
        F.count("n").over(w).alias("_k"),
        F.avg("n").over(w).alias("_mean"),
        F.stddev_samp("n").over(w).alias("_std"),
    )
    z = F.when(
        (F.col("_k") >= 2)
        & F.col("_std").isNotNull()
        & (F.col("_std") > 0),
        (F.col("n") - F.col("_mean")) / F.col("_std"),
    )
    return base.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dow",
        "n",
        F.round("_mean", 6).alias("baseline_mean"),
        F.round("_std", 6).alias("baseline_std"),
        F.round(z, 4).alias("z_score"),
        F.coalesce(
            F.abs(z) > F.lit(_Z_THRESHOLD), F.lit(False)
        ).alias("is_anomaly"),
    )


def rolling_distinct_counts(
    events: DataFrame,
    entity_col: str,
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window DISTINCT entity counts per day (e.g. 7-day
    active users) — the sliding aggregate Spark's window functions
    cannot express (``COUNT(DISTINCT) OVER (RANGE …)`` is unsupported
    because distinctness doesn't decompose into a running frame).

    Device: bounded INTERVAL EXPLODE.  Dedupe to one row per
    ``(entity, day)``, then each such row contributes to the
    ``window_days`` report days it is visible from
    (``sequence(day, day + w−1)`` + explode), and a per-day
    ``count(DISTINCT entity)`` absorbs the multi-day entities.  Cost
    is ``window_days × |entity-days|`` shuffle rows — LINEAR in the
    data with a small constant, vs the quadratic day×day self-join
    the naive formulation needs; no global sort anywhere.  Report
    days are restricted to days that exist in the data (inner join
    against the observed-day set), matching the SQL oracle's
    formulation.

    Returns ``(day, distinct_entities)`` — ``day`` a date-truncated
    timestamp, the count BIGINT.
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    ed = events.select(F.col(entity_col).alias("_e"), day).distinct()
    observed = ed.select("day").distinct()
    contrib = ed.select(
        "_e",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr(f"INTERVAL {window_days - 1} DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    return (
        contrib.join(observed, "day")
        .groupBy("day")
        .agg(
            F.countDistinct("_e").cast("long").alias("distinct_entities")
        )
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered adjacent pair of events a user emits,
    count the ``src → dst`` transition and report its row-conditional
    probability ``P(dst | src)`` — the behavioral fingerprint that
    drift/anomaly monitors compare release-over-release (a checkout flow
    whose ``click → purchase`` probability halves overnight is broken
    even if every per-event count looks normal).

    One ``lead`` window partitioned by the user key (fully parallel —
    the per-user sequence is the unit of work, exactly the funnel's
    partitioning), then a groupBy on ``(src, dst)`` whose cardinality is
    |event types|² — a few dozen rows at any data scale, so the
    conditional-probability window over ``src`` is a no-op frame.
    Ordering inside a user is ``(ts, tiebreak)`` — the registry's
    deterministic tie-break convention.  Returns
    ``(src, dst, n_trans, p)`` with ``p`` rounded to 6.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    seq = events.select(
        F.col(type_col).alias("src"),
        F.lead(type_col).over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = seq.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    row = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n_trans",
        F.round(
            F.col("n_trans") / F.sum("n_trans").over(row), 6
        ).alias("p"),
    ).orderBy("src", "dst")


def survival_km(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimator over integer durations with
    right-censoring — the retention analyst's actual question ("what
    fraction of users survive past day t?") answered correctly when
    many users are still alive at observation time, where a naive
    churn-rate cut treats them as churned.

    ``S(t) = Π_{t_i ≤ t, d_i>0} (1 − d_i / n_i)`` with ``d_i`` observed
    deaths at duration ``t_i`` and ``n_i`` the at-risk count (everyone
    with duration ≥ t_i — censored subjects count as at risk through
    their own time, the standard convention).

    Scale shape: ONE aggregate collapses subjects to per-duration
    (deaths, totals) rows — the frame is then bounded by the duration
    span (days), so the reverse-cumulative at-risk window and the
    cumulative product both run over a deliberately tiny single
    partition, the rolling-anomaly family's pattern; never over raw
    subjects.  The product ships as ``exp(Σ ln(1−d/n))`` rounded to 6
    (the registry's float-log discipline); the ``d == n`` final step is
    handled exactly (survival 0 from that step on, no ``ln(0)``).
    Returns ``(t, n_at_risk, n_deaths, survival)`` for event steps
    (``d > 0``) only.
    """
    obs = F.col(observed_col)
    # A NULL duration has no position on the time axis — and Spark's
    # nulls-first ordering would otherwise seat it as the FIRST step
    # with the whole population at risk, poisoning every later survival
    # value through the cumulative product.  NULL observed flags count
    # as censored (the conservative reading).
    df = df.filter(F.col(duration_col).isNotNull())
    per_t = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.when(obs, 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("_all"),
    )
    w_rev = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    at_risk = per_t.withColumn("n", F.sum("_all").over(w_rev)).filter(
        F.col("d") > 0
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    term = F.when(
        F.col("d") < F.col("n"), F.log(1.0 - F.col("d") / F.col("n"))
    )
    dead_flag = F.max(
        F.when(F.col("d") >= F.col("n"), 1).otherwise(0)
    ).over(w_cum)
    return at_risk.select(
        "t",
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.when(dead_flag == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(term).over(w_cum)), 6))
        .alias("survival"),
    )


ATTRIBUTION_CONVERSION = "purchase"
ATTRIBUTION_HORIZON = 8


def removal_attribution(
    events: DataFrame,
    channels: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014): which
    channel actually DRIVES conversion?  Journeys are per-user event
    sequences truncated at the first ``ATTRIBUTION_CONVERSION``; a first-order
    chain with absorbing states ``ATTRIBUTION_CONVERSION`` (value 1) and END
    (value 0) gives the conversion probability from START; removing a
    channel (its inbound edges redirect to END, its outbound edges
    drop) and re-solving measures that channel's causal share —
    last-touch attribution's principled replacement.

    Absorption probabilities are computed at a FIXED ``ATTRIBUTION_HORIZON`` of
    value-iteration steps — ``p^(k)(s) = Σ_t T(s,t)·p^(k−1)(t)`` —
    not a matrix solve: the unrolled iteration is the same arithmetic
    on any engine (the text_bpe_learn oracle-unrolling device), and
    with a handful of states the truncation error after 8 steps is far
    below the round-6 quantum for chains that convert at these rates.

    Scale shape: ALL data-proportional work is ONE pass over events (a
    per-user window + an aggregate down to (src, dst) counts — at most
    (|channels|+2)² rows, a bounded sufficient statistic).  That tiny
    frame is collected and the scenarios × horizon value iteration
    runs driver-side (the Theil–Sen / FS-EM driver-loop regime:
    iterating 5 scenarios × 8 steps over ≤49 numbers as Spark jobs
    would serialize ~40 tiny stages for no distribution benefit — an
    earlier Spark-side loop measured 5-7 s of pure stage latency).
    Returns a local frame ``(channel, p_full, p_removed,
    removal_effect, attribution_share)`` rounded to 6, ordered by
    channel; degenerate chains (no conversion path, zero total effect)
    yield NULLs, matching SQL null-on-zero-division.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    seq = events.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_e"),
        F.row_number().over(w).alias("_pos"),
    )
    wp = Window.partitionBy("_u")
    j = (
        seq.withColumn(
            "_ppos",
            F.min(
                F.when(F.col("_e") == ATTRIBUTION_CONVERSION, F.col("_pos"))
            ).over(wp),
        )
        .filter(
            F.col("_ppos").isNull() | (F.col("_pos") <= F.col("_ppos"))
        )
        .select("_u", "_e", "_pos")
    )
    wj = Window.partitionBy("_u").orderBy("_pos")
    trans = j.select(
        "_u",
        "_pos",
        F.col("_e").alias("src"),
        F.lead("_e").over(wj).alias("dst"),
    )
    edges = (
        j.filter(F.col("_pos") == 1)
        .select(F.lit("START").alias("src"), F.col("_e").alias("dst"))
        .unionAll(
            trans.filter(F.col("dst").isNotNull()).select("src", "dst")
        )
        .unionAll(
            trans.filter(
                F.col("dst").isNull() & (F.col("src") != ATTRIBUTION_CONVERSION)
            ).select("src", F.lit("END").alias("dst"))
        )
    )
    counts = {
        (r["src"], r["dst"]): r["n"]
        for r in edges.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def absorption(removed) -> float | None:
        # redirect edges INTO the removed channel to END, drop edges
        # FROM it (row sums are preserved by the redirect)
        cells: dict = {}
        for (s, d), n in counts.items():
            if s == removed:
                continue
            d2 = "END" if d == removed else d
            cells[(s, d2)] = cells.get((s, d2), 0) + n
        row_tot: dict = {}
        for (s, _), n in cells.items():
            row_tot[s] = row_tot.get(s, 0) + n
        # fixed-horizon value iteration; deterministic summation order
        v = {ATTRIBUTION_CONVERSION: 1.0}
        for _ in range(ATTRIBUTION_HORIZON):
            nxt = {ATTRIBUTION_CONVERSION: 1.0}
            for s in sorted(row_tot):
                total = 0.0
                for d in sorted(v):
                    n = cells.get((s, d))
                    if n:
                        total += (n / row_tot[s]) * v[d]
                nxt[s] = total
            v = nxt
        return v.get("START", 0.0)

    p_full = absorption(None)
    removed_p = {c: absorption(c) for c in channels}
    effects = {
        c: (1.0 - p_rm / p_full if p_full and p_full > 0 else None)
        for c, p_rm in removed_p.items()
    }
    eff_sum = (
        sum(e for e in effects.values() if e is not None)
        if any(e is not None for e in effects.values())
        else None
    )
    rows = []
    for c in sorted(channels):
        e = effects[c]
        share = (
            round(e / eff_sum, 6)
            if e is not None and eff_sum
            else None
        )
        rows.append(
            (
                c,
                round(p_full, 6) if p_full is not None else None,
                round(removed_p[c], 6),
                round(e, 6) if e is not None else None,
                share,
            )
        )
    return events.sparkSession.createDataFrame(
        rows,
        "channel string, p_full double, p_removed double, "
        "removal_effect double, attribution_share double",
    )

