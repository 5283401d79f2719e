"""Time-series regularization: per-key resampling onto a gapless
calendar spine with forward fill — the "make the feed rectangular"
primitive every monitoring/training pipeline needs before windowed
models (a day with no events must be a ROW saying so, not an absence).

The reference validator has no temporal surface at all (its rules are
row-local; see ``reference/big_data_validator.py``) — this extends the
north-star events family (SURVEY.md §2).

Scale design
------------

- The spine is generated ROW-LOCALLY from a per-key (min_day, max_day)
  aggregate: ``sequence() + explode`` on the k-row bounds frame — never
  a cross join against a global calendar table, never driver-side date
  loops.  Spine size is Σ per-key span, the output's own size.
- One shuffle builds the per-(key, day) aggregate, one equi-join puts
  the spine against it (both sides hash on the same key — AQE plans a
  co-partitioned join), and the forward fill is a running
  ``last(ignorenulls)`` window PARTITIONED BY KEY — bounded by the
  key's span, no global ordering anywhere.
- Determinism: daily aggregation makes (key, day) unique, so the
  forward-filled value is unique regardless of row arrival order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_validator_spark.operators import pin
from big_data_validator_spark.operators.cdc import null_safe_semi_anti


def resample_ffill_daily(
    events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key daily resample of ``events`` with forward fill.

    Returns one row per key per calendar day between that key's first
    and last event day (inclusive):

    - ``n_events`` — events that day (0 on gap days),
    - ``day_value`` — the day's SUM of ``value_col`` (NULL on gaps),
    - ``filled_value`` — ``day_value`` forward-filled from the most
      recent non-gap day (never NULL: day 1 is a data day by
      construction of the per-key bounds),
    - ``is_gap`` — whether the day had no events.

    Rows with NULL key or NULL timestamp are excluded (a keyless or
    timeless event belongs to no series).
    """
    k = F.col(key_col)
    day = F.col(ts_col).cast("date").alias("day")
    daily = (
        events.filter(k.isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(k.alias(key_col), day)
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col(value_col)).alias("_v"),
        )
    )
    bounds = daily.groupBy(key_col).agg(
        F.min("day").alias("_mn"), F.max("day").alias("_mx")
    )
    spine = bounds.select(
        key_col,
        F.explode(
            F.expr("sequence(_mn, _mx, interval 1 day)")
        ).alias("day"),
    )
    joined = spine.join(daily, [key_col, "day"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        "day",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
        F.col("_v").alias("day_value"),
        F.last("_v", ignorenulls=True).over(w).alias("filled_value"),
        F.col("_n").isNull().alias("is_gap"),
    )


_VALUE_SCALE = 100


def time_weighted_daily_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str,
) -> DataFrame:
    """Per-key DAILY time-weighted average of an irregularly-sampled
    series (the TWAP every metering / pricing / sensor pipeline needs;
    a plain AVG over-weights bursts of samples): each observation's
    value holds from its timestamp until the next observation in the
    same (key, day), the last one until end-of-day, and the day's
    average weights each value by its holding time.

    Exactness discipline: the value is quantized to integer
    ``1/value_scale`` units via floor (engine-portable), holding times
    are exact integer MICROSECONDS, and the weighted sum ACCUMULATES in
    DECIMAL(38,0) — integer accumulation commutes, so the result is
    independent of row order and bit-identical in any engine (a double
    Σ v·w depends on reduction order and is NOT).  The quotient ships
    as ``twap_e{4}`` = ``(100·num) div den`` integer units plus the
    exact num/den pair, so consumers pick their own precision.

    Output-type discipline: the numerator SHIPS as BIGINT ``num_qus``
    (the DECIMAL(38,0) stays internal) — wide-decimal output columns
    are not canonicalized identically by every consumer's
    materialization layer (decimal128 → float64/object divergence
    broke the round-7 driver value-hash), while BIGINT is.  The range
    is safe by construction: per (key, day) the holding times sum to
    at most one day (86_400e6 µs), so |num| ≤ max|vq| · 8.64e10 —
    ~8.6e16 even at vq ~ 1e6 — and a ``raise_error`` guard fires
    loudly if an extreme ``_VALUE_SCALE``/value range ever pushes the
    exact numerator past 2⁶³.

    One shuffle on (key, day) shared by the lead window and the
    aggregation.  Rows with NULL value are excluded (they hold
    nothing).
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    w = Window.partitionBy(key_col, "day").orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col),
            day,
            F.col(ts_col),
            F.col(order_tiebreak),
            F.floor(F.col(value_col) * F.lit(float(_VALUE_SCALE)))
            .cast("long")
            .alias("_vq"),
        )
    )
    day_end = F.to_timestamp(F.date_add(F.col("day"), 1))
    hold_us = F.unix_micros(
        F.coalesce(F.lead(ts_col).over(w), day_end)
    ) - F.unix_micros(F.col(ts_col))
    weighted = base.select(
        key_col,
        "day",
        (F.col("_vq").cast("decimal(38,0)") * hold_us.cast("decimal(38,0)"))
        .alias("_num"),
        hold_us.alias("_w"),
    )
    agg = weighted.groupBy(key_col, "day").agg(
        F.sum("_num").cast("decimal(38,0)").alias("_num_dec"),
        F.sum("_w").cast("long").alias("den_us"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
    )
    long_max = F.lit("9223372036854775807").cast("decimal(38,0)")
    num_guarded = F.when(
        F.abs(F.col("_num_dec")) > long_max,
        F.raise_error(
            F.lit(
                "time_weighted_daily_avg: exact numerator overflows "
                "BIGINT; lower value_scale or shard the day"
            )
        ).cast("decimal(38,0)"),
    ).otherwise(F.col("_num_dec"))
    return agg.select(
        key_col,
        "day",
        "n_obs",
        num_guarded.cast("long").alias("num_qus"),
        "den_us",
        F.expr("CAST((100 * _num_dec) div den_us AS BIGINT)").alias(
            "twap_e4"
        ),
    )


def cascade_rollup_refresh(
    base_new: DataFrame,
    hourly_old: DataFrame,
    daily_old: DataFrame,
    late: DataFrame,
    ts_col: str,
    key_cols: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
) -> tuple[DataFrame, DataFrame]:
    """Continuous-aggregate CASCADE refresh (the hypertable-rollup
    shape): a raw event stream maintains an hourly materialized
    rollup, and the DAILY rollup is maintained FROM the hourly one —
    late-arriving rows dirty only their own buckets, and dirtiness
    propagates up the cascade instead of triggering any full
    recompute.

    - ``dirty hours``  = distinct ``(hour_bucket, key…)`` groups of the
      LATE rows — change-rate-sized;
    - hourly refresh   = untouched hourly groups pass through via LEFT
      ANTI join (their stored rows are provably current: no late row
      mentioned them), dirty groups recompute from ``base_new``
      restricted by a LEFT SEMI join (at 100 TB the base is
      partitioned by event date, so the semi join prunes to the dirty
      buckets' partitions — cold history is never re-read);
    - ``dirty days``   = the dirty hours' days;
    - daily refresh    = untouched daily groups pass through; dirty
      days re-aggregate FROM THE REFRESHED HOURLY LAYER (count-sum +
      sum-sum are distributive), so the raw table is touched exactly
      once per refresh no matter how many rollup resolutions stack.

    ``hourly_old`` / ``daily_old`` carry ``(bucket, key…, count_col,
    sum_cols…)`` with an ``hour``/``day`` timestamp-truncated bucket
    column; all value columns must be integral (BIGINT) per the repo's
    exact-arithmetic discipline.  Returns the refreshed
    ``(hourly_new, daily_new)`` — each equal to a full recompute, a
    fact the oracle-checked registry entry pins.
    """
    keys = list(key_cols)
    sums = list(sum_cols)
    hour_of = F.date_trunc("hour", F.col(ts_col)).alias("hour")
    # Both dirty relations are consumed twice (semi + anti legs) and
    # are change-rate-sized; caching them keeps the late scan single
    # and the two legs co-consistent.
    dirty_hours = pin(late.select(hour_of, *keys).distinct())
    hourly_aggs = [F.count(F.lit(1)).cast("long").alias(count_col)] + [
        F.sum(c).cast("long").alias(c) for c in sums
    ]
    # Dirty-group matching is eqNullSafe on every leg (ADVICE r8): a
    # NULL key — or a NULL ts, whose date_trunc is a NULL bucket — is a
    # real group, and the name-based `==` semi/anti pair would both
    # skip its recompute AND keep its stale rollup row.
    recomputed_h = (
        null_safe_semi_anti(
            base_new.select(hour_of, *keys, *sums),
            dirty_hours,
            ["hour", *keys],
            "left_semi",
        )
        .groupBy("hour", *keys)
        .agg(*hourly_aggs)
    )
    untouched_h = null_safe_semi_anti(
        hourly_old, dirty_hours, ["hour", *keys], "left_anti"
    ).select("hour", *keys, count_col, *sums)
    hourly_new = untouched_h.unionByName(recomputed_h)

    dirty_days = pin(dirty_hours.select(
        F.date_trunc("day", F.col("hour")).alias("day"), *keys
    ).distinct())
    daily_aggs = [F.sum(count_col).cast("long").alias(count_col)] + [
        F.sum(c).cast("long").alias(c) for c in sums
    ]
    recomputed_d = (
        null_safe_semi_anti(
            hourly_new.select(
                F.date_trunc("day", F.col("hour")).alias("day"),
                *keys,
                count_col,
                *sums,
            ),
            dirty_days,
            ["day", *keys],
            "left_semi",
        )
        .groupBy("day", *keys)
        .agg(*daily_aggs)
    )
    untouched_d = null_safe_semi_anti(
        daily_old, dirty_days, ["day", *keys], "left_anti"
    ).select("day", *keys, count_col, *sums)
    daily_new = untouched_d.unionByName(recomputed_d)
    return hourly_new, daily_new


def theilsen_trend(
    daily: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    scale: int = 1_000_000,
) -> DataFrame:
    """Theil–Sen ROBUST trend over a daily series — the 29%-breakdown
    slope estimator metric monitors want where least squares follows a
    single outlier day: the median of all pairwise slopes
    ``(y_j − y_i) / (x_j − x_i)``, plus the matching median-residual
    intercept (Sen 1968).

    Exactness contract: inputs are INTEGERS (epoch-day x, integer-unit
    y); each pairwise slope is the exact rational ``(num, den)`` with
    ``den > 0``, ordered by the engine-portable composite key
    ``(CAST(num AS DOUBLE)/den, num, den)`` — one correctly-rounded
    IEEE division as the primary key (identical in any engine), the
    exact integers as tie-breaks, so both engines sort identically
    even where two distinct rationals round to the same double.  The
    median is the LOWER median (element ``(n+1) div 2``, 1-based) —
    no averaging, no floats shipped: the slope ships as
    ``num * scale div den`` (truncating integer division) and the
    intercept as the lower median of the integer residuals
    ``y_i * scale − slope_scaled * x_i``.

    Scale: the pair self-join is over the DAILY aggregate — its size
    grows with the time span, not the data volume (10× rows/day = the
    same days), so the pair stage is constant across data scale-ups
    and the cost is dominated by the daily aggregation scan.  SLOPE
    median selection is the two-pass distributed device
    (equidepth_histogram's): per-block counts over ≤4096 value blocks
    (a bounded driver histogram), then the k-th element selected
    INSIDE the one straddling block — TakeOrdered only ever sees one
    block's rows (~n_pairs/4096), never k ≈ n_pairs/2 rows in a single
    task, so a decade-long daily series (n_pairs ≈ 6.6M) selects its
    median without materializing 3.3M rows on one node.  The residual
    median is over n_days rows (one per day) — TakeOrdered is exact
    and bounded there by construction.

    Returns one row: ``(n_days, n_pairs, slope_scaled, intercept_scaled,
    scale)``.
    """
    # d feeds four consumers (count, both pair-join legs, residuals)
    # and slopes feeds three (min/max stats, block histogram, in-block
    # selection) — persist each once; before this the daily aggregation
    # re-ran per consumer and the O(days²) pair join was computed TWICE
    # (once for the stats pass, once to fill the old `blocked` cache).
    d = pin(daily.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ))
    a = d.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("xa") < F.col("xb")).select(
        (F.col("yb") - F.col("ya")).alias("num"),
        (F.col("xb") - F.col("xa")).alias("den"),
    )
    slopes = pin(pairs.select(
        "num",
        "den",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "_qd"
        ),
    ))
    # ONE action over the tiny daily frame yields the day count AND the
    # slope-range bound: day gaps are integers >= 1, so every pair slope
    # satisfies |num/den| <= max(y) - min(y).  The old code instead ran
    # a min/max pass over the O(days^2) slope frame just to size the
    # selection blocks — but the block device is exact under ANY
    # monotone quantization (docstring contract, pinned in tests), so a
    # bound from the daily stats removes one full pass over the pair
    # join (r14, guide §1.2 — don't compute what a bound already gives).
    st = d.agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("y").alias("_ymin"),
        F.max("y").alias("_ymax"),
    ).first()
    n_days = int(st["_n"])
    n_pairs = n_days * (n_days - 1) // 2
    if n_pairs == 0:
        raise ValueError("need at least two distinct days")
    k = (n_pairs + 1) // 2
    # Two-pass distributed k-th selection on the composite order
    # (_qd, num, den): block on _qd (any monotone quantization keeps
    # the composite order block-aligned — equal keys share a block),
    # collect the <=4096-row block histogram, then TakeOrdered only
    # within the straddling block.
    span = float(st["_ymax"] - st["_ymin"])
    if span == 0.0:
        blk = F.lit(0)
    else:
        blk = F.least(
            F.floor((F.col("_qd") + F.lit(span)) / F.lit(2 * span / 4096)),
            F.lit(4095),
        ).cast("int")
    # blk is a cheap derived column over the cached slopes — no second
    # cache of the same pair rows
    blocked = slopes.withColumn("_blk", blk)
    hist = blocked.groupBy("_blk").count().orderBy("_blk").collect()
    before = 0
    target = None
    for r in hist:
        if before + r["count"] >= k:
            target = r["_blk"]
            break
        before += r["count"]
    med = (
        blocked.filter(F.col("_blk") == target)
        .orderBy("_qd", "num", "den")
        .limit(k - before)
        .orderBy(
            F.col("_qd").desc(), F.col("num").desc(), F.col("den").desc()
        )
        .limit(1)
        .collect()[0]
    )
    num, den = int(med["num"]), int(med["den"])
    # truncating div matching Spark `div` / DuckDB BIGINT `//`
    q = abs(num * scale) // abs(den)
    slope_scaled = q if (num >= 0) == (den >= 0) else -q
    res = d.select(
        (F.col("y") * F.lit(scale) - F.lit(slope_scaled) * F.col("x"))
        .cast("long")
        .alias("r")
    )
    kr = (n_days + 1) // 2
    med_r = (
        res.orderBy("r")
        .limit(kr)
        .orderBy(F.col("r").desc())
        .limit(1)
        .collect()[0]["r"]
    )
    spark = daily.sparkSession
    return spark.createDataFrame(
        [(n_days, n_pairs, slope_scaled, int(med_r), scale)],
        "n_days long, n_pairs long, slope_scaled long, "
        "intercept_scaled long, scale long",
    )


def cusum_changepoint(
    df: DataFrame,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Exact-integer CUSUM changepoint detection on a daily series —
    the classic "did the level shift, and when" monitor (Page 1954;
    the mean-shift statistic binary segmentation maximizes): aggregate
    ``value_col`` per day in cents, then over the ordered daily series
    compute the centered cumulative sum

        ``D_t = n·prefix_t − t·total``  (t = 1 … n−1)

    — an exact DECIMAL(38,0) integer, n·(prefix_t − t·mean) without
    the division — and report the day maximizing ``|D_t|`` (ties to
    the earliest day): the maximum-likelihood single changepoint for a
    mean shift.  ``cusum_ppm = (|D|·10⁶) div (n·total)`` normalizes to
    an engine-portable integer in [0, 10⁶] (0 when total is 0), and
    the truncating-div before/after mean cents make the shift
    magnitude readable.

    Scale shape: ONE data shuffle (the per-day partial agg — cents sum
    via round(sum·scale), exact for cent-quantized inputs below 2⁵³);
    the prefix/rank windows and the TakeOrdered(1) argmax run on the
    daily frame, which is bounded by the calendar (thousands of rows),
    so the deliberately global window is a non-issue at any corpus
    size.  Returns one row ``(split_date, t_index, n_days, cusum_ppm,
    mean_before_cents, mean_after_cents)``; a series with <2 days
    returns zero rows (no interior split exists).
    """
    daily = (
        df.groupBy(F.col(date_col).cast("date").alias("d"))
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_v")
        )
    )
    w = Window.orderBy("d")
    tot = Window.partitionBy()
    scored = (
        daily.select(
            "d",
            F.row_number().over(w).cast("long").alias("_t"),
            F.sum("_v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("_pfx"),
            F.count(F.lit(1)).over(tot).cast("long").alias("_n"),
            F.sum("_v").over(tot).alias("_total"),
        )
        .filter(F.col("_t") < F.col("_n"))
        .select(
            "d",
            "_t",
            "_n",
            "_pfx",
            "_total",
            F.expr(
                "abs(CAST(_n AS DECIMAL(38,0)) * _pfx"
                " - CAST(_t AS DECIMAL(38,0)) * _total)"
            ).alias("_absd"),
        )
    )
    return (
        scored.orderBy(F.col("_absd").desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.col("d").alias("split_date"),
            F.col("_t").alias("t_index"),
            F.col("_n").alias("n_days"),
            F.when(F.col("_total") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(_absd * 1000000) div"
                    " (CAST(_n AS DECIMAL(38,0)) * abs(_total))"
                )
            )
            .alias("cusum_ppm"),
            F.expr("CAST(_pfx div CAST(_t AS DECIMAL(38,0)) AS BIGINT)")
            .alias("mean_before_cents"),
            F.expr(
                "CAST((_total - _pfx) div CAST(_n - _t AS DECIMAL(38,0))"
                " AS BIGINT)"
            ).alias("mean_after_cents"),
        )
    )


def binseg_changepoints(
    df: DataFrame,
    date_col: str,
    value_col: str,
    depth: int = 2,
) -> DataFrame:
    """Exact-integer BINARY SEGMENTATION over the CUSUM statistic —
    the multi-changepoint extension of :func:`cusum_changepoint`
    (Scott & Knott 1974; the standard recursive scheme): find the
    maximum-|D_t| split of the whole daily series, cut, then find the
    best split WITHIN each resulting segment, to ``depth`` levels
    (depth 2 → up to 3 changepoints).  A regime that shifted twice
    hides the second move from the single-split monitor — the level-1
    argmax lands between the shifts and averages them away; the
    recursion recovers both.

    Every level reuses the single-split integer contract on the
    SEGMENT-LOCAL series: ``D_t = n_seg·prefix − t·total_seg`` in
    DECIMAL(38,0), argmax ties to the earliest day, ``cusum_ppm =
    (|D|·10⁶) div (n_seg·|total_seg|)`` (0 when the segment total is
    0), truncating-div before/after mean cents.  ``t_index`` / ``n_days``
    are segment-local; ``seg_start`` names the segment so levels are
    self-describing.  A segment with <2 days yields no row, so the
    output has ≤ 2^depth − 1 rows, ordered (level, split_date).

    Scale shape: ONE data shuffle (the per-day cents agg), pinned
    because every level's lineage re-reads it.  All segmentation
    runs on the calendar-bounded daily frame: per-segment windows
    (partitioned by segment id — never wider than the level-0 global
    window the calendar already bounds), a per-level broadcast join of
    the ≤2^level-row split frame, and NO driver collect anywhere — the
    split frame stays a lazy 1–2^level-row DataFrame.  ``depth`` is
    guarded ≤4 to bound plan growth (each level appends one window
    stack + one broadcast join to the plan).
    """
    if depth < 1 or depth > 4:
        raise ValueError(f"depth must be in [1, 4], got {depth}")
    daily = pin(
        df.groupBy(F.col(date_col).cast("date").alias("d"))
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_v")
        )
    )
    tagged = daily.withColumn("_seg", F.lit(0).cast("long"))
    level_bests: list[DataFrame] = []
    for level in range(1, depth + 1):
        w = Window.partitionBy("_seg").orderBy("d")
        seg = Window.partitionBy("_seg")
        scored = (
            tagged.select(
                "_seg",
                "d",
                F.row_number().over(w).cast("long").alias("_t"),
                F.sum("_v")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("_pfx"),
                F.count(F.lit(1)).over(seg).cast("long").alias("_n"),
                F.sum("_v").over(seg).alias("_total"),
                F.min("d").over(seg).alias("_seg_start"),
            )
            .filter(F.col("_t") < F.col("_n"))
            .withColumn(
                "_absd",
                F.expr(
                    "abs(CAST(_n AS DECIMAL(38,0)) * _pfx"
                    " - CAST(_t AS DECIMAL(38,0)) * _total)"
                ),
            )
        )
        rk = Window.partitionBy("_seg").orderBy(
            F.col("_absd").desc(), F.col("d").asc()
        )
        best = (
            scored.withColumn("_rk", F.row_number().over(rk))
            .filter(F.col("_rk") == 1)
            .select(
                F.lit(level).alias("level"),
                "_seg",
                F.col("_seg_start").alias("seg_start"),
                F.col("d").alias("split_date"),
                F.col("_t").alias("t_index"),
                F.col("_n").alias("n_days"),
                F.when(F.col("_total") == 0, F.lit(0).cast("long"))
                .otherwise(
                    F.expr(
                        "(_absd * 1000000) div"
                        " (CAST(_n AS DECIMAL(38,0)) * abs(_total))"
                    )
                )
                .alias("cusum_ppm"),
                F.expr(
                    "CAST(_pfx div CAST(_t AS DECIMAL(38,0)) AS BIGINT)"
                ).alias("mean_before_cents"),
                F.expr(
                    "CAST((_total - _pfx) div"
                    " CAST(_n - _t AS DECIMAL(38,0)) AS BIGINT)"
                ).alias("mean_after_cents"),
            )
        )
        level_bests.append(best)
        if level < depth:
            cuts = best.select("_seg", F.col("split_date").alias("_cut"))
            tagged = (
                tagged.join(F.broadcast(cuts), "_seg", "left")
                .withColumn(
                    "_seg",
                    F.col("_seg") * 2
                    + F.when(
                        F.col("_cut").isNotNull()
                        & (F.col("d") > F.col("_cut")),
                        F.lit(1),
                    ).otherwise(F.lit(0)),
                )
                .drop("_cut")
            )
    out = level_bests[0]
    for b in level_bests[1:]:
        out = out.unionAll(b)
    return out.drop("_seg").orderBy("level", "split_date")


def acf_daily(
    df: DataFrame,
    date_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """EXACT lag-1..max_lag autocorrelation of a daily series — the
    serial-dependence/seasonality member completing the timeseries
    family (Theil–Sen answers "is there a trend", CUSUM/binseg "did
    the level shift"; ACF answers "does the series repeat", e.g. a
    weekly cycle shows as a lag-7 peak).

    Exactness device: with integer cents v_t, n·(v_t − mean) =
    n·v_t − S =: c_t is a pure integer, and the n² factors cancel in
    the standard estimator, so

        ``r_k = Σ_{t≤n−k} c_t·c_{t+k}  /  Σ_t c_t²``

    is a ratio of two exact DECIMAL(38,0) integers (≈ n³·v² ≤ 10³⁶
    even at 10¹⁰ input rows) — the only float is the final quotient of
    exact integers (IEEE-identical across engines), rounded 6.  This
    is the biased (denominator-n) estimator every textbook ACF plot
    uses; lags are INDEX-based on the daily-aggregated series (run
    :func:`resample_ffill_daily` first for calendar-strict gaps).

    Scale shape: ONE data shuffle (the per-day cents agg); the index,
    the max_lag lead columns (one window pass) and the per-lag sums
    all run on the calendar-bounded daily frame — the deliberately
    global window is a non-issue at any corpus size.  Returns one row
    per lag 1..max_lag ``(lag, n_days, acf)``; ``acf`` is NULL for a
    constant series (zero variance) or when the series is shorter
    than the lag; an empty series returns zero rows.  ``max_lag``
    guarded to [1, 60].
    """
    if max_lag < 1 or max_lag > 60:
        raise ValueError(f"max_lag must be in [1, 60], got {max_lag}")
    daily = (
        df.groupBy(F.col(date_col).cast("date").alias("d"))
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_v")
        )
    )
    w = Window.orderBy("d")
    tot = Window.partitionBy()
    c = daily.select(
        F.row_number().over(w).cast("long").alias("_t"),
        F.count(F.lit(1)).over(tot).cast("long").alias("_n"),
        F.expr(
            "CAST(COUNT(*) OVER () AS DECIMAL(38,0)) * _v"
            " - SUM(_v) OVER ()"
        ).alias("_c"),
    )
    wl = Window.orderBy("_t")
    leads = c.select(
        "_n",
        "_c",
        *[
            F.lead("_c", k).over(wl).alias(f"_l{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    pairs = ", ".join(
        [f"0, _c * _c"]
        + [f"{k}, _c * _l{k}" for k in range(1, max_lag + 1)]
    )
    stacked = leads.select(
        "_n",
        F.expr(
            f"stack({max_lag + 1}, {pairs}) AS (lag, prod)"
        ),
    )
    g = stacked.groupBy("lag").agg(
        F.sum("prod").alias("_num"), F.max("_n").alias("_nd")
    )
    dw = Window.partitionBy()
    return (
        g.withColumn(
            "_den",
            F.max(F.when(F.col("lag") == 0, F.col("_num"))).over(dw),
        )
        .filter(F.col("lag") >= 1)
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("_nd").alias("n_days"),
            F.when(
                F.col("_den") > 0,
                F.round(
                    F.col("_num").cast("double")
                    / F.col("_den").cast("double"),
                    6,
                ),
            ).alias("acf"),
        )
        .orderBy("lag")
    )


def pettitt_changepoint(
    df: DataFrame,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Exact-integer PETTITT rank-based changepoint test on a daily
    series (Pettitt 1979) — the nonparametric companion to
    :func:`cusum_changepoint`: CUSUM maximizes the MEAN-shift
    likelihood and is dragged by outliers; Pettitt maximizes the
    Mann-Whitney statistic over every split point, so a single wild
    day cannot fake (or hide) a level shift.

    Exactness device: with doubled midranks ``m_i = 2·rank_i +
    ties_i − 1`` (an integer even under ties, the
    :func:`~.relational.mannwhitney_u` device) the Pettitt statistic

        ``U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j)
              = Σ_{i≤t} m_i − t·(n+1)``

    is a pure integer — the classic rank-sum identity, tie terms
    contributing exactly 0 — and the reported split is ``argmax_t
    |U_t|`` (ties to the earliest day).  ``pettitt_ppm = (|U|·10⁶)
    div (t·(n−t))`` normalizes by the split's own ceiling (every
    cross-split pair concordant), so 10⁶ means a perfectly separated
    shift at any series length.

    Scale shape: ONE data shuffle (the per-day cents agg); the value
    rank window, the time-ordered prefix window and the
    TakeOrdered(1) argmax all run on the calendar-bounded daily frame
    (thousands of rows), so the deliberately global windows are a
    non-issue at any corpus size.  Returns one row ``(split_date,
    t_index, n_days, u_stat, pettitt_ppm)``; a series with <2 days
    returns zero rows (no interior split exists).
    """
    daily = (
        df.groupBy(F.col(date_col).cast("date").alias("d"))
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_v")
        )
    )
    wv = Window.orderBy("_v")
    wties = Window.partitionBy("_v")
    ranked = daily.select(
        "d",
        (
            F.lit(2) * F.rank().over(wv)
            + F.count(F.lit(1)).over(wties)
            - F.lit(1)
        )
        .cast("decimal(38,0)")
        .alias("_m"),
    )
    wt = Window.orderBy("d")
    tot = Window.partitionBy()
    scored = (
        ranked.select(
            "d",
            F.row_number().over(wt).cast("long").alias("_t"),
            F.count(F.lit(1)).over(tot).cast("long").alias("_n"),
            F.sum("_m")
            .over(wt.rowsBetween(Window.unboundedPreceding, 0))
            .alias("_pm"),
        )
        .filter(F.col("_t") < F.col("_n"))
        .select(
            "d",
            "_t",
            "_n",
            F.expr(
                "_pm - CAST(_t AS DECIMAL(38,0)) * (_n + 1)"
            ).alias("_u"),
        )
    )
    return (
        scored.orderBy(F.abs(F.col("_u")).desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.col("d").alias("split_date"),
            F.col("_t").alias("t_index"),
            F.col("_n").alias("n_days"),
            F.col("_u").cast("long").alias("u_stat"),
            F.expr(
                "CAST((abs(_u) * 1000000)"
                " div (CAST(_t AS DECIMAL(38,0)) * (_n - _t)) AS BIGINT)"
            ).alias("pettitt_ppm"),
        )
    )


def runs_test_daily(
    df: DataFrame,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Exact-integer WALD-WOLFOWITZ runs test on the day-over-day
    deltas of a daily series — the randomness monitor completing the
    family's question set (Theil-Sen: "is there a trend"; CUSUM /
    binseg / Pettitt: "did the level shift"; ACF: "does it repeat";
    runs: "are the moves even independent").  A feed whose up/down
    moves cluster (too FEW runs) is autocorrelated or regime-driven;
    one that alternates like clockwork (too MANY runs) is seasonal or
    synthetic.

    Device: sign of each day's delta (zeros DROPPED, the standard
    treatment), then ``runs = 1 + Σ[s_t ≠ s_{t−1}]`` over the
    surviving sign sequence — both windows on the calendar-bounded
    daily frame.  Everything emitted is an exact integer:
    ``(n_signs, n_plus, n_minus, runs, expected_runs_milli)`` where
    ``expected_runs_milli = 1000 + (2000·n₊·n₋) div (n₊+n₋)`` is the
    null expectation E[R] = 1 + 2n₊n₋/n in milli-runs (truncating
    div, engine-portable) — compare observed vs expected without a
    single float.  Scale shape: ONE data shuffle (the per-day cents
    agg).  A series with <2 days (or all-zero deltas) returns the
    row with ``n_signs = 0`` and NULL expectation.
    """
    daily = (
        df.groupBy(F.col(date_col).cast("date").alias("d"))
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_v")
        )
    )
    wt = Window.orderBy("d")
    signs = (
        daily.select(
            "d",
            F.signum(
                (F.col("_v") - F.lag("_v", 1).over(wt)).cast("double")
            )
            .cast("int")
            .alias("_s"),
        )
        .filter(F.col("_s").isNotNull() & (F.col("_s") != 0))
    )
    flips = signs.select(
        "_s",
        F.when(
            F.lag("_s", 1).over(Window.orderBy("d")).isNull()
            | (F.lag("_s", 1).over(Window.orderBy("d")) == F.col("_s")),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("_flip"),
    )
    return flips.agg(
        F.count(F.lit(1)).cast("long").alias("n_signs"),
        F.coalesce(
            F.sum(F.when(F.col("_s") > 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_plus"),
        F.coalesce(
            F.sum(F.when(F.col("_s") < 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_minus"),
        F.when(F.count(F.lit(1)) == 0, F.lit(None).cast("long"))
        .otherwise(F.lit(1) + F.sum("_flip"))
        .cast("long")
        .alias("runs"),
    ).select(
        "n_signs",
        "n_plus",
        "n_minus",
        "runs",
        F.when(
            F.col("n_signs") > 0,
            F.expr(
                "CAST((2000 * CAST(n_plus AS DECIMAL(38,0)) * n_minus)"
                " div (n_plus + n_minus) + 1000 AS BIGINT)"
            ),
        ).alias("expected_runs_milli"),
    )


def xcorr_daily(
    df_a: DataFrame,
    date_a: str,
    value_a: str,
    df_b: DataFrame,
    date_b: str,
    value_b: str,
    max_lag: int = 7,
    scale_b: int = 100,
) -> DataFrame:
    """EXACT lagged CROSS-correlation of two daily series — the
    lead/lag detector extending :func:`acf_daily` to pairs of feeds:
    which series MOVES FIRST (orders lead shipments by the fulfilment
    delay; a metric that tracks another with a lag is derived, not
    independent).  Positive ``lag`` k means "series A at day t vs
    series B at day t+k" (A leads); negative k mirrors (B leads);
    lag 0 is the contemporaneous correlation.

    Exactness device: both series aggregate to integer units per day,
    align on their COMMON days (inner join on the date — a day absent
    from either feed contributes to no lag), and with ``cx_t = n·x_t −
    Sx`` / ``cy_t = n·y_t − Sy`` (pure integers; centering recomputed
    on the joined set) every numerator ``Σ cx_t·cy_{t+k}`` and both
    denominator sums are exact DECIMAL(38,0); the only floats are the
    two square roots and the final quotient (round-6,
    IEEE-identical).  Lags are INDEX-based on the joined ordered
    series (run :func:`resample_ffill_daily` first for
    calendar-strict gaps).

    Scale shape: TWO data shuffles (one per-day agg per input); the
    date join, the 2·max_lag+1 lead columns (one window pass) and the
    per-lag sums all run on the calendar-bounded joined frame.
    Returns one row per lag −max_lag..max_lag ``(lag, n_days,
    xcorr)``; ``xcorr`` is NULL when either series is constant on the
    common days or shorter than the |lag|; no common days returns
    zero rows.  ``max_lag`` guarded to [1, 60].
    """
    if max_lag < 1 or max_lag > 60:
        raise ValueError(f"max_lag must be in [1, 60], got {max_lag}")

    def daily(df: DataFrame, dcol: str, vcol: str, scale: int, out: str):
        return (
            df.groupBy(F.col(dcol).cast("date").alias("d"))
            .agg(
                F.round(F.sum(vcol) * scale)
                .cast("decimal(38,0)")
                .alias(out)
            )
        )

    joined = daily(df_a, date_a, value_a, _VALUE_SCALE, "_x").join(
        daily(df_b, date_b, value_b, scale_b, "_y"), "d"
    )
    w = Window.orderBy("d")
    tot = Window.partitionBy()
    c = joined.select(
        F.row_number().over(w).cast("long").alias("_t"),
        F.count(F.lit(1)).over(tot).cast("long").alias("_n"),
        F.expr(
            "CAST(COUNT(*) OVER () AS DECIMAL(38,0)) * _x"
            " - SUM(_x) OVER ()"
        ).alias("_cx"),
        F.expr(
            "CAST(COUNT(*) OVER () AS DECIMAL(38,0)) * _y"
            " - SUM(_y) OVER ()"
        ).alias("_cy"),
    )
    wl = Window.orderBy("_t")
    leads = c.select(
        "_n",
        "_cx",
        "_cy",
        *[
            F.lead("_cy", k).over(wl).alias(f"_ly{k}")
            for k in range(1, max_lag + 1)
        ],
        *[
            F.lead("_cx", k).over(wl).alias(f"_lx{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    pairs = ", ".join(
        [f"{k}, _cx * _ly{k}" for k in range(1, max_lag + 1)]
        + [f"-{k}, _cy * _lx{k}" for k in range(1, max_lag + 1)]
        + ["0, _cx * _cy"]
        + [f"{max_lag + 1}, _cx * _cx", f"{max_lag + 2}, _cy * _cy"]
    )
    n_rows = 2 * max_lag + 3
    stacked = leads.select(
        "_n", F.expr(f"stack({n_rows}, {pairs}) AS (lag, prod)")
    )
    g = stacked.groupBy("lag").agg(
        F.sum("prod").alias("_num"), F.max("_n").alias("_nd")
    )
    dw = Window.partitionBy()
    return (
        g.withColumn(
            "_dx",
            F.max(
                F.when(F.col("lag") == max_lag + 1, F.col("_num"))
            ).over(dw),
        )
        .withColumn(
            "_dy",
            F.max(
                F.when(F.col("lag") == max_lag + 2, F.col("_num"))
            ).over(dw),
        )
        .filter(F.col("lag").between(-max_lag, max_lag))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("_nd").alias("n_days"),
            F.when(
                (F.col("_dx") > 0) & (F.col("_dy") > 0),
                F.round(
                    F.col("_num").cast("double")
                    / (
                        F.sqrt(F.col("_dx").cast("double"))
                        * F.sqrt(F.col("_dy").cast("double"))
                    ),
                    6,
                ),
            ).alias("xcorr"),
        )
        .orderBy("lag")
    )


def mann_kendall_trend(
    df: DataFrame,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Exact-integer MANN-KENDALL trend test on a daily series (Mann
    1945, Kendall 1975) — the SIGNIFICANCE half of the trend question
    whose magnitude half is :func:`theilsen_trend`: Theil-Sen reports
    the robust slope, Mann-Kendall reports whether ANY monotone trend
    is distinguishable from noise at all, counting only pairwise
    orderings so a single wild day cannot fake (or hide) a drift the
    way it drags a least-squares fit.

    Exactness contract: ``S = Σ_{i<j} sgn(x_j − x_i)`` accumulates
    ±1/0 per day pair — a pure integer; the tie-corrected variance
    ships PRE-DIVISION as ``var_s_x18 = n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)`` over value tie groups (the classic /18 deferred
    so the column is an exact DECIMAL-safe integer), and the tau-b
    denominator reuses the :func:`~.profile.kendall_tau_b` ×2 device
    (time has no ties, so ``n₂ = 0``).  Floats appear only in the two
    final round-6 scalars: ``tau_b`` and the continuity-corrected
    normal ``z = (S ∓ 1)/√(var_s_x18/18)`` (0 when S = 0, NULL when
    the variance is degenerate).

    Scale shape: ONE data shuffle (the per-day cents agg, pinned); the
    sign self-join (every unordered day pair once, ``d₂ > d₁``) and the
    tie-group agg run on the calendar-bounded daily frame (thousands
    of rows — ~3·10⁶ broadcast-NLJ pairs at a 7-year calendar,
    corpus-size-independent).  Returns exactly one row ``(n_days,
    s_stat, var_s_x18, tau_b, z)``; <2 days yields the degenerate row
    with ``s_stat = 0`` and NULL tau/z.
    """
    daily = (
        df.groupBy(F.col(date_col).cast("date").alias("d"))
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_v")
        )
    )
    daily = pin(daily)
    dec = "decimal(38,0)"
    b = daily.select(F.col("d").alias("d2"), F.col("_v").alias("_v2"))
    s_agg = (
        daily.join(F.broadcast(b), F.col("d2") > F.col("d"))
        .agg(
            F.sum(
                F.when(F.col("_v2") > F.col("_v"), 1)
                .when(F.col("_v2") < F.col("_v"), -1)
                .otherwise(0)
            ).alias("_s")
        )
        .select(F.coalesce(F.col("_s"), F.lit(0)).cast(dec).alias("_s"))
    )
    ties = (
        daily.groupBy("_v")
        .agg(F.count(F.lit(1)).cast(dec).alias("_t"))
        .agg(
            F.coalesce(F.sum("_t"), F.lit(0).cast(dec)).alias("_n"),
            F.coalesce(
                F.sum(
                    F.col("_t")
                    * (F.col("_t") - 1)
                    * (F.lit(2).cast(dec) * F.col("_t") + 5)
                ),
                F.lit(0).cast(dec),
            ).alias("_tie18"),
            F.coalesce(
                F.sum(F.col("_t") * (F.col("_t") - 1)),
                F.lit(0).cast(dec),
            ).alias("_n1x2"),
        )
    )
    n = F.col("_n")
    var18 = (
        n * (n - 1) * (F.lit(2).cast(dec) * n + 5) - F.col("_tie18")
    )
    n0x2 = n * (n - 1)
    tau_den = F.sqrt(
        ((n0x2 - F.col("_n1x2")) / F.lit(2)).cast("double")
    ) * F.sqrt((n0x2 / F.lit(2)).cast("double"))
    s = F.col("_s")
    return (
        s_agg.crossJoin(F.broadcast(ties))
        .withColumn("_var18", var18)
        .select(
            n.cast("long").alias("n_days"),
            s.cast("long").alias("s_stat"),
            F.col("_var18").cast("long").alias("var_s_x18"),
            F.when(
                (n0x2 > 0) & (n0x2 - F.col("_n1x2") > 0),
                F.round(s.cast("double") / tau_den, 6),
            ).alias("tau_b"),
            F.when(
                F.col("_var18") > 0,
                F.when(s == 0, F.lit(0.0)).otherwise(
                    F.round(
                        (
                            s.cast("double")
                            - F.signum(s.cast("double"))
                        )
                        / F.sqrt(
                            F.col("_var18").cast("double") / F.lit(18.0)
                        ),
                        6,
                    )
                ),
            ).alias("z"),
        )
    )


def ols_trend_by_group(
    df: DataFrame,
    group_col: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group ORDINARY-LEAST-SQUARES daily trend — the classical
    fit completing the family's trend question (:func:`theilsen_trend`
    gives the outlier-robust slope, :func:`mann_kendall_trend` the
    distribution-free significance; OLS gives the textbook slope,
    level, and the R² goodness-of-fit that says how much of the
    series the line actually explains): every group's daily series
    reduced to six exact moment sums, so the whole scan is TWO hash
    aggregations — no windows over data, no joins, embarrassingly
    parallel across groups.

    Exactness contract: with day index ``x`` centered per group to
    ``0..n−1`` (keeps products small: uncentered epoch days push the
    R² numerator² past DECIMAL(38,0)) and per-day cents ``y``, the
    moments ``n, Σx, Σy, Σxy, Σx², Σy²`` are exact DECIMAL(38,0);
    ``slope_micro = (10⁶·(nΣxy − ΣxΣy)) div (nΣx² − (Σx)²)`` and
    ``intercept_micro = (10⁶·(ΣyΣx² − ΣxΣxy)) div (nΣx² − (Σx)²)``
    are exact truncating-div integers (micro-cents/day and
    micro-cents; Spark ``div`` == DuckDB ``//`` on both signs).  R²
    = num²/(den·(nΣy² − (Σy)²)) is the only float (round-6, from
    exact integer inputs — the num² product is why it cannot stay
    integral at DECIMAL(38,0)).

    Scale shape: ONE data shuffle (the (group, day) cents agg); the
    per-group day index comes from one window over the calendar-
    bounded daily frame and the moments from a second tiny hash agg.
    Returns one row per group ``(group, n_days, slope_micro,
    intercept_micro, r2)``; groups with <2 days (or a degenerate
    x-variance) ship NULL slope/intercept/R².
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("_g"),
            F.col(date_col).cast("date").alias("_d"),
        )
        .agg(
            F.round(F.sum(value_col) * _VALUE_SCALE)
            .cast("decimal(38,0)")
            .alias("_y")
        )
    )
    wg = Window.partitionBy("_g").orderBy("_d")
    dec = "decimal(38,0)"
    indexed = daily.select(
        "_g",
        (F.row_number().over(wg) - 1).cast(dec).alias("_x"),
        "_y",
    )
    m = indexed.groupBy("_g").agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.expr("_x * _y")).alias("_sxy"),
        F.sum(F.expr("_x * _x")).alias("_sxx"),
        F.sum(F.expr("_y * _y")).alias("_syy"),
    )
    num = F.expr("_n * _sxy - _sx * _sy")
    den = F.expr("_n * _sxx - _sx * _sx")
    vy = F.expr("_n * _syy - _sy * _sy")
    return m.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_days"),
        F.when(
            den > 0,
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (_n * _sxy - _sx * _sy))"
                " div (_n * _sxx - _sx * _sx) AS BIGINT)"
            ),
        ).alias("slope_micro"),
        F.when(
            den > 0,
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (_sy * _sxx - _sx * _sxy))"
                " div (_n * _sxx - _sx * _sx) AS BIGINT)"
            ),
        ).alias("intercept_micro"),
        F.when(
            (den > 0) & (vy > 0),
            F.round(
                num.cast("double")
                * num.cast("double")
                / (den.cast("double") * vy.cast("double")),
                6,
            ),
        ).alias("r2"),
    )
