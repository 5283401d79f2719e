"""Time-series entries over daily order and lineitem series:
resampling, rollups, TWAP, trend tests, changepoints and
autocorrelation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.operators import pin
from big_data_validator_spark.operators.timeseries import (
    acf_daily,
    binseg_changepoints,
    cascade_rollup_refresh,
    cusum_changepoint,
    mann_kendall_trend,
    ols_trend_by_group,
    pettitt_changepoint,
    resample_ffill_daily,
    runs_test_daily,
    theilsen_trend,
    time_weighted_daily_avg,
    xcorr_daily,
)
from big_data_validator_spark.queries import query
from big_data_validator_spark.queries.loader import _t


@query(
    "ts_twap_daily",
    oracle="""
    WITH base AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(floor(value * 100.0) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL),
    wts AS (
      SELECT user_id, day, vq,
        epoch_us(COALESCE(
          LEAD(ts) OVER (PARTITION BY user_id, day
                         ORDER BY ts, event_id),
          CAST(day + INTERVAL 1 DAY AS TIMESTAMP)))
          - epoch_us(ts) AS w
      FROM base),
    agg AS (
      SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_obs,
             SUM(CAST(vq AS HUGEINT) * w) AS num_h,
             CAST(SUM(w) AS BIGINT) AS den_us
      FROM wts GROUP BY 1, 2)
    SELECT user_id, day, n_obs,
           CAST(num_h AS BIGINT) AS num_qus, den_us,
           -- HUGEINT division: DECIMAL // goes through DOUBLE and
           -- 100*num exceeds exact-double range (off-by-one rounding)
           CAST((100 * num_h) // den_us AS BIGINT)
             AS twap_e4
    FROM agg
    """,
)
def ts_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user DAILY time-weighted average value
    (operators/timeseries.py: time_weighted_daily_avg): each
    observation's value holds until the next observation in the same
    (user, day), the last until end-of-day — the TWAP a metering /
    pricing / sensor pipeline needs where a plain AVG over-weights
    sample bursts.  Values quantize to integer centi-units via floor,
    holding times are exact integer microseconds, and the weighted sum
    accumulates in DECIMAL(38,0) — integer accumulation commutes, so
    the result is row-order-independent and bit-identical cross-engine
    (a double Σ v·w depends on reduction order and is neither).  The
    numerator SHIPS as BIGINT (range-guarded; the wide decimal stays
    internal): DECIMAL(38,x) output columns broke the round-7 driver
    value-hash — decimal128 canonicalization diverges between engines'
    materialization layers, BIGINT's does not.  One (user, day)
    shuffle shared by the lead window and the aggregation."""
    ev = _t(spark, sf_dir, "events")
    return time_weighted_daily_avg(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        order_tiebreak="event_id",
    )


@query(
    "ts_resample_ffill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n, SUM(value) AS v
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    b AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
          FROM daily GROUP BY 1),
    spine AS (SELECT user_id,
                     CAST(unnest(generate_series(
                       CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                       INTERVAL 1 DAY)) AS DATE) AS day
              FROM b),
    j AS (SELECT s.user_id, s.day, d.n, d.v
          FROM spine s LEFT JOIN daily d
            ON d.user_id = s.user_id AND d.day = s.day)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           COALESCE(n, 0) AS n_events,
           ROUND(v, 4) AS day_value,
           ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS filled_value,
           n IS NULL AS is_gap
    FROM j
    """,
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily resample of the events feed with forward fill
    (operators/timeseries.py: resample_ffill_daily) — gap days become
    explicit rows carrying the last observed daily value, the
    regularization every windowed monitor/model needs.  Spine rows
    generate ROW-LOCALLY from per-key bounds (``sequence``+``explode``
    — no calendar cross join); one daily-aggregate shuffle, one
    co-partitioned spine join, and a per-key running ``last(ignore
    nulls)`` window — nothing global, so a 10-year × 10^8-key feed
    parallelizes on the key."""
    ev = _t(spark, sf_dir, "events")  # ts already normalized by _t
    out = resample_ffill_daily(ev, "user_id", "ts", "value")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        F.round("day_value", 4).alias("day_value"),
        F.round("filled_value", 4).alias("filled_value"),
        "is_gap",
    )


@query(
    "ts_rollup_cascade",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS val_cents
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate cascade refresh (operators/timeseries.py:
    cascade_rollup_refresh — the hypertable-rollup shape): stored
    hourly and daily rollups of the event stream are STALE (built
    before every late row — ``event_id %% 5 == 0`` arriving after
    Jan 25 — existed); the refresh recomputes only the late rows'
    dirty ``(hour, event_type)`` buckets from the base (LEFT SEMI),
    passes every untouched bucket through (LEFT ANTI), and maintains
    the daily layer FROM the refreshed hourly layer, so the raw table
    is touched once regardless of how many rollup resolutions stack.
    The ORACLE is the full daily recompute over the complete event
    stream — the driver check pins refresh == recompute, which only
    holds if dirty-bucket propagation across BOTH cascade levels is
    exact.  Cent-integer values, BIGINT end-to-end.
    """
    raw = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long").alias("val_cents")
    late_cond = (F.col("event_id") % 5 == 0) & (
        F.col("ts") >= F.lit("2024-01-25").cast("timestamp")
    )
    ev = raw.select("ts", "event_type", cents)
    late = raw.filter(late_cond).select("ts", "event_type", cents)
    base_old = raw.filter(~late_cond).select("ts", "event_type", cents)
    hour_of = F.date_trunc("hour", F.col("ts")).alias("hour")
    hourly_old = (
        base_old.select(hour_of, "event_type", "val_cents")
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("val_cents").cast("long").alias("val_cents"),
        )
    )
    daily_old = (
        hourly_old.select(
            F.date_trunc("day", F.col("hour")).alias("day"),
            "event_type",
            "n_rows",
            "val_cents",
        )
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("val_cents").cast("long").alias("val_cents"),
        )
    )
    # The stored rollups are small (hours × types); caching them keeps
    # this simulation of "stored MV" at one base scan per layer and the
    # anti/semi legs co-consistent.
    hourly_old = pin(hourly_old)
    daily_old = pin(daily_old)
    _, daily_new = cascade_rollup_refresh(
        base_new=ev,
        hourly_old=hourly_old,
        daily_old=daily_old,
        late=late,
        ts_col="ts",
        key_cols=["event_type"],
        sum_cols=["val_cents"],
        count_col="n_rows",
    )
    return daily_new.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_rows",
        "val_cents",
    ).orderBy("day", "event_type")


@query(
    "ts_theilsen_trend",
    oracle="""
    WITH d AS MATERIALIZED (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS y
      FROM orders GROUP BY 1),
    np AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS npr
      FROM d),
    p AS MATERIALIZED (
      SELECT b.y - a.y AS num, b.x - a.x AS den,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
               AS qd
      FROM d a JOIN d b ON a.x < b.x),
    med AS MATERIALIZED (
      SELECT num, den FROM p ORDER BY qd, num, den
      LIMIT 1 OFFSET (SELECT (npr + 1) // 2 - 1 FROM np)),
    s AS MATERIALIZED (
      SELECT CAST(num * 1000000 // den AS BIGINT) AS slope FROM med),
    medr AS MATERIALIZED (
      SELECT r FROM (
        SELECT y * 1000000 - (SELECT slope FROM s) * x AS r FROM d)
      ORDER BY r
      LIMIT 1 OFFSET (SELECT (nd + 1) // 2 - 1 FROM np))
    SELECT nd AS n_days, npr AS n_pairs,
           (SELECT slope FROM s) AS slope_scaled,
           (SELECT r FROM medr) AS intercept_scaled,
           CAST(1000000 AS BIGINT) AS scale
    FROM np
    """,
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend of daily order revenue (operators/timeseries.py:
    theilsen_trend — Theil–Sen median-of-pairwise-slopes, the
    29%-breakdown estimator a metrics monitor wants where least
    squares chases one outlier day): daily totals in integer cents
    (floor of the double product — portable) over integer epoch-days,
    every pairwise slope an exact rational ordered by the portable
    (double quotient, num, den) composite key, lower-median slope and
    integer-residual intercept shipped as scaled BIGINTs.  Scale: the
    pair join is over the DAILY aggregate, so its size tracks the
    time span, not the data volume — 10× rows/day = the same pair
    stage; median selection is TakeOrdered, never a global window."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    return theilsen_trend(daily, "x", "y", scale=1_000_000)


#: Daily order revenue in exact integer cents, the first CTE of the
#: changepoint, trend and autocorrelation oracles.
_DAILY_CENTS = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM orders GROUP BY 1),"""


@query(
    "ts_changepoint_cusum",
    oracle=f"""{_DAILY_CENTS}
    scored AS (
      SELECT d,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             SUM(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pfx,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             SUM(v) OVER () AS total
      FROM daily),
    cand AS (
      SELECT d, t, n, pfx, total,
             abs(n * pfx - t * total) AS absd
      FROM scored WHERE t < n)
    SELECT d AS split_date, CAST(t AS BIGINT) AS t_index,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN total = 0 THEN 0
                ELSE (absd * 1000000) // (n * abs(total)) END
             AS BIGINT) AS cusum_ppm,
           CAST(pfx // t AS BIGINT) AS mean_before_cents,
           CAST((total - pfx) // (n - t) AS BIGINT)
             AS mean_after_cents
    FROM cand ORDER BY absd DESC, d ASC LIMIT 1
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer CUSUM changepoint over daily order revenue
    (operators/timeseries.py: cusum_changepoint — Page 1954): the
    maximum-|D_t| split of the centered cumulative sum D_t = n·prefix
    − t·total in exact DECIMAL(38,0) cents, ties to the earliest day —
    the mean-shift monitor the drift family (distribution tests) does
    not cover: WHERE the level moved, not whether two samples differ.
    One data shuffle (the per-day cents aggregate); every window runs
    on the calendar-bounded daily frame, and the normalized statistic,
    before/after means ship as truncating-div integers both engines
    reproduce."""
    orders = _t(spark, sf_dir, "orders")
    return cusum_changepoint(orders, "o_orderdate", "o_totalprice")


@query(
    "ts_binseg_changepoints",
    oracle=f"""{_DAILY_CENTS}
    s1 AS (
      SELECT d,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             SUM(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pfx,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             SUM(v) OVER () AS total,
             MIN(d) OVER () AS seg_start
      FROM daily),
    c1 AS (SELECT *, abs(n * pfx - t * total) AS absd
           FROM s1 WHERE t < n),
    b1 AS (SELECT * FROM c1 ORDER BY absd DESC, d ASC LIMIT 1),
    tagged AS (
      SELECT daily.d, daily.v,
             CASE WHEN daily.d > b1.d THEN 1 ELSE 0 END AS seg
      FROM daily, b1),
    s2 AS (
      SELECT seg, d,
             CAST(ROW_NUMBER() OVER (PARTITION BY seg ORDER BY d)
                  AS HUGEINT) AS t,
             SUM(v) OVER (PARTITION BY seg ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS pfx,
             CAST(COUNT(*) OVER (PARTITION BY seg) AS HUGEINT) AS n,
             SUM(v) OVER (PARTITION BY seg) AS total,
             MIN(d) OVER (PARTITION BY seg) AS seg_start
      FROM tagged),
    c2 AS (SELECT *, abs(n * pfx - t * total) AS absd
           FROM s2 WHERE t < n),
    b2 AS (SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                         ORDER BY absd DESC, d ASC) AS rk
             FROM c2) WHERE rk = 1),
    allrows AS (
      SELECT 1 AS level, seg_start, d, t, n, pfx, total, absd FROM b1
      UNION ALL
      SELECT 2 AS level, seg_start, d, t, n, pfx, total, absd FROM b2)
    SELECT level, seg_start, d AS split_date,
           CAST(t AS BIGINT) AS t_index,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE WHEN total = 0 THEN 0
                ELSE (absd * 1000000) // (n * abs(total)) END
             AS BIGINT) AS cusum_ppm,
           CAST(pfx // t AS BIGINT) AS mean_before_cents,
           CAST((total - pfx) // (n - t) AS BIGINT)
             AS mean_after_cents
    FROM allrows ORDER BY level, split_date
    """,
)
def ts_binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 BINARY SEGMENTATION over daily order revenue
    (operators/timeseries.py: binseg_changepoints — Scott & Knott
    1974): the recursive multi-changepoint extension of
    ts_changepoint_cusum — best |D_t| split of the whole series, then
    the best split WITHIN each half, all on the segment-local exact
    DECIMAL(38,0) integer contract (argmax ties to the earliest day,
    ppm-normalized statistic, truncating-div means).  A series that
    shifted twice hides the second move from the single-split monitor;
    the recursion recovers both.  ONE data shuffle (the pinned per-day
    cents agg, released on materialize); per-segment windows on the
    calendar-bounded daily frame and a broadcast join of the ≤2-row
    cut frame — no driver collect.  Oracle: the recursion UNROLLED as
    CTEs (the EM/k-means/GD device)."""
    orders = _t(spark, sf_dir, "orders")
    return binseg_changepoints(orders, "o_orderdate", "o_totalprice", depth=2)


@query(
    "ts_acf_daily",
    oracle=f"""{_DAILY_CENTS}
    c AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             CAST(COUNT(*) OVER () AS HUGEINT) * v
               - SUM(v) OVER () AS c
      FROM daily),
    lags AS (SELECT CAST(unnest(generate_series(1, 7)) AS INT) AS lag),
    nums AS (
      SELECT l.lag, SUM(a.c * b.c) AS num
      FROM lags l CROSS JOIN c a JOIN c b ON b.t = a.t + l.lag
      GROUP BY l.lag),
    den AS (SELECT SUM(c * c) AS den,
                   CAST(MAX(n) AS BIGINT) AS n_days
            FROM c)
    SELECT l.lag, den.n_days,
           CASE WHEN den.den > 0 THEN
             ROUND(CAST(nums.num AS DOUBLE)
                   / CAST(den.den AS DOUBLE), 6)
           END AS acf
    FROM lags l LEFT JOIN nums USING (lag) CROSS JOIN den
    WHERE den.n_days > 0
    ORDER BY l.lag
    """,
)
def ts_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT lag-1..7 autocorrelation of daily order revenue
    (operators/timeseries.py: acf_daily) — the serial-dependence /
    seasonality member completing the timeseries family: Theil–Sen
    answers "is there a trend", CUSUM/binseg "did the level shift",
    ACF "does the series repeat" (a weekly ordering cycle shows as a
    lag-7 peak).  The n² factors cancel in the standard estimator, so
    ``r_k = Σc_t·c_{t+k} / Σc_t²`` with ``c_t = n·v_t − S`` is a ratio
    of two exact DECIMAL(38,0) integers — the only float is the final
    quotient (IEEE-identical across engines, round-6).  ONE data
    shuffle (the per-day cents agg); the index, the 7 lead columns
    (one window pass) and the per-lag sums all run on the
    calendar-bounded daily frame.  Oracle computes the same integers
    via an index self-join on the lag offset."""
    orders = _t(spark, sf_dir, "orders")
    return acf_daily(orders, "o_orderdate", "o_totalprice", max_lag=7)


@query(
    "ts_pettitt_changepoint",
    oracle=f"""{_DAILY_CENTS}
    ranked AS (
      SELECT d,
             CAST(2 * RANK() OVER (ORDER BY v)
                  + COUNT(*) OVER (PARTITION BY v) - 1 AS HUGEINT) AS m
      FROM daily),
    scored AS (
      SELECT d,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             SUM(m) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pm
      FROM ranked),
    cand AS (
      SELECT d, t, n, pm - t * (n + 1) AS u
      FROM scored WHERE t < n)
    SELECT d AS split_date, CAST(t AS BIGINT) AS t_index,
           CAST(n AS BIGINT) AS n_days, CAST(u AS BIGINT) AS u_stat,
           CAST((abs(u) * 1000000) // (t * (n - t)) AS BIGINT)
             AS pettitt_ppm
    FROM cand ORDER BY abs(u) DESC, d ASC LIMIT 1
    """,
)
def ts_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PETTITT rank-based changepoint over daily order revenue
    (operators/timeseries.py: pettitt_changepoint — Pettitt 1979):
    argmax_t |U_t| of the Mann-Whitney statistic over every split,
    U_t = Sigma m_i - t(n+1) on doubled midranks — the nonparametric
    twin of ts_changepoint_cusum that a single wild day cannot fake
    (CUSUM is mean-based and outlier-dragged; Pettitt is rank-based).
    Every emitted value is an exact integer (the tie terms contribute
    exactly 0 under doubled midranks), pettitt_ppm normalizing |U| by
    the split's own pair ceiling t(n-t).  One data shuffle (per-day
    cents agg); rank + prefix windows and the TakeOrdered(1) argmax
    on the calendar-bounded daily frame."""
    orders = _t(spark, sf_dir, "orders")
    return pettitt_changepoint(orders, "o_orderdate", "o_totalprice")


@query(
    "ts_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(l_extendedprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS v
      FROM lineitem GROUP BY 1),
    deltas AS (
      SELECT d, v - LAG(v) OVER (ORDER BY d) AS dv FROM daily),
    signs AS (
      SELECT d, CASE WHEN dv > 0 THEN 1 ELSE -1 END AS s
      FROM deltas WHERE dv IS NOT NULL AND dv <> 0),
    flips AS (
      SELECT s,
             CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                    OR LAG(s) OVER (ORDER BY d) = s THEN 0
                  ELSE 1 END AS f
      FROM signs),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_signs,
             CAST(COALESCE(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_plus,
             CAST(COALESCE(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_minus,
             CASE WHEN COUNT(*) = 0 THEN NULL
                  ELSE CAST(1 + SUM(f) AS BIGINT) END AS runs
      FROM flips)
    SELECT n_signs, n_plus, n_minus, runs,
           CASE WHEN n_signs > 0 THEN
             CAST((2000 * CAST(n_plus AS HUGEINT) * n_minus)
                  // (n_plus + n_minus) + 1000 AS BIGINT)
           END AS expected_runs_milli
    FROM agg
    """,
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ runs test on day-over-day deltas of daily
    lineitem revenue (operators/timeseries.py: runs_test_daily) — the
    randomness monitor completing the timeseries question set (trend /
    level shift / repetition / independence).  Sign of each delta
    (zeros dropped, the standard treatment), runs = 1 + sign flips;
    everything emitted is an exact integer incl. the null expectation
    E[R] = 1 + 2·n_plus·n_minus/n as truncating-div milli-runs — a
    feed whose moves cluster (too few runs) is regime-driven, one
    that alternates like clockwork (too many) is synthetic.  One data
    shuffle (the per-day cents agg); both lag windows on the
    calendar-bounded daily frame."""
    li = _t(spark, sf_dir, "lineitem")
    return runs_test_daily(li, "l_shipdate", "l_extendedprice")


@query(
    "ts_xcorr_daily",
    oracle="""
    WITH da AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS x
      FROM orders GROUP BY 1),
    db AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(l_quantity) AS DOUBLE)) AS HUGEINT)
               AS y
      FROM lineitem GROUP BY 1),
    j AS (SELECT da.d, x, y FROM da JOIN db USING (d)),
    c AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS HUGEINT) AS t,
             CAST(COUNT(*) OVER () AS HUGEINT) AS n,
             CAST(COUNT(*) OVER () AS HUGEINT) * x
               - SUM(x) OVER () AS cx,
             CAST(COUNT(*) OVER () AS HUGEINT) * y
               - SUM(y) OVER () AS cy
      FROM j),
    lags AS (SELECT CAST(unnest(generate_series(-7, 7)) AS INT) AS lag),
    nums AS (
      SELECT l.lag,
             SUM(CASE WHEN l.lag >= 0 THEN a.cx * b.cy
                      ELSE a.cy * b.cx END) AS num
      FROM lags l CROSS JOIN c a JOIN c b ON b.t = a.t + abs(l.lag)
      GROUP BY 1),
    den AS (SELECT SUM(cx * cx) AS dx, SUM(cy * cy) AS dy,
                   CAST(MAX(n) AS BIGINT) AS n_days
            FROM c)
    SELECT l.lag, den.n_days,
           CASE WHEN den.dx > 0 AND den.dy > 0 THEN
             ROUND(CAST(nums.num AS DOUBLE)
                   / (sqrt(CAST(den.dx AS DOUBLE))
                      * sqrt(CAST(den.dy AS DOUBLE))), 6)
           END AS xcorr
    FROM lags l LEFT JOIN nums USING (lag) CROSS JOIN den
    WHERE den.n_days > 0
    ORDER BY l.lag
    """,
)
def ts_xcorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged CROSS-correlation of daily order revenue vs daily
    shipped quantity (operators/timeseries.py: xcorr_daily) — the
    lead/lag detector extending ts_acf_daily to feed PAIRS: orders
    lead shipments by the fulfilment delay, so the peak sits at a
    positive lag; a metric that tracks another with a lag is derived,
    not independent.  Both series center to pure integers on their
    COMMON days (cx = n·x − Sx on the joined set), every numerator
    and both denominators exact DECIMAL(38,0); floats only in the two
    square roots and the final round-6 quotient.  TWO data shuffles
    (one per-day agg per feed); the date join, the one-pass lead
    columns and per-lag sums all on the calendar-bounded joined
    frame.  Oracle computes the same integers via an index self-join
    on |lag|."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return xcorr_daily(
        orders, "o_orderdate", "o_totalprice",
        li, "l_shipdate", "l_quantity",
        max_lag=7, scale_b=1,
    )


@query(
    "ts_mann_kendall",
    oracle=f"""{_DAILY_CENTS}
    s AS (
      SELECT COALESCE(SUM(CASE WHEN b.v > a.v THEN 1
                                WHEN b.v < a.v THEN -1
                                ELSE 0 END), 0) AS s
      FROM daily a JOIN daily b ON b.d > a.d),
    t AS (
      SELECT COALESCE(SUM(t), 0) AS n,
             COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie18,
             COALESCE(SUM(t * (t - 1)), 0) AS n1x2
      FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS t
            FROM daily GROUP BY v)),
    f AS (
      SELECT s, n, n1x2,
             n * (n - 1) * (2 * n + 5) - tie18 AS var18,
             n * (n - 1) AS n0x2
      FROM s, t)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_stat,
           CAST(var18 AS BIGINT) AS var_s_x18,
           CASE WHEN n0x2 > 0 AND n0x2 - n1x2 > 0 THEN
             ROUND(CAST(s AS DOUBLE)
                   / (SQRT(CAST(n0x2 - n1x2 AS DOUBLE) / 2)
                      * SQRT(CAST(n0x2 AS DOUBLE) / 2)), 6)
           END AS tau_b,
           CASE WHEN var18 > 0 THEN
             CASE WHEN s = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE ROUND((CAST(s AS DOUBLE)
                              - SIGN(CAST(s AS DOUBLE)))
                             / SQRT(CAST(var18 AS DOUBLE) / 18.0), 6)
             END
           END AS z
    FROM f
    """,
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test on daily order revenue
    (operators/timeseries.py: mann_kendall_trend) — the SIGNIFICANCE
    half of the trend question whose magnitude half is
    ts_theilsen_trend: S counts pairwise day orderings (±1 per pair, a
    pure integer), the tie-corrected variance ships pre-division as
    the exact integer var_s_x18 = n(n−1)(2n+5) − Σt(t−1)(2t+5), and
    floats appear only in the round-6 tau_b (the kendall_tau_b ×2
    device, time untied) and continuity-corrected z.  ONE data
    shuffle (the per-day cents agg, pinned); the sign self-join runs
    every unordered day pair
    once on the calendar-bounded daily frame — broadcast-NLJ,
    corpus-size-independent."""
    o = _t(spark, sf_dir, "orders")
    return mann_kendall_trend(o, "o_orderdate", "o_totalprice")


@query(
    "ts_ols_trend",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(CAST(SUM(o_totalprice) AS DOUBLE) * 100)
                  AS HUGEINT) AS y
      FROM orders GROUP BY 1, 2),
    idx AS (
      SELECT g,
             CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) - 1
                  AS HUGEINT) AS x,
             y
      FROM daily),
    m AS (
      SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM idx GROUP BY 1)
    SELECT g AS o_orderpriority,
           CAST(n AS BIGINT) AS n_days,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             CAST((1000000 * (n * sxy - sx * sy))
                  // (n * sxx - sx * sx) AS BIGINT) END AS slope_micro,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             CAST((1000000 * (sy * sxx - sx * sxy))
                  // (n * sxx - sx * sx) AS BIGINT) END
             AS intercept_micro,
           CASE WHEN n * sxx - sx * sx > 0
                 AND n * syy - sy * sy > 0 THEN
             ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                   * CAST(n * sxy - sx * sy AS DOUBLE)
                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS r2
    FROM m ORDER BY 1
    """,
)
def ts_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS daily revenue trend
    (operators/timeseries.py: ols_trend_by_group) — the classical fit
    completing the trend family's question set (ts_theilsen_trend:
    robust slope; ts_mann_kendall: distribution-free significance;
    OLS: textbook slope + level + the R² that says how much of the
    series the line explains).  Each group's daily series reduces to
    six exact DECIMAL(38,0) moment sums with the day index centered
    per group (0..n−1 — uncentered epoch days push num² past
    DECIMAL(38,0)); slope and intercept ship as exact truncating-div
    micro units (Spark div == DuckDB //), R² the only float
    (round-6).  ONE data shuffle (the (group, day) cents agg), one
    calendar-bounded window for the index, one tiny moments agg — no
    joins, embarrassingly parallel across groups."""
    o = _t(spark, sf_dir, "orders")
    return ols_trend_by_group(
        o, "o_orderpriority", "o_orderdate", "o_totalprice",
    )
