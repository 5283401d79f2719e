"""Per-key daily resample + forward fill: gap materialization, fill
semantics, and the no-global-window plan shape."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators.timeseries import (
    resample_ffill_daily,
)


@pytest.fixture()
def feed(spark):
    rows = [
        # key 1: days 1, 2, 5 — gaps on 3 and 4
        (1, "2024-03-01 10:00:00", 10.0),
        (1, "2024-03-01 11:00:00", 5.0),
        (1, "2024-03-02 09:00:00", 7.0),
        (1, "2024-03-05 23:59:59", 1.0),
        # key 2: single day
        (2, "2024-03-10 00:00:00", 4.0),
        # null key / null ts: excluded
        (None, "2024-03-01 00:00:00", 9.0),
        (3, None, 9.0),
    ]
    return spark.createDataFrame(
        rows, ["k", "ts_str", "value"]
    ).select("k", F.col("ts_str").cast("timestamp").alias("ts"), "value")


def test_resample_fills_gaps_and_carries_values(spark, feed):
    out = {
        (r["k"], str(r["day"])): r
        for r in resample_ffill_daily(feed, "k").collect()
    }
    # key 1 spine: exactly 5 consecutive days
    k1 = sorted(d for (k, d) in out if k == 1)
    assert k1 == [f"2024-03-0{i}" for i in range(1, 6)]
    assert out[(1, "2024-03-01")]["n_events"] == 2
    assert out[(1, "2024-03-01")]["day_value"] == 15.0
    assert out[(1, "2024-03-01")]["is_gap"] is False
    # gap days: zero events, NULL day_value, carried fill
    for gap_day, want_fill in [("2024-03-03", 7.0), ("2024-03-04", 7.0)]:
        r = out[(1, gap_day)]
        assert r["n_events"] == 0 and r["day_value"] is None
        assert r["is_gap"] is True and r["filled_value"] == want_fill
    # a new data day resets the fill
    assert out[(1, "2024-03-05")]["filled_value"] == 1.0
    # single-day key: one row, no gaps
    assert [k for (k, _) in out if k == 2] == [2]
    assert out[(2, "2024-03-10")]["filled_value"] == 4.0
    # null key and null ts rows are excluded entirely
    assert not any(k in (None, 3) for (k, _) in out)


def test_resample_window_partitions_by_key(spark, feed):
    plan = (
        resample_ffill_daily(feed, "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the running fill window must be keyed — a global single-partition
    # sort would appear as an empty partition list
    assert "Window" in plan
    assert "hashpartitioning(k" in plan, plan


def test_resample_registry_matches_duckdb(spark):
    import duckdb

    from big_data_validator_spark.queries import REGISTRY

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    spec = REGISTRY["ts_resample_ffill"]
    got = sorted(
        tuple(r) for r in spec.fn(spark, sf_dir).collect()
    )
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got == want and len(got) > 0


def test_time_weighted_daily_avg_known_values(spark):
    """TWAP vs hand arithmetic: a value holding most of the day
    dominates a brief spike regardless of sample count; last
    observation holds to end-of-day; NULL values excluded; per-day
    isolation."""
    import datetime as dt
    from decimal import Decimal

    from big_data_validator_spark.operators.timeseries import (
        time_weighted_daily_avg,
    )

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        (1, 101, T(0), 10.0),     # holds 0:00 -> 12:00 (12h)
        (1, 102, T(12), 30.0),    # holds 12:00 -> 12:01 (1 min)
        (1, 103, T(12, 1), 10.0), # holds 12:01 -> 24:00
        (1, 104, T(6), None),     # NULL: excluded entirely
        (2, 201, T(8), 50.0),     # alone: holds 8:00 -> 24:00
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    got = {
        r["user_id"]: r
        for r in time_weighted_daily_avg(
            df, "user_id", "ts", "value", "event_id"
        ).collect()
    }
    r1 = got[1]
    us = 3_600_000_000
    num = 1000 * 12 * us + 3000 * 1 * us // 60 + 1000 * (12 * us - us // 60)
    assert r1["n_obs"] == 3
    assert int(r1["num_qus"]) == num
    assert r1["den_us"] == 24 * us
    assert r1["twap_e4"] == (100 * num) // (24 * us)
    # the 1-minute spike moved the day mean by < 0.02 of a unit
    assert abs(r1["twap_e4"] - 10_0139) < 150
    r2 = got[2]
    assert r2["den_us"] == 16 * us and r2["twap_e4"] == 50_0000


# ------------------------------------------- cascade rollup refresh

def test_cascade_refresh_equals_recompute_and_passes_through(spark):
    """Two facts in one scenario: (1) refresh == full recompute on the
    dirty buckets; (2) untouched buckets literally PASS THROUGH from
    the stored rollups — proven by poisoning an untouched stored row
    and observing the poison survive (a lazy full recompute would
    silently repair it, which at 100 TB means it re-read the base)."""
    import datetime

    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.timeseries import (
        cascade_rollup_refresh,
    )

    T = datetime.datetime
    base_rows = [
        # day 1, hour 0 and 1; day 2 hour 0 — key 'a'
        (T(2024, 1, 1, 0, 10), "a", 100),
        (T(2024, 1, 1, 0, 50), "a", 200),
        (T(2024, 1, 1, 1, 10), "a", 300),
        (T(2024, 1, 2, 0, 10), "a", 400),
    ]
    late_rows = [
        (T(2024, 1, 2, 0, 40), "a", 50),   # dirties ONLY day-2 hour 0
    ]
    base_old = spark.createDataFrame(base_rows, ["ts", "k", "v"])
    late = spark.createDataFrame(late_rows, ["ts", "k", "v"])
    base_new = base_old.unionByName(late)
    hourly = (
        base_old.select(
            F.date_trunc("hour", "ts").alias("hour"), "k", "v"
        )
        .groupBy("hour", "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v"),
        )
    )
    daily = (
        hourly.select(F.date_trunc("day", "hour").alias("day"), "k", "n_rows", "v")
        .groupBy("day", "k")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v"),
        )
    )
    # poison the UNTOUCHED day-1 buckets: +1000 in stored rollups
    poisoned_h = hourly.withColumn(
        "v",
        F.when(
            F.col("hour") < F.lit("2024-01-02").cast("timestamp"),
            F.col("v") + 1000,
        ).otherwise(F.col("v")),
    )
    poisoned_d = daily.withColumn(
        "v",
        F.when(
            F.col("day") < F.lit("2024-01-02").cast("timestamp"),
            F.col("v") + 1000,
        ).otherwise(F.col("v")),
    )
    hourly_new, daily_new = cascade_rollup_refresh(
        base_new, poisoned_h, poisoned_d, late,
        ts_col="ts", key_cols=["k"], sum_cols=["v"],
    )
    h = {(r.hour, r.k): (r.n_rows, r.v) for r in hourly_new.collect()}
    d = {(r.day, r.k): (r.n_rows, r.v) for r in daily_new.collect()}
    # dirty bucket recomputed exactly (includes the late row)
    assert h[(T(2024, 1, 2, 0), "a")] == (2, 450)
    assert d[(T(2024, 1, 2), "a")] == (2, 450)
    # untouched buckets pass through WITH the poison intact
    assert h[(T(2024, 1, 1, 0), "a")] == (2, 1300)
    assert h[(T(2024, 1, 1, 1), "a")] == (1, 1300)
    assert d[(T(2024, 1, 1), "a")] == (3, 1600)


def test_cascade_refresh_clean_equals_full_recompute(spark):
    """Without poison, refresh over a random-ish split equals a full
    recompute at BOTH cascade levels, including late rows that create
    brand-new buckets (an hour with no prior row)."""
    import datetime

    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.timeseries import (
        cascade_rollup_refresh,
    )

    T = datetime.datetime
    rows = [
        (T(2024, 1, 1 + (i % 3), (i * 5) % 24, i % 60), f"k{i % 2}", i * 10)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["ts", "k", "v"])
    late = df.filter(F.col("v") % 70 == 0)      # every 7th row late
    base_old = df.exceptAll(late)
    mk_h = lambda b: (
        b.select(F.date_trunc("hour", "ts").alias("hour"), "k", "v")
        .groupBy("hour", "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v"),
        )
    )
    mk_d = lambda h: (
        h.select(F.date_trunc("day", "hour").alias("day"), "k", "n_rows", "v")
        .groupBy("day", "k")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("v"),
        )
    )
    hourly_new, daily_new = cascade_rollup_refresh(
        df, mk_h(base_old), mk_d(mk_h(base_old)), late,
        ts_col="ts", key_cols=["k"], sum_cols=["v"],
    )
    want_h = {(r.hour, r.k): (r.n_rows, r.v) for r in mk_h(df).collect()}
    want_d = {(r.day, r.k): (r.n_rows, r.v) for r in mk_d(mk_h(df)).collect()}
    got_h = {(r.hour, r.k): (r.n_rows, r.v) for r in hourly_new.collect()}
    got_d = {(r.day, r.k): (r.n_rows, r.v) for r in daily_new.collect()}
    assert got_h == want_h
    assert got_d == want_d


# ----------------------------------------------------- Theil-Sen trend


def test_theilsen_matches_bruteforce_rational_median(spark):
    """Lower-median of pairwise slopes under the (double-quotient,
    num, den) order == a from-scratch brute force with exact-rational
    reference ordering on a grid where doubles and rationals agree."""
    from big_data_validator_spark.operators.timeseries import (
        theilsen_trend,
    )

    import random

    rng = random.Random(3)
    pts = [(x, 7 * x + 100 + rng.randrange(-5, 6)) for x in range(0, 40, 3)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = theilsen_trend(df, "x", "y", scale=1_000_000).collect()[0]

    import fractions

    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            num = pts[j][1] - pts[i][1]
            den = pts[j][0] - pts[i][0]
            slopes.append((num / den, num, den))
    slopes.sort()
    n_pairs = len(slopes)
    _, num, den = slopes[(n_pairs + 1) // 2 - 1]
    q = abs(num * 1_000_000) // abs(den)
    slope = q if (num >= 0) == (den >= 0) else -q
    res = sorted(y * 1_000_000 - slope * x for x, y in pts)
    want_intercept = res[(len(pts) + 1) // 2 - 1]
    assert got["n_days"] == len(pts)
    assert got["n_pairs"] == n_pairs
    assert got["slope_scaled"] == slope
    assert got["intercept_scaled"] == want_intercept
    # sanity: the double-keyed order equals the exact rational order
    # on this grid (tie-breaks exercised via equal slopes)
    exact = sorted(slopes, key=lambda t: (fractions.Fraction(t[1], t[2]), t[1], t[2]))
    assert [s[1:] for s in slopes] == [s[1:] for s in exact]


def test_theilsen_distributed_median_parity_wide_series(spark):
    """The two-pass per-block selection (VERDICT r11 item 5: never
    TakeOrdered k ≈ n_pairs/2 rows into one task) returns EXACTLY the
    brute-force lower median on a wide noisy series — thousands of
    pairs spread over many value blocks, so the straddling-block
    offset arithmetic (k - cum_before) is genuinely exercised."""
    from big_data_validator_spark.operators.timeseries import (
        theilsen_trend,
    )

    import random

    rng = random.Random(41)
    pts = [
        (x, 3 * x + rng.randrange(-500, 501)) for x in range(0, 300, 2)
    ]  # 150 days -> 11_175 pairs
    df = spark.createDataFrame(pts, "x long, y long")
    got = theilsen_trend(df, "x", "y", scale=1_000_000).collect()[0]

    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            num = pts[j][1] - pts[i][1]
            den = pts[j][0] - pts[i][0]
            slopes.append((num / den, num, den))
    slopes.sort()
    _, num, den = slopes[(len(slopes) + 1) // 2 - 1]
    q = abs(num * 1_000_000) // abs(den)
    want = q if (num >= 0) == (den >= 0) else -q
    assert got["n_pairs"] == len(slopes)
    assert got["slope_scaled"] == want


def test_theilsen_robust_to_outlier_day(spark):
    """One corrupted day must not move the Theil-Sen slope (the
    least-squares slope moves by construction)."""
    from big_data_validator_spark.operators.timeseries import (
        theilsen_trend,
    )

    clean = [(x, 10 * x + 50) for x in range(30)]
    spoiled = [(x, y) if x != 15 else (x, y + 10_000_000)
               for x, y in clean]
    g1 = theilsen_trend(
        spark.createDataFrame(clean, "x long, y long"), "x", "y"
    ).collect()[0]
    g2 = theilsen_trend(
        spark.createDataFrame(spoiled, "x long, y long"), "x", "y"
    ).collect()[0]
    assert g1["slope_scaled"] == 10_000_000
    assert g2["slope_scaled"] == 10_000_000  # unmoved by the outlier
    with __import__("pytest").raises(ValueError, match="two distinct"):
        theilsen_trend(
            spark.createDataFrame([(1, 1)], "x long, y long"), "x", "y"
        )


def test_theilsen_negative_slope_truncation_matches_duckdb(spark):
    """Negative-slope scaled division: the operator truncates toward
    zero, which must equal DuckDB's BIGINT // semantics used in the
    oracle."""
    import duckdb

    from big_data_validator_spark.operators.timeseries import (
        theilsen_trend,
    )

    pts = [(x, -7 * x + 3) for x in range(0, 10)]  # slope exactly -7
    df = spark.createDataFrame(pts, "x long, y long")
    got = theilsen_trend(df, "x", "y", scale=3).collect()[0]
    duck = duckdb.connect().execute(
        "SELECT CAST(-7 * 3 // 1 AS BIGINT)"
    ).fetchone()[0]
    assert got["slope_scaled"] == duck == -21
    # fractional negative: -7/2 at scale 3 -> -10.5 -> trunc -10
    duck2 = duckdb.connect().execute(
        "SELECT CAST(-7 * 3 // 2 AS BIGINT)"
    ).fetchone()[0]
    assert duck2 == -10, "DuckDB // must truncate toward zero"


# ------------------------------------------------- CUSUM changepoint

def test_cusum_changepoint_finds_planted_shift(spark):
    """A planted mean shift is located exactly (D_t = n*prefix - t*total
    maximized at the true boundary), the statistic matches a Python
    replay, before/after means are the truncating-div cents, and a
    flat series yields cusum_ppm 0 with a deterministic earliest-day
    tie-break; <2 days -> zero rows."""
    import datetime

    from big_data_validator_spark.operators.timeseries import (
        cusum_changepoint,
    )

    base = datetime.date(2024, 1, 1)
    # 10 days at $10.00, then 10 days at $30.00 -> split at day 10
    rows = [
        (base + datetime.timedelta(days=i), 10.0 if i < 10 else 30.0)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["d", "v"])
    out = cusum_changepoint(df, "d", "v").collect()
    assert len(out) == 1
    r = out[0]
    assert r["split_date"] == base + datetime.timedelta(days=9)
    assert r["t_index"] == 10 and r["n_days"] == 20
    assert r["mean_before_cents"] == 1000
    assert r["mean_after_cents"] == 3000
    # Python replay of the exact integer statistic
    vals = [1000] * 10 + [3000] * 10
    n, total = len(vals), sum(vals)
    best = max(
        (abs(n * sum(vals[:t]) - t * total), -t)
        for t in range(1, n)
    )[0]
    assert r["cusum_ppm"] == (best * 10**6) // (n * total)

    flat = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), 5.0) for i in range(4)],
        ["d", "v"],
    )
    fr = cusum_changepoint(flat, "d", "v").collect()[0]
    assert fr["cusum_ppm"] == 0 and fr["split_date"] == base

    one = spark.createDataFrame([(base, 5.0)], ["d", "v"])
    assert cusum_changepoint(one, "d", "v").count() == 0


def test_binseg_changepoints_recovers_two_planted_shifts(spark):
    """Depth-2 binary segmentation == a from-scratch Python replay of
    the recursion on a two-shift series (level 1 finds one boundary,
    level 2 the other), per-row stats are the segment-local integer
    contract, a short second-level segment yields no row, depth=1
    reduces to cusum_changepoint, and the depth guard raises."""
    import datetime

    import pytest

    from big_data_validator_spark.operators.timeseries import (
        binseg_changepoints,
        cusum_changepoint,
    )

    base = datetime.date(2024, 1, 1)
    # three regimes: 12d @ $10, 12d @ $30, 12d @ $12
    cents = [1000] * 12 + [3000] * 12 + [1200] * 12
    rows = [
        (base + datetime.timedelta(days=i), c / 100.0)
        for i, c in enumerate(cents)
    ]
    df = spark.createDataFrame(rows, ["d", "v"])

    def one_split(vals):
        n, total = len(vals), sum(vals)
        if n < 2:
            return None
        absd, negt = max(
            (abs(n * sum(vals[:t]) - t * total), -t)
            for t in range(1, n)
        )
        t = -negt
        ppm = 0 if total == 0 else (absd * 10**6) // (n * abs(total))
        trunc = lambda a, b: (a // b if (a >= 0) == (b > 0)
                              else -((-a if a < 0 else a) // abs(b)))
        pfx = sum(vals[:t])
        return (t, n, ppm, trunc(pfx, t), trunc(total - pfx, n - t))

    def replay(vals, lo, depth):
        out = []
        if depth == 0:
            return out
        s = one_split(vals)
        if s is None:
            return out
        t = s[0]
        out.append((lo, t) + s[1:])
        out_l = replay(vals[:t], lo, depth - 1)
        out_r = replay(vals[t:], lo + t, depth - 1)
        return out + [(o[0], o[1]) + o[2:] for o in out_l + out_r]

    got = binseg_changepoints(df, "d", "v", depth=2).collect()
    # expected: level-1 row + two level-2 rows
    exp1 = one_split(cents)
    l1 = [r for r in got if r["level"] == 1]
    assert len(l1) == 1
    r1 = l1[0]
    t1 = exp1[0]
    assert r1["seg_start"] == base
    assert r1["split_date"] == base + datetime.timedelta(days=t1 - 1)
    assert (
        r1["t_index"], r1["n_days"], r1["cusum_ppm"],
        r1["mean_before_cents"], r1["mean_after_cents"],
    ) == exp1
    l2 = sorted(
        (r for r in got if r["level"] == 2),
        key=lambda r: r["split_date"],
    )
    exp_left = one_split(cents[:t1])
    exp_right = one_split(cents[t1:])
    assert len(l2) == 2
    assert l2[0]["seg_start"] == base
    assert l2[0]["split_date"] == base + datetime.timedelta(
        days=exp_left[0] - 1
    )
    assert (
        l2[0]["t_index"], l2[0]["n_days"], l2[0]["cusum_ppm"],
        l2[0]["mean_before_cents"], l2[0]["mean_after_cents"],
    ) == exp_left
    assert l2[1]["seg_start"] == base + datetime.timedelta(days=t1)
    assert l2[1]["split_date"] == base + datetime.timedelta(
        days=t1 + exp_right[0] - 1
    )
    assert (
        l2[1]["t_index"], l2[1]["n_days"], l2[1]["cusum_ppm"],
        l2[1]["mean_before_cents"], l2[1]["mean_after_cents"],
    ) == exp_right

    # depth=1 == the single-split operator (modulo the extra columns)
    d1 = binseg_changepoints(df, "d", "v", depth=1).collect()
    c1 = cusum_changepoint(df, "d", "v").collect()[0]
    assert len(d1) == 1
    assert d1[0]["split_date"] == c1["split_date"]
    assert d1[0]["cusum_ppm"] == c1["cusum_ppm"]

    # a 3-day series at depth 2: level 1 splits, and only segments
    # with >= 2 days re-split (one side is a singleton)
    short = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), float(v))
         for i, v in enumerate([10.0, 10.0, 90.0])],
        ["d", "v"],
    )
    sr = binseg_changepoints(short, "d", "v", depth=2).collect()
    assert len([r for r in sr if r["level"] == 1]) == 1
    assert len([r for r in sr if r["level"] == 2]) == 1  # only the 2-day side

    with pytest.raises(ValueError, match="depth"):
        binseg_changepoints(df, "d", "v", depth=0)
    with pytest.raises(ValueError, match="depth"):
        binseg_changepoints(df, "d", "v", depth=5)


def test_acf_daily_matches_integer_reference(spark):
    """ACF == a from-scratch exact-integer replay (r_k = sum c_t*c_{t+k}
    / sum c_t^2 with c_t = n*v_t - S) on a planted weekly cycle (lag-7
    peak), a constant series yields NULL (zero variance), lags beyond
    the series length are NULL, empty input yields zero rows, and the
    max_lag guard raises."""
    import datetime

    import pytest

    from big_data_validator_spark.operators.timeseries import acf_daily

    base = datetime.date(2024, 1, 1)
    # weekly cycle + mild noise pattern, exact cents
    cents = [(1000 + 900 * (i % 7 == 0) + 37 * (i % 3)) for i in range(35)]
    df = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), c / 100.0)
         for i, c in enumerate(cents)],
        ["d", "v"],
    )

    def ref(vals, max_lag):
        n, s = len(vals), sum(vals)
        c = [n * v - s for v in vals]
        den = sum(x * x for x in c)
        out = {}
        for k in range(1, max_lag + 1):
            prods = [c[t] * c[t + k] for t in range(n - k)]
            num = sum(prods) if prods else None
            out[k] = (
                None if (den == 0 or num is None)
                else round(num / den, 6)
            )
        return out

    want = ref(cents, 9)
    got = {r["lag"]: r for r in acf_daily(df, "d", "v", max_lag=9).collect()}
    assert sorted(got) == list(range(1, 10))
    for k in range(1, 10):
        assert got[k]["n_days"] == 35
        assert abs(got[k]["acf"] - want[k]) < 2e-6, (k, got[k]["acf"], want[k])
    # the weekly cycle dominates: lag-7 is the max
    assert max(want, key=lambda k: want[k]) == 7

    const = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), 5.0) for i in range(10)],
        ["d", "v"],
    )
    for r in acf_daily(const, "d", "v", max_lag=3).collect():
        assert r["acf"] is None

    short = spark.createDataFrame(
        [(base, 1.0), (base + datetime.timedelta(days=1), 9.0)],
        ["d", "v"],
    )
    sr = {r["lag"]: r["acf"] for r in
          acf_daily(short, "d", "v", max_lag=4).collect()}
    assert sr[1] is not None and sr[2] is None and sr[4] is None
    assert abs(sr[1] - ref([100, 900], 1)[1]) < 2e-6

    empty = spark.createDataFrame([], "d date, v double")
    assert acf_daily(empty, "d", "v").count() == 0
    with pytest.raises(ValueError, match="max_lag"):
        acf_daily(df, "d", "v", max_lag=0)
    with pytest.raises(ValueError, match="max_lag"):
        acf_daily(df, "d", "v", max_lag=61)


def test_pettitt_changepoint_matches_bruteforce_and_resists_outlier(spark):
    """argmax_t |U_t| == the O(n^2) double-sum brute force (with ties,
    exercising the doubled-midrank identity), a planted rank shift is
    located exactly even with a wild outlier day that DRAGS the
    mean-based CUSUM, and <2 days -> zero rows."""
    import datetime

    from big_data_validator_spark.operators.timeseries import (
        pettitt_changepoint,
    )

    def brute(vals):
        cents = [round(v * 100) for v in vals]
        n = len(cents)

        def sgn(x):
            return (x > 0) - (x < 0)

        best = None
        for t in range(1, n):
            u = sum(
                sgn(cents[i] - cents[j])
                for i in range(t)
                for j in range(t, n)
            )
            if best is None or abs(u) > abs(best[1]):
                best = (t, u)
        return best

    base = datetime.date(2024, 1, 1)
    # low regime (with ties), one wild outlier inside it, high regime
    vals = [10.0, 11.0, 10.0, 9000.0, 11.0, 10.5, 10.0, 11.0] + [
        20.0,
        21.0,
        20.5,
        21.0,
        20.0,
        20.5,
        21.0,
        20.0,
    ]
    rows = [
        (base + datetime.timedelta(days=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, ["d", "v"])
    out = pettitt_changepoint(df, "d", "v").collect()
    assert len(out) == 1
    r = out[0]
    t_star, u_star = brute(vals)
    assert r["t_index"] == t_star == 8  # the TRUE regime boundary
    assert r["u_stat"] == u_star
    assert r["n_days"] == len(vals)
    assert (
        r["pettitt_ppm"]
        == abs(u_star) * 10**6 // (t_star * (len(vals) - t_star))
    )
    assert r["split_date"] == base + datetime.timedelta(days=t_star - 1)

    one = spark.createDataFrame([(base, 5.0)], ["d", "v"])
    assert pettitt_changepoint(one, "d", "v").count() == 0


def test_runs_test_daily_matches_python_and_handles_edges(spark):
    """Runs / sign counts / expected-runs equal a Python replay with
    zero deltas dropped; an alternating series saturates runs at
    n_signs; a monotone series gives exactly 1 run; <2 days -> the
    n_signs=0 row with NULL runs and expectation."""
    import datetime

    from big_data_validator_spark.operators.timeseries import (
        runs_test_daily,
    )

    def replay(vals):
        cents = [round(v * 100) for v in vals]
        deltas = [b - a for a, b in zip(cents, cents[1:])]
        s = [(x > 0) - (x < 0) for x in deltas if x != 0]
        if not s:
            return (0, 0, 0, None, None)
        runs = 1 + sum(1 for a, b in zip(s, s[1:]) if a != b)
        npl = sum(1 for x in s if x > 0)
        nmi = len(s) - npl
        return (
            len(s),
            npl,
            nmi,
            runs,
            1000 + 2000 * npl * nmi // (npl + nmi),
        )

    base = datetime.date(2024, 1, 1)
    for vals in [
        [10.0, 12.0, 12.0, 11.0, 13.0, 9.0, 9.0, 14.0, 8.0],  # ties
        [1.0, 2.0, 1.0, 2.0, 1.0, 2.0],  # alternating
        [1.0, 2.0, 3.0, 4.0, 5.0],  # monotone -> 1 run
    ]:
        rows = [
            (base + datetime.timedelta(days=i), v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(rows, ["d", "v"])
        r = runs_test_daily(df, "d", "v").collect()[0]
        exp = replay(vals)
        got = (
            r["n_signs"],
            r["n_plus"],
            r["n_minus"],
            r["runs"],
            r["expected_runs_milli"],
        )
        assert got == exp, (vals, got, exp)

    one = spark.createDataFrame([(base, 5.0)], ["d", "v"])
    r = runs_test_daily(one, "d", "v").collect()[0]
    assert (r["n_signs"], r["n_plus"], r["n_minus"]) == (0, 0, 0)
    assert r["runs"] is None and r["expected_runs_milli"] is None


def test_xcorr_daily_finds_planted_lead_and_matches_reference(spark):
    """The full ±K lag sweep equals a plain-Python integer replay, the
    peak sits at the planted 2-day lead, no common days -> zero rows,
    and a constant series ships NULL at every lag."""
    import datetime
    import math
    import random

    from big_data_validator_spark.operators.timeseries import xcorr_daily

    random.seed(23)
    base = datetime.date(2024, 1, 1)
    a_vals = [random.uniform(10, 100) for _ in range(50)]
    b_vals = [0.0, 0.0] + [v * 2 + random.uniform(-1, 1) for v in a_vals[:-2]]
    A = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), v) for i, v in enumerate(a_vals)],
        ["d", "v"],
    )
    B = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), v) for i, v in enumerate(b_vals)],
        ["d", "v"],
    )

    def ref(xs, ys, max_lag):
        n = len(xs)
        cx = [n * x - sum(xs) for x in xs]
        cy = [n * y - sum(ys) for y in ys]
        dx = sum(c * c for c in cx)
        dy = sum(c * c for c in cy)
        out = {}
        for k in range(-max_lag, max_lag + 1):
            if k >= 0:
                num = sum(cx[t] * cy[t + k] for t in range(n - k))
            else:
                num = sum(cy[t] * cx[t - k] for t in range(n + k))
            out[k] = (
                round(num / (math.sqrt(dx) * math.sqrt(dy)), 6)
                if dx > 0 and dy > 0
                else None
            )
        return out

    exp = ref(
        [round(v * 100) for v in a_vals],
        [round(v * 100) for v in b_vals],
        4,
    )
    got = {
        r["lag"]: r["xcorr"]
        for r in xcorr_daily(A, "d", "v", B, "d", "v", max_lag=4).collect()
    }
    assert got == exp
    assert max(got, key=lambda k: got[k]) == 2  # the planted lead

    C = spark.createDataFrame(
        [(datetime.date(2030, 1, 1), 1.0)], ["d", "v"]
    )
    assert xcorr_daily(A, "d", "v", C, "d", "v", max_lag=2).count() == 0

    K = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), 5.0) for i in range(10)],
        ["d", "v"],
    )
    rows = xcorr_daily(A, "d", "v", K, "d", "v", max_lag=2).collect()
    assert len(rows) == 5 and all(r["xcorr"] is None for r in rows)


def test_mann_kendall_matches_bruteforce_with_ties_and_edges(spark):
    """(S, var_s_x18, tau_b, z) equal the O(n^2) textbook reference on
    a tied noisy-trend series; a monotone series hits tau_b = 1 with
    var18 = n(n-1)(2n+5); <2 days and empty input yield the degenerate
    single row with NULL tau/z."""
    import datetime
    import math
    import random
    from collections import Counter

    from big_data_validator_spark.operators.timeseries import (
        mann_kendall_trend,
    )

    def brute(vals):
        n = len(vals)
        s = sum(
            (vals[j] > vals[i]) - (vals[j] < vals[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        cnt = Counter(vals)
        var18 = n * (n - 1) * (2 * n + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in cnt.values()
        )
        n1x2 = sum(t * (t - 1) for t in cnt.values())
        n0x2 = n * (n - 1)
        tau = (
            round(
                s
                / (
                    math.sqrt((n0x2 - n1x2) / 2)
                    * math.sqrt(n0x2 / 2)
                ),
                6,
            )
            if n0x2 > 0 and n0x2 - n1x2 > 0
            else None
        )
        z = (
            round(
                (s - ((s > 0) - (s < 0))) / math.sqrt(var18 / 18.0), 6
            )
            if var18 > 0
            else None
        ) if s != 0 else (0.0 if var18 > 0 else None)
        return n, s, var18, tau, z

    base = datetime.date(2024, 1, 1)
    rng = random.Random(59)
    vals = [float(rng.randrange(0, 8)) + 0.05 * i for i in range(80)]
    # split each day's total across two rows to exercise the daily agg
    rows = [
        (base + datetime.timedelta(days=i), v / 3)
        for i, v in enumerate(vals)
    ] + [
        (base + datetime.timedelta(days=i), 2 * v / 3)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "d date, v double")
    got = mann_kendall_trend(df, "d", "v").first()
    exp = brute([round(v * 100) for v in vals])
    assert (
        got["n_days"],
        got["s_stat"],
        got["var_s_x18"],
        got["tau_b"],
        got["z"],
    ) == exp

    mono = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), float(i)) for i in range(20)],
        "d date, v double",
    )
    g = mann_kendall_trend(mono, "d", "v").first()
    assert g["tau_b"] == 1.0 and g["s_stat"] == 20 * 19 // 2
    assert g["var_s_x18"] == 20 * 19 * 45

    one = spark.createDataFrame([(base, 5.0)], "d date, v double")
    g1 = mann_kendall_trend(one, "d", "v").first()
    assert (g1["n_days"], g1["s_stat"], g1["tau_b"], g1["z"]) == (
        1, 0, None, None,
    )
    empty = spark.createDataFrame([], "d date, v double")
    g0 = mann_kendall_trend(empty, "d", "v").first()
    assert (g0["n_days"], g0["s_stat"], g0["z"]) == (0, 0, None)


def test_ols_trend_by_group_matches_python_reference(spark):
    """slope_micro/intercept_micro equal the exact truncating-div
    closed form and r2 the float ratio, per group, on tied noisy
    series; a perfect line gives exact slope and r2 == 1; a one-day
    group ships NULLs."""
    import datetime
    import random

    from big_data_validator_spark.operators.timeseries import (
        ols_trend_by_group,
    )

    base = datetime.date(2024, 3, 1)
    rng = random.Random(101)
    rows = []
    series = {
        "a": [5.0 + 0.37 * i + rng.random() for i in range(50)],
        "b": [100.0 - 1.25 * i for i in range(30)],      # exact line
        "c": [7.5],                                       # one day
    }
    for g, vals in series.items():
        for i, v in enumerate(vals):
            # split each day across two rows to exercise the daily agg
            rows.append((g, base + datetime.timedelta(days=i), v / 4))
            rows.append((g, base + datetime.timedelta(days=i), 3 * v / 4))
    df = spark.createDataFrame(rows, "g string, d date, v double")
    got = {r["g"]: r for r in ols_trend_by_group(df, "g", "d", "v").collect()}

    def ref(vals):
        ys = [round(v * 100) for v in vals]
        n = len(ys)
        xs = list(range(n))
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        num, den, vy = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
        if den <= 0:
            return n, None, None, None
        def tdiv(a, b):
            q = abs(a) // abs(b)
            return q if (a >= 0) == (b >= 0) else -q
        slope = tdiv(1_000_000 * num, den)
        intercept = tdiv(1_000_000 * (sy * sxx - sx * sxy), den)
        r2 = round(num * num / (den * vy), 6) if vy > 0 else None
        return n, slope, intercept, r2

    for g, vals in series.items():
        n, slope, intercept, r2 = ref(vals)
        r = got[g]
        assert r["n_days"] == n, (g, r)
        assert r["slope_micro"] == slope, (g, r["slope_micro"], slope)
        assert r["intercept_micro"] == intercept, (g, r)
        if r2 is None:
            assert r["r2"] is None
        else:
            assert abs(r["r2"] - r2) < 1e-9, (g, r["r2"], r2)
    # the exact line: slope -1.25/day in micro-cents = -125 * 1e6 micro
    assert got["b"]["slope_micro"] == -125_000_000
    assert got["b"]["r2"] == 1.0
    assert got["c"]["slope_micro"] is None and got["c"]["r2"] is None
