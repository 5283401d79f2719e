"""Unit tests for operators/events_analytics.py — funnel ordering
semantics, cohort offsets, and anomaly-baseline edge cases, pinned on
synthetic frames where the expected answer is computable by hand."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators.events_analytics import (
    cohort_retention,
    funnel_conversion,
    rolling_zscore_anomalies,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (u, dt.datetime(2024, 1, d, h, m), t, 1.0)
            for (u, d, h, m, t) in rows
        ],
        "user_id long, ts timestamp, event_type string, value double",
    )


class TestFunnel:
    def test_strict_ordering(self, spark):
        ev = _ev(
            spark,
            [
                # u1 completes in order
                (1, 1, 9, 0, "view"),
                (1, 1, 10, 0, "click"),
                (1, 1, 11, 0, "purchase"),
                # u2: click BEFORE view → click stage not reached
                (2, 1, 8, 0, "click"),
                (2, 1, 9, 0, "view"),
                (2, 1, 10, 0, "purchase"),
                # u3: no view at all → absent from output
                (3, 1, 9, 0, "click"),
            ],
        )
        out = {
            r["user_id"]: r
            for r in funnel_conversion(ev, ["view", "click", "purchase"]).collect()
        }
        assert set(out) == {1, 2}
        assert out[1]["stages_completed"] == 3
        assert out[2]["stages_completed"] == 1
        assert out[2]["t_click"] is None and out[2]["t_purchase"] is None

    def test_equal_timestamp_not_after(self, spark):
        # strictly-after contract: a click at the exact view instant
        # does NOT advance the funnel
        ev = _ev(spark, [(1, 1, 9, 0, "view"), (1, 1, 9, 0, "click")])
        [r] = funnel_conversion(ev, ["view", "click"]).collect()
        assert r["stages_completed"] == 1 and r["t_click"] is None

    def test_later_step_instance_chosen(self, spark):
        # an early purchase (before the click) must be skipped in favor
        # of the first purchase AFTER the click
        ev = _ev(
            spark,
            [
                (1, 1, 9, 0, "view"),
                (1, 1, 9, 30, "purchase"),
                (1, 1, 10, 0, "click"),
                (1, 1, 12, 0, "purchase"),
            ],
        )
        [r] = funnel_conversion(ev, ["view", "click", "purchase"]).collect()
        assert r["t_purchase"] == dt.datetime(2024, 1, 1, 12, 0)

    def test_needs_two_steps(self, spark):
        ev = _ev(spark, [(1, 1, 9, 0, "view")])
        with pytest.raises(ValueError):
            funnel_conversion(ev, ["view"])


class TestRetention:
    def test_offsets_and_sizes(self, spark):
        # 2024-01-01 is a Monday: week cohorts align to it exactly
        ev = _ev(
            spark,
            [
                (1, 1, 9, 0, "view"),   # cohort wk0
                (1, 10, 9, 0, "view"),  # active wk1
                (2, 2, 9, 0, "view"),   # cohort wk0, only wk0
                (3, 9, 9, 0, "view"),   # cohort wk1
            ],
        )
        cells = {
            (r["cohort_period"], r["period_offset"]): r
            for r in cohort_retention(ev).collect()
        }
        assert cells[("2024-01-01", 0)]["active_users"] == 2
        assert cells[("2024-01-01", 0)]["cohort_size"] == 2
        assert cells[("2024-01-01", 1)]["active_users"] == 1
        assert cells[("2024-01-01", 1)]["retention_rate"] == 0.5
        assert cells[("2024-01-08", 0)]["active_users"] == 1
        assert ("2024-01-08", 1) not in cells


class TestRollingZscore:
    def _daily(self, spark, counts):
        rows = []
        for day, n in enumerate(counts, start=1):
            rows += [(1, day, 0, m % 60, "view") for m in range(n)]
        return _ev(spark, rows)

    def test_spike_flagged_short_baseline_not(self, spark):
        # 8 flat days then a big spike: the spike must be flagged; the
        # first day (no baseline) and second (single-obs stddev null)
        # must have null z and no flag
        ev = self._daily(spark, [10, 10, 11, 10, 11, 10, 11, 10, 50])
        rows = {
            r["day"]: r
            for r in rolling_zscore_anomalies(ev).collect()
        }
        assert rows["2024-01-01"]["z_score"] is None
        assert rows["2024-01-01"]["is_anomaly"] is False
        assert rows["2024-01-02"]["z_score"] is None
        assert rows["2024-01-09"]["is_anomaly"] is True
        assert rows["2024-01-09"]["z_score"] > 2

    def test_zero_variance_never_divides(self, spark):
        # identical preceding counts → stddev 0 → z must be null, not inf
        ev = self._daily(spark, [5, 5, 5, 9])
        rows = {
            r["day"]: r
            for r in rolling_zscore_anomalies(ev).collect()
        }
        assert rows["2024-01-04"]["z_score"] is None
        assert rows["2024-01-04"]["is_anomaly"] is False
        assert rows["2024-01-04"]["trailing_std"] == 0.0


def test_weekday_anomaly_flags_broken_sunday_only(spark):
    """A feed with strong weekly rhythm: low Sundays are NORMAL for the
    weekday-seasonal monitor; only the collapsed final Sunday flags."""
    import datetime as dt

    from big_data_validator_spark.operators.events_analytics import (
        weekday_seasonal_anomalies,
    )

    base = dt.datetime(2024, 1, 1)  # a Monday
    rows = []
    eid = 0
    # per-week jitter wide enough that ordinary variation stays inside
    # 2 sigma of any trailing window, but a collapse does not
    jitter = [3, 11, 0, 8, 14, 5]
    for d in range(7 * 6):  # six weeks
        day = base + dt.timedelta(days=d)
        is_sunday = day.weekday() == 6
        n = (10 if is_sunday else 100) + jitter[d // 7]
        # final Sunday collapses to 1 event
        if is_sunday and d >= 7 * 5:
            n = 1
        for _ in range(n):
            rows.append((eid, day + dt.timedelta(seconds=eid % 3600)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = weekday_seasonal_anomalies(df, "ts")
    got = {r["day"]: r for r in out.collect()}
    flagged = [d for d, r in got.items() if r["is_anomaly"]]
    assert flagged == ["2024-02-11"], flagged  # the collapsed Sunday
    # ordinary low Sundays are unflagged and their z is vs SUNDAY peers
    ok_sunday = got["2024-02-04"]
    assert ok_sunday["dow"] == 1 and ok_sunday["is_anomaly"] is False
    assert ok_sunday["baseline_mean"] is not None
    assert ok_sunday["baseline_mean"] < 20  # sunday-only baseline
    # first two occurrences of each weekday have <2 history → NULL z
    assert got["2024-01-01"]["z_score"] is None
    assert got["2024-01-08"]["z_score"] is None


# --------------------------------------------- rolling distinct counts

def test_rolling_distinct_matches_bruteforce(spark):
    """Interval-explode formulation == brute-force per-day set union
    over the trailing window, incl. users active on several days (must
    count once) and gap days (absent from output)."""
    import datetime

    from big_data_validator_spark.operators.events_analytics import (
        rolling_distinct_counts,
    )

    T = datetime.datetime
    rows = [
        (T(2024, 1, 1, 5), 1), (T(2024, 1, 1, 6), 2),
        (T(2024, 1, 2, 5), 1),                     # u1 again next day
        (T(2024, 1, 5, 5), 3),
        (T(2024, 1, 20, 5), 1),                    # far gap: fresh window
        (T(2024, 1, 22, 5), 4), (T(2024, 1, 22, 6), 1),
    ]
    df = spark.createDataFrame(rows, ["ts", "user_id"])
    got = {
        r.day.strftime("%Y-%m-%d"): r.distinct_entities
        for r in rolling_distinct_counts(
            df, "user_id", "ts", window_days=7
        ).collect()
    }
    # brute force
    import collections

    days = sorted({t.date() for t, _ in rows})
    want = {}
    for d in days:
        s = {
            u
            for t, u in rows
            if d - datetime.timedelta(days=6) <= t.date() <= d
        }
        want[d.strftime("%Y-%m-%d")] = len(s)
    assert got == want
    assert got["2024-01-02"] == 2      # u1 deduped across days
    assert "2024-01-03" not in got     # gap day absent


def test_rolling_distinct_window_one_is_daily_distinct(spark):
    import datetime

    from big_data_validator_spark.operators.events_analytics import (
        rolling_distinct_counts,
    )

    T = datetime.datetime
    rows = [(T(2024, 1, 1, 1), 1), (T(2024, 1, 1, 2), 1), (T(2024, 1, 2, 1), 2)]
    df = spark.createDataFrame(rows, ["ts", "user_id"])
    got = {
        r.day.strftime("%Y-%m-%d"): r.distinct_entities
        for r in rolling_distinct_counts(df, "user_id", window_days=1).collect()
    }
    assert got == {"2024-01-01": 1, "2024-01-02": 1}


def test_rolling_distinct_rejects_bad_window(spark):
    import pytest as _pytest

    from big_data_validator_spark.operators.events_analytics import (
        rolling_distinct_counts,
    )

    df = spark.createDataFrame([], "ts timestamp, user_id bigint")
    with _pytest.raises(ValueError):
        rolling_distinct_counts(df, "user_id", window_days=0)


# ------------------------------------------------------ markov transitions

def test_markov_transitions_counts_and_probabilities(spark):
    from big_data_validator_spark.operators.events_analytics import (
        markov_transitions,
    )

    # user 1: a -> b -> a ; user 2: a -> b  (ordered by ts, then id)
    df = spark.createDataFrame(
        [
            (1, 1, 10, "a"), (2, 1, 20, "b"), (3, 1, 30, "a"),
            (4, 2, 10, "a"), (5, 2, 20, "b"),
        ],
        ["event_id", "user_id", "ts", "event_type"],
    )
    got = {
        (r["src"], r["dst"]): (r["n_trans"], r["p"])
        for r in markov_transitions(df).collect()
    }
    assert got == {("a", "b"): (2, 1.0), ("b", "a"): (1, 1.0)}


def test_markov_transitions_tiebreak_within_equal_ts(spark):
    from big_data_validator_spark.operators.events_analytics import (
        markov_transitions,
    )

    # equal ts: order falls back to event_id, so the sequence is a,b,c
    df = spark.createDataFrame(
        [(1, 1, 10, "a"), (2, 1, 10, "b"), (3, 1, 10, "c")],
        ["event_id", "user_id", "ts", "event_type"],
    )
    got = {
        (r["src"], r["dst"]) for r in markov_transitions(df).collect()
    }
    assert got == {("a", "b"), ("b", "c")}


def test_markov_transitions_never_cross_users(spark):
    from big_data_validator_spark.operators.events_analytics import (
        markov_transitions,
    )

    df = spark.createDataFrame(
        [(1, 1, 10, "a"), (2, 2, 20, "b")],
        ["event_id", "user_id", "ts", "event_type"],
    )
    assert markov_transitions(df).count() == 0


def test_markov_row_probabilities_sum_to_one(spark):
    from big_data_validator_spark.operators.events_analytics import (
        markov_transitions,
    )
    import random

    rng = random.Random(3)
    rows = [
        (i, i % 7, i, rng.choice(["x", "y", "z"]))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    out = markov_transitions(df).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["src"], 0.0)
        by_src[r["src"]] += r["p"]
    for src, total in by_src.items():
        assert abs(total - 1.0) < 1e-4, (src, total)


# ------------------------------------------------------ Kaplan-Meier

def test_survival_km_hand_example_with_censoring(spark):
    from big_data_validator_spark.operators.events_analytics import (
        survival_km,
    )

    # deaths at t=1 (2 of 5 at risk) and t=3 (2 of 2 at risk);
    # one censored subject at t=2 leaves the risk set silently
    df = spark.createDataFrame(
        [(1, True), (1, True), (2, False), (3, True), (3, True)],
        ["t", "obs"],
    )
    rows = {r["t"]: r for r in survival_km(df, "t", "obs").collect()}
    assert set(rows) == {1, 3}  # censor-only times emit no step
    assert (rows[1]["n_at_risk"], rows[1]["n_deaths"]) == (5, 2)
    assert rows[1]["survival"] == 0.6
    # terminal step: everyone at risk dies -> exact 0, no ln(0)
    assert (rows[3]["n_at_risk"], rows[3]["n_deaths"]) == (2, 2)
    assert rows[3]["survival"] == 0.0


def _km_brute(samples):
    """Textbook product-limit estimator over (duration, observed)."""
    times = sorted({t for t, o in samples if o})
    out, s = {}, 1.0
    for t in times:
        n = sum(1 for u, _ in samples if u >= t)
        d = sum(1 for u, o in samples if u == t and o)
        s *= 1 - d / n
        out[t] = (n, d, round(s, 6))
    return out


def test_survival_km_matches_brute_force(spark):
    from big_data_validator_spark.operators.events_analytics import (
        survival_km,
    )
    import random

    rng = random.Random(5)
    samples = [
        (rng.randrange(0, 15), rng.random() < 0.7) for _ in range(200)
    ]
    df = spark.createDataFrame(samples, ["t", "obs"])
    got = {
        r["t"]: (r["n_at_risk"], r["n_deaths"], r["survival"])
        for r in survival_km(df, "t", "obs").collect()
    }
    assert got == _km_brute(samples)


def test_survival_km_no_censoring_equals_empirical(spark):
    from big_data_validator_spark.operators.events_analytics import (
        survival_km,
    )

    samples = [(t, True) for t in [0, 0, 1, 2, 2, 2, 5, 9]]
    df = spark.createDataFrame(samples, ["t", "obs"])
    n = len(samples)
    for r in survival_km(df, "t", "obs").collect():
        empirical = sum(1 for t, _ in samples if t > r["t"]) / n
        assert abs(r["survival"] - empirical) < 1e-6


# ------------------------------------------------- removal attribution

def _attr_events(spark, rows):
    return spark.createDataFrame(
        [(i, u, i, e) for i, (u, e) in enumerate(rows)],
        ["event_id", "user_id", "ts", "event_type"],
    )


def test_removal_attribution_driver_channel_gets_the_credit(spark):
    from big_data_validator_spark.operators.events_analytics import (
        removal_attribution,
    )

    # channel a ALWAYS precedes purchase; channel b always dead-ends.
    rows = []
    for u in range(10):
        rows += [(u, "a"), (u, "purchase")]
    for u in range(10, 15):
        rows += [(u, "b")]
    out = {
        r["channel"]: r
        for r in removal_attribution(
            _attr_events(spark, rows), channels=["a", "b"]
        ).collect()
    }
    # removing a: START->a edges redirect to END, no path to purchase
    assert out["a"]["p_removed"] == 0.0
    assert out["a"]["removal_effect"] == 1.0
    # removing b: b never reached purchase, conversion unchanged
    assert out["b"]["p_removed"] == out["b"]["p_full"]
    assert out["b"]["removal_effect"] == 0.0
    assert out["a"]["attribution_share"] == 1.0


def test_removal_attribution_truncates_at_first_conversion(spark):
    from big_data_validator_spark.operators.events_analytics import (
        removal_attribution,
    )

    # post-purchase activity (u0's trailing b events) must NOT enter
    # the chain: with truncation, b is never observed before purchase,
    # so removing b changes nothing
    rows = [(0, "a"), (0, "purchase"), (0, "b"), (0, "b"),
            (1, "a"), (1, "purchase")]
    out = {
        r["channel"]: r
        for r in removal_attribution(
            _attr_events(spark, rows), channels=["a", "b"]
        ).collect()
    }
    assert out["b"]["removal_effect"] == 0.0
    assert out["a"]["removal_effect"] == 1.0


def test_removal_attribution_shares_sum_to_one(spark):
    from big_data_validator_spark.operators.events_analytics import (
        removal_attribution,
    )
    import random

    rng = random.Random(9)
    rows = []
    for u in range(40):
        for _ in range(rng.randrange(1, 8)):
            rows.append((u, rng.choice(["a", "b", "c", "purchase"])))
    out = removal_attribution(
        _attr_events(spark, rows), channels=["a", "b", "c"]
    ).collect()
    assert abs(sum(r["attribution_share"] for r in out) - 1.0) < 5e-6
    for r in out:
        assert 0.0 <= r["p_removed"] <= r["p_full"] + 1e-9


def test_survival_km_excludes_null_durations(spark):
    from big_data_validator_spark.operators.events_analytics import (
        survival_km,
    )

    # the NULL-duration death must NOT become a first step with the
    # whole population at risk (Spark orders nulls first)
    df = spark.createDataFrame(
        [(None, True), (1, True), (1, False)],
        "t int, obs boolean",
    )
    rows = survival_km(df, "t", "obs").collect()
    assert [r["t"] for r in rows] == [1]
    assert rows[0]["n_at_risk"] == 2
    assert rows[0]["survival"] == 0.5
