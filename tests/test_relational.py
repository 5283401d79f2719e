from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators import relational as R


def test_duplicate_key_groups(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")],
        ["k", "v"],
    )
    got = {r["k"]: r["dup_count"] for r in R.duplicate_key_groups(df, ["k"]).collect()}
    assert got == {1: 2, 3: 3}


def test_uniqueness_metrics_exact(spark):
    df = spark.createDataFrame([(i % 10, i) for i in range(100)], ["k", "v"])
    exact = {
        r["column_name"]: r for r in R.uniqueness_metrics(df, ["k", "v"]).collect()
    }
    assert exact["k"]["distinct_count"] == 10
    assert exact["v"]["distinct_count"] == 100
    assert abs(exact["k"]["uniqueness_ratio"] - 0.1) < 1e-9


def test_completeness_metrics(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, None), (None, None)], ["x", "y"]
    )
    got = {
        r["column_name"]: r for r in R.completeness_metrics(df, ["x", "y"]).collect()
    }
    assert got["x"]["null_count"] == 2
    assert got["y"]["null_count"] == 2
    assert abs(got["x"]["completeness_ratio"] - 0.5) < 1e-9


def test_orphan_rows_broadcast(spark):
    fact = spark.createDataFrame([(1, "x"), (2, "y"), (99, "z")], ["fk", "v"])
    dim = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    orphans = R.orphan_rows(fact, dim, ["fk"], ["pk"])
    assert [r["fk"] for r in orphans.collect()] == [99]
    # the dim side must actually be broadcast in the physical plan
    plan = orphans._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_violation_expr_metrics_single_pass(spark):
    df = spark.createDataFrame([(1,), (200,), (-5,)], ["v"])
    row = R.violation_expr_metrics(
        df, {"too_big": F.col("v") > 100, "negative": F.col("v") < 0}
    ).first()
    assert row["too_big"] == 1 and row["negative"] == 1


def test_snapshot_drift(spark):
    old = spark.createDataFrame([(1,), (2,), (2,), (3,)], ["k"])
    new = spark.createDataFrame([(2,), (2,), (3,), (4,)], ["k"])
    drift = {(r["k"], r["drift_kind"]) for r in R.snapshot_drift(old, new, ["k"]).collect()}
    assert drift == {(4, "added"), (1, "removed")}


def test_distribution_drift_psi(spark):
    import math

    old = spark.createDataFrame([(float(v),) for v in [1, 1, 5, 5, 20, 20]], ["v"])
    new = spark.createDataFrame([(float(v),) for v in [1, 5, 5, 20, 20, 20]], ["v"])
    out = {
        r["bin_id"]: r
        for r in R.distribution_drift_psi(old, new, "v", [2.0, 10.0]).collect()
    }
    # bins: 0 → v<2, 1 → 2<=v<10, 2 → v>=10
    assert abs(out[0]["p_old"] - 2 / 6) < 1e-9 and abs(out[0]["p_new"] - 1 / 6) < 1e-9
    assert abs(out[1]["p_old"] - 2 / 6) < 1e-9 and abs(out[1]["p_new"] - 2 / 6) < 1e-9
    assert abs(out[2]["p_old"] - 2 / 6) < 1e-9 and abs(out[2]["p_new"] - 3 / 6) < 1e-9
    expected_term0 = (1 / 6 - 2 / 6) * math.log((1 / 6 + 1e-6) / (2 / 6 + 1e-6))
    assert abs(out[0]["psi_term"] - expected_term0) < 1e-6
    assert abs(out[1]["psi_term"]) < 1e-6  # unchanged bin contributes ~0
    # identical snapshots → PSI == 0
    same = R.distribution_drift_psi(old, old, "v", [2.0, 10.0]).collect()
    assert all(abs(r["psi_term"]) < 1e-9 for r in same)


def test_distribution_drift_psi_split_matches_two_frame(spark):
    """VERDICT r9 item 6: the one-scan conditional-aggregation form must
    produce the exact numbers of the two-frame form over the same
    predicates — including a bin that only one side populates and a bin
    neither touches."""
    rows = [(i, float(v)) for i, v in enumerate([1, 1, 5, 5, 20, 20, 1, 5, 5, 20, 20, 20])]
    df = spark.createDataFrame(rows, ["k", "v"])
    old_pred = F.col("k") < 6
    new_pred = F.col("k") >= 6
    split = sorted(
        tuple(r)
        for r in R.distribution_drift_psi_split(
            df, "v", [2.0, 10.0, 100.0], old_pred, new_pred
        ).collect()
    )
    two = sorted(
        tuple(r)
        for r in R.distribution_drift_psi(
            df.filter(old_pred), df.filter(new_pred), "v", [2.0, 10.0, 100.0]
        ).collect()
    )
    assert split == two


def test_distribution_drift_psi_split_scans_source_once(spark, tmp_path):
    """The split form's whole point: ONE scan of the source table where
    the two-frame form plans two (VERDICT r9: drift_psi_totalprice read
    orders twice)."""
    src = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 37).cast("double").alias("v")
    ).write.parquet(src)
    t = spark.read.parquet(src)

    def n_scans(frame):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        return plan.count("Scan parquet")

    split = R.distribution_drift_psi_split(
        t, "v", [10.0], F.col("k") % 2 == 0, F.col("k") % 2 == 1
    )
    two = R.distribution_drift_psi(
        t.filter(F.col("k") % 2 == 0), t.filter(F.col("k") % 2 == 1),
        "v", [10.0],
    )
    assert n_scans(split) == 1
    assert n_scans(two) == 2  # the waste the split form exists to avoid


def test_distribution_stats_grouped(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0)], ["g", "v"]
    )
    got = {r["g"]: r for r in R.distribution_stats(df, "v", ["g"]).collect()}
    assert got["a"]["avg_value"] == 2.0
    assert got["b"]["value_count"] == 1


def test_salted_aggregate_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(500)] + [("cold", 1.0), ("cold", 2.0)],
        ["k", "v"],
    )
    got = {
        r["k"]: (r["total"], r["cnt"])
        for r in R.salted_aggregate(
            df, ["k"], {"total": F.sum("v"), "cnt": F.count(F.lit(1))}
        ).collect()
    }
    assert got["hot"] == (sum(range(500)), 500)
    assert got["cold"] == (3.0, 2)


def test_bucketed_join_is_co_located(spark, tmp_path):
    """Bucketed tables joined on the bucket key: neither side shuffles —
    the 100 TB co-location story (SortMergeJoin reads pre-bucketed
    files)."""
    fact = spark.createDataFrame(
        [(i % 50, f"p{i}") for i in range(1000)], ["k", "payload"]
    )
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(50)], ["k", "name"])
    fact.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("fact_b")
    dim.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("dim_b")
    joined = spark.table("fact_b").join(spark.table("dim_b"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == 1000
    spark.sql("DROP TABLE fact_b")
    spark.sql("DROP TABLE dim_b")


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "e1"),
         (1, "2024-01-01 12:00:00", "e2"),
         (2, "2024-01-01 09:00:00", "e3"),
         (3, "2024-01-01 09:00:00", "e4")],
        ["uid", "ts", "tag"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 100.0),
         (1, "2024-01-01 12:00:00", 200.0),   # equal ts → inclusive match
         (2, "2024-01-01 11:00:00", 300.0)],  # after e3 → no match
        ["uid", "rts", "price"],
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    out = R.asof_join(
        left, right, "uid", "uid", "ts", "rts", value_cols=["price"]
    )
    got = {r["tag"]: r["price"] for r in out.collect()}
    assert got == {"e1": 100.0, "e2": 200.0, "e3": None, "e4": None}
    # each row shuffles once on the key: Spark pushes the exchange below
    # the union (one per branch), and nothing reshuffles after the window
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2


def test_range_bucket_join_broadcast(spark):
    fact = spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, 149.9), (4, -1.0)], ["id", "v"]
    )
    buckets = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0)], ["bucket_name", "lo", "hi"]
    )
    out = R.range_bucket_join(fact, buckets, "v")
    got = {r["id"]: r["bucket_name"] for r in out.collect()}
    assert got == {1: "low", 2: "mid", 3: "mid", 4: None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_binned_range_join_matches_nested_loop(spark):
    """The equi-join-on-bins formulation must return EXACTLY the pairs of
    the nested-loop predicate — overlapping intervals, boundary points
    (inclusive lo, exclusive hi), intervals spanning many bins, and
    points matching nothing."""
    import random

    rng = random.Random(11)
    points = spark.createDataFrame(
        [(i, round(rng.uniform(-50, 250), 3)) for i in range(400)]
        + [(1000, 0.0), (1001, 10.0), (1002, 249.999)],  # exact boundaries
        ["pid", "v"],
    )
    intervals = spark.createDataFrame(
        [
            (j, lo, lo + rng.uniform(0.5, 80))
            for j in range(60)
            for lo in [rng.uniform(-60, 240)]
        ]
        + [(500, 0.0, 10.0), (501, 10.0, 10.0)],  # empty interval 501
        ["iid", "lo", "hi"],
    )
    binned = {
        (r["pid"], r["iid"])
        for r in R.binned_range_join(
            points, intervals, "v", bin_width=7.0
        ).collect()
    }
    nested = {
        (r["pid"], r["iid"])
        for r in points.join(
            intervals,
            (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi")),
        ).collect()
    }
    assert binned == nested and len(binned) > 100
    # the join is a hash/merge EQUI-join on the bin — not a nested loop
    plan = R.binned_range_join(
        points, intervals, "v", bin_width=7.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan


def test_heavy_hitters_exact_after_verify(spark):
    # 3 hot values (30%, 20%, 10%) + 400 singletons; support 5% must
    # return exactly the hot three with exact counts
    rows = (
        [(1,)] * 300 + [(2,)] * 200 + [(3,)] * 100
        + [(1000 + i,) for i in range(400)]
    )
    df = spark.createDataFrame(rows, ["v"])
    sc = spark.sparkContext
    sc.setJobGroup("hh-internal", "heavy_hitters internal actions")
    out = R.heavy_hitters(df, "v", support=0.05)
    # building the plan runs ONLY the sketch pass (2 jobs: the freqItems
    # aggregate + its first()) — the grand total is fused into the verify
    # aggregation, so the pre-fuse third job (count()) must NOT appear
    internal = sc.statusTracker().getJobIdsForGroup("hh-internal")
    sc.setJobGroup("hh-collect", "")
    assert len(internal) <= 2, f"expected sketch-only jobs, got {internal}"
    got = [(r["value"], r["exact_count"], r["share"]) for r in out.collect()]
    assert got == [(1, 300, 0.3), (2, 200, 0.2), (3, 100, 0.1)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        R.heavy_hitters(df, "v", support=0.0)
    with _pytest.raises(ValueError):
        R.heavy_hitters(df, "v", support=5e-5)  # below freqItems' 1e-4 floor


def test_heavy_hitters_exact_threshold_not_rounded(spark):
    """The verify filter must compare exact counts, not the 6-decimal
    display share: value 7 here has share 500001/1000000 > 0.5 support,
    a margin of 1e-6-ish that display rounding would erase."""
    n_hot, n_rest = 500_001, 499_999
    df = (
        spark.range(n_hot + n_rest)
        .selectExpr("CASE WHEN id < 500001 THEN 7 ELSE id END AS v")
    )
    got = R.heavy_hitters(df, "v", support=0.5).collect()
    assert [(r["value"], r["exact_count"]) for r in got] == [(7, n_hot)]


def test_heavy_hitters_empty_candidates_native_type(spark):
    # all-null column: null is not a reportable heavy hitter, so the
    # candidate set is empty — the early-return frame must still carry
    # the column's NATIVE type, not a hardcoded string
    df = spark.createDataFrame([(None,), (None,)], "v double")
    out = R.heavy_hitters(df, "v", support=0.5)
    assert out.count() == 0
    assert dict(out.dtypes)["value"] == "double"


def test_binned_interval_overlap_matches_nested_loop(spark):
    """Overlap join on random intervals must equal the nested-loop pair
    set, with NO duplicate pairs (a pair can share many bins; the
    canonical-bin filter must count it once)."""
    import random

    rng = random.Random(23)
    mk = lambda n, base: [
        (base + j, lo, lo + rng.uniform(0.1, 60))
        for j in range(n)
        for lo in [rng.uniform(-40, 200)]
    ]
    left = spark.createDataFrame(
        mk(80, 0) + [(900, 0.0, 0.0)], ["lid", "l_lo", "l_hi"]
    )
    right = spark.createDataFrame(
        mk(80, 1000) + [(1900, -100.0, 300.0)],  # one giant interval
        ["rid", "r_lo", "r_hi"],
    )
    got = [
        (r["lid"], r["rid"])
        for r in R.binned_interval_overlap_join(
            left, right, "l_lo", "l_hi", "r_lo", "r_hi", bin_width=9.0
        ).collect()
    ]
    nested = {
        (r["lid"], r["rid"])
        for r in left.join(
            right,
            (F.col("l_lo") < F.col("r_hi")) & (F.col("r_lo") < F.col("l_hi")),
        ).collect()
    }
    assert len(got) == len(set(got)), "duplicate pairs emitted"
    assert set(got) == nested and len(nested) > 100


def test_binned_range_join_rejects_nonpositive_width(spark):
    points = spark.createDataFrame([(1, 5.0)], ["pid", "v"])
    intervals = spark.createDataFrame([(1, 0.0, 10.0)], ["iid", "lo", "hi"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        R.binned_range_join(points, intervals, "v", bin_width=0.0)


def test_binned_join_degenerate_interval_fails_fast(spark):
    """A single outlier interval 10^6× the bin width must raise a
    diagnostic USER_RAISED_EXCEPTION, not explode to a million bins."""
    import pytest as _pytest

    points = spark.createDataFrame([(1, 5.0)], ["pid", "v"])
    intervals = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 0.0, 9_999_999.0)], ["iid", "lo", "hi"]
    )
    with _pytest.raises(Exception, match="max_bins_per_interval"):
        R.binned_range_join(
            points, intervals, "v", bin_width=1.0
        ).collect()
    # the cap is configurable: a big-enough cap lets the same input run
    ok = R.binned_range_join(
        points,
        intervals,
        "v",
        bin_width=1.0,
        max_bins_per_interval=20_000_000,
    ).collect()
    assert sorted((r["pid"], r["iid"]) for r in ok) == [(1, 1), (1, 2)]
    with _pytest.raises(Exception, match="max_bins_per_interval"):
        R.binned_interval_overlap_join(
            intervals,
            intervals.selectExpr(
                "iid AS rid", "lo AS rlo", "hi AS rhi"
            ),
            "lo",
            "hi",
            "rlo",
            "rhi",
            bin_width=1.0,
        ).collect()


def test_top_k_deterministic_and_take_ordered(spark):
    df = spark.createDataFrame([(i, i % 3) for i in range(100)], ["id", "v"])
    top = R.top_k_by(df, "v", 5, tiebreak_cols=["id"])
    rows = top.collect()
    assert len(rows) == 5
    assert [r["id"] for r in rows] == [2, 5, 8, 11, 14]  # v=2 ties → id asc
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # no global sort at scale


def test_approx_distinct_error_bound(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    approx = E.queries()["agg_approx_distinct"](spark, sf).collect()[0]
    exact = E.queries()["agg_count_distinct"](spark, sf).collect()[0]
    for a, e in [
        (approx["ad_orderkey"], exact["d_orderkey"]),
        (approx["ad_partkey"], exact["d_partkey"]),
        (approx["ad_suppkey"], exact["d_suppkey"]),
    ]:
        # rsd=0.01 → generous 5% assertion head-room
        assert abs(a - e) / e < 0.05, (a, e)


def test_outlier_zscore_violations(spark):
    rows = [("g", float(v)) for v in [10, 11, 9, 10, 11, 9, 10, 11, 9, 100]]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = R.outlier_zscore_violations(df, "v", ["grp"], z_threshold=2.0).collect()
    assert [r["v"] for r in out] == [100.0]
    assert out[0]["zscore"] > 2.0
    # constant group (sd == 0) produces no violations, not a div-by-zero
    const = spark.createDataFrame([("c", 5.0)] * 4, ["grp", "v"])
    assert R.outlier_zscore_violations(const, "v", ["grp"]).count() == 0


class TestKsTwoSample:
    def test_hand_computed_and_block_invariance(self, spark):
        from big_data_validator_spark.operators.relational import (
            ks_two_sample,
        )

        a = spark.createDataFrame([(v,) for v in [1.0, 2.0, 3.0, 4.0]], "v double")
        b = spark.createDataFrame([(v,) for v in [3.0, 4.0, 5.0, 6.0]], "v double")
        # F_a - F_b maximal at v=2: |2/4 - 0/4| = 0.5
        for w in (0.5, 1.0, 2.5, 1000.0):
            [r] = ks_two_sample(a, b, "v", bin_width=w).collect()
            assert (r["ks_stat"], r["n_a"], r["n_b"]) == (0.5, 4, 4), w

    def test_identical_distributions_zero(self, spark):
        from big_data_validator_spark.operators.relational import (
            ks_two_sample,
        )

        a = spark.range(100).select((F.col("id") % 10).cast("double").alias("v"))
        [r] = ks_two_sample(a, a, "v", bin_width=3.0).collect()
        assert r["ks_stat"] == 0.0

    def test_nulls_excluded_and_validation(self, spark):
        import pytest

        from big_data_validator_spark.operators.relational import (
            ks_two_sample,
        )

        a = spark.createDataFrame([(1.0,), (None,)], "v double")
        b = spark.createDataFrame([(2.0,), (None,)], "v double")
        [r] = ks_two_sample(a, b, "v", bin_width=1.0).collect()
        assert (r["n_a"], r["n_b"]) == (1, 1) and r["ks_stat"] == 1.0
        with pytest.raises(ValueError):
            ks_two_sample(a, b, "v", bin_width=0)


def test_asof_nearest_directions_ties_and_tolerance(spark):
    """Nearest as-of: picks the closer side, ties go backward, exact-ts
    counts as backward, tolerance nulls distant matches, single-side
    keys fall back to whichever exists."""
    import datetime as dt

    from big_data_validator_spark.operators.relational import (
        asof_join_nearest,
    )

    T = lambda s: dt.datetime(2024, 1, 1, 12, 0, s)
    left = spark.createDataFrame(
        [
            (1, T(30)),   # clicks at 10 and 40 → forward (10 vs 20... )
            (2, T(30)),   # clicks at 20 and 40 → TIE → backward
            (3, T(30)),   # click exactly at 30 → backward, gap 0
            (4, T(30)),   # only click far away → beyond tolerance
            (5, T(30)),   # no clicks at all → NULL
            (6, T(5)),    # only later click → forward
        ],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, T(10)), (1, T(40)),
            (2, T(20)), (2, T(40)),
            (3, T(30)),
            (4, T(0)),
            (6, T(25)),
        ],
        "k long, r_ts timestamp",
    ).withColumn("click_ts", F.col("r_ts"))
    out = asof_join_nearest(
        left, right, "k", "k", "ts", "r_ts", ["click_ts"],
        tolerance_seconds=25,
    )
    got = {r["k"]: r for r in out.collect()}
    assert got[1]["click_ts"] == T(40) and got[1]["asof_gap_us"] == 10_000_000
    assert got[2]["click_ts"] == T(20) and got[2]["asof_gap_us"] == -10_000_000
    assert got[3]["click_ts"] == T(30) and got[3]["asof_gap_us"] == 0
    assert got[4]["click_ts"] is None and got[4]["asof_gap_us"] is None
    assert got[5]["click_ts"] is None
    assert got[6]["click_ts"] == T(25) and got[6]["asof_gap_us"] == 20_000_000
    assert len(got) == 6  # one output row per left row


def test_asof_nearest_excludes_null_keys_and_timestamps(spark):
    import datetime as dt

    from big_data_validator_spark.operators.relational import (
        asof_join_nearest,
    )

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t), (1, None), (None, t)], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t), (1, None), (None, t)], "k long, r_ts timestamp"
    ).withColumn("v", F.col("r_ts"))
    out = asof_join_nearest(
        left, right, "k", "k", "ts", "r_ts", ["v"], tolerance_seconds=60
    ).collect()
    # only the one fully-keyed left row survives, matched to the one
    # fully-keyed right row
    assert len(out) == 1
    assert out[0]["k"] == 1 and out[0]["v"] == t
    assert out[0]["asof_gap_us"] == 0


def test_asof_direction_grid(spark):
    """Direction grid for asof_join_nearest (VERDICT r6 item 3): the
    same fixture evaluated under all three directions — forward picks
    the earliest at-or-after (exact-ts INCLUSIVE, gap 0), backward the
    latest at-or-before, nearest unchanged; tolerance applies per
    direction; unmatched sides are NULL."""
    import datetime as dt

    from big_data_validator_spark.operators.relational import (
        asof_join_nearest,
    )

    T = lambda s: dt.datetime(2024, 1, 1, 12, 0, s)
    left = spark.createDataFrame(
        [
            (1, T(30)),  # clicks at 10 and 40
            (2, T(30)),  # click exactly at 30 plus 20 and 40
            (3, T(30)),  # only earlier click at 20 → no forward match
            (4, T(30)),  # only later click at 55 → fwd beyond tol=20
            (5, T(30)),  # no clicks at all
        ],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, T(10)), (1, T(40)),
            (2, T(20)), (2, T(30)), (2, T(40)),
            (3, T(20)),
            (4, T(55)),
        ],
        "k long, r_ts timestamp",
    ).withColumn("click_ts", F.col("r_ts"))

    def run(direction, tol=3600):  # 3600 s: beyond every gap here
        out = asof_join_nearest(
            left, right, "k", "k", "ts", "r_ts", ["click_ts"],
            tolerance_seconds=tol, direction=direction,
        )
        return {r["k"]: r for r in out.collect()}

    fwd = run("forward")
    assert fwd[1]["click_ts"] == T(40) and fwd[1]["asof_gap_us"] == 10_000_000
    assert fwd[2]["click_ts"] == T(30) and fwd[2]["asof_gap_us"] == 0
    assert fwd[3]["click_ts"] is None and fwd[3]["asof_gap_us"] is None
    assert fwd[4]["click_ts"] == T(55)
    assert fwd[5]["click_ts"] is None

    fwd_tol = run("forward", tol=20)
    assert fwd_tol[4]["click_ts"] is None  # 25 s beyond the 20 s horizon
    assert fwd_tol[1]["click_ts"] == T(40)

    back = run("backward")
    assert back[1]["click_ts"] == T(10) and back[1]["asof_gap_us"] == -20_000_000
    assert back[2]["click_ts"] == T(30) and back[2]["asof_gap_us"] == 0
    assert back[3]["click_ts"] == T(20)
    assert back[4]["click_ts"] is None
    assert back[5]["click_ts"] is None

    near = run("nearest")
    assert near[1]["click_ts"] == T(40)  # 10 ahead beats 20 behind
    assert near[2]["click_ts"] == T(30)
    assert near[3]["click_ts"] == T(20)
    assert near[4]["click_ts"] == T(55)

    with pytest.raises(ValueError, match="direction"):
        asof_join_nearest(
            left, right, "k", "k", "ts", "r_ts", ["click_ts"],
            tolerance_seconds=3600, direction="sideways",
        )


def test_asof_backward_direction_matches_asof_join(spark):
    """asof_join_nearest(direction='backward') must agree with the
    original asof_join fill on non-NULL keyed/timestamped rows."""
    import datetime as dt

    from big_data_validator_spark.operators.relational import (
        asof_join,
        asof_join_nearest,
    )

    T = lambda s: dt.datetime(2024, 1, 1, 12, 0, s)
    left = spark.createDataFrame(
        [(k, T(s)) for k in (1, 2, 3) for s in (5, 15, 25, 35)],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, T(10)), (1, T(20)), (2, T(25)), (3, T(40))],
        "k long, r_ts timestamp",
    ).withColumn("v", F.col("r_ts"))
    a = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, right, "k", "k", "ts", "r_ts", ["v"]
        ).collect()
    }
    b = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join_nearest(
            left, right, "k", "k", "ts", "r_ts", ["v"],
            tolerance_seconds=3600, direction="backward",
        ).collect()
    }
    assert a == b and len(a) == 12


def test_point_in_time_join_no_future_leakage(spark):
    """Feature-store PIT join: only at-or-before features bind (a future
    feature one microsecond ahead must NOT leak); TTL expires stale
    features; feature_age_us is the non-negative staleness."""
    import datetime as dt

    from big_data_validator_spark.operators.relational import (
        point_in_time_join,
    )

    T = lambda s: dt.datetime(2024, 1, 1, 12, 0, s)
    facts = spark.createDataFrame(
        [(1, T(30)), (2, T(30)), (3, T(30)), (4, T(30))],
        "k long, ts timestamp",
    )
    feats = spark.createDataFrame(
        [
            (1, T(10), 10.0), (1, T(31), 99.0),  # future 99 must not leak
            (2, T(30), 20.0),                     # exact-ts binds, age 0
            (3, T(0), 30.0),                      # stale beyond ttl=25
        ],
        "k long, f_ts timestamp, feat double",
    )
    got = {
        r["k"]: (r["feat"], r["feature_age_us"])
        for r in point_in_time_join(
            facts, feats, key="k", fact_ts="ts", feature_ts="f_ts",
            feature_cols=["feat"], ttl_seconds=25,
        ).collect()
    }
    assert got[1] == (10.0, 20_000_000)   # not the future 99.0
    assert got[2] == (20.0, 0)
    assert got[3] == (None, None)         # expired
    assert got[4] == (None, None)         # no features at all


def test_salted_skew_join_equals_plain_and_fans_hot_key(spark):
    """Salt-invariance: the salted join's result equals the plain inner
    join.  Fan-out: with a shuffle join, the hot key's joined rows land
    in more than one reducer even when every hot row is byte-identical,
    because the salt mixes in the input partition (8 here); a constant
    salt would put them all in one."""
    from big_data_validator_spark.operators.relational import (
        salted_skew_join,
    )

    big = spark.createDataFrame(
        [(0, i) for i in range(80)] + [(k, 1000 + k) for k in range(1, 5)],
        "k long, v long",
    )
    small = spark.createDataFrame(
        [(0, "hot"), (1, "c1"), (2, "c2"), (9, "unmatched")],
        "k long, label string",
    )
    got = sorted(
        tuple(r)
        for r in salted_skew_join(big, small, ["k"], salt=4)
        .select("k", "v", "label")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in big.join(small, ["k"]).select("k", "v", "label").collect()
    )
    assert got == want

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.createDataFrame(
            spark.sparkContext.parallelize([(0, 7)] * 160, 8), "k long, v long"
        )
        joined = salted_skew_join(hot, small, ["k"], salt=8)
        parts = [
            r["p"]
            for r in joined.select(F.spark_partition_id().alias("p")).collect()
        ]
        assert len(parts) == 160
        assert len(set(parts)) >= 2, parts
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_salted_skew_join_no_broadcast_shape(spark):
    """With broadcasting disabled the salted join plans a shuffle join
    keyed on (k, _salt) — the fan-out exists in the PLAN, not only in
    the data."""
    from big_data_validator_spark.operators.relational import (
        salted_skew_join,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(0, 1000).select(
            (F.col("id") % 13).alias("k"), F.col("id").alias("v")
        )
        small = spark.range(0, 13).select(
            F.col("id").alias("k"), F.lit("x").alias("label")
        )
        plan = (
            salted_skew_join(big, small, ["k"], salt=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "_salt" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# --------------------------------------------------- pareto frontier

def _brute_skyline(pts):
    """Reference: p survives iff no q dominates it."""
    out = []
    for i, (c, g) in enumerate(pts):
        dominated = any(
            (qc <= c and qg >= g and (qc < c or qg > g))
            for j, (qc, qg) in enumerate(pts)
            if j != i
        )
        if not dominated:
            out.append((c, g))
    return sorted(out)


@pytest.mark.parametrize("seed", [7, 42, 1999])
@pytest.mark.parametrize("buckets", [None, 8])
def test_pareto_frontier_matches_bruteforce(spark, seed, buckets):
    """Windowed skyline == brute-force dominance scan, with and
    without the bucketed local prefilter, on corpora with duplicate
    points and cost ties."""
    import random

    from big_data_validator_spark.operators.relational import (
        pareto_frontier_2d,
    )

    rng = random.Random(seed)
    pts = [(rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(200)]
    pts += pts[:10]  # exact duplicates: all copies must survive if any does
    df = spark.createDataFrame(pts, ["c", "g"])
    got = sorted(
        (r.c, r.g)
        for r in pareto_frontier_2d(
            df, "c", "g", prefilter_buckets=buckets
        ).collect()
    )
    assert got == _brute_skyline(pts)


def test_pareto_prefilter_is_superset_reducing(spark):
    """The local prefilter must (a) keep every global survivor and
    (b) actually reduce the row count fed to the global sort on an
    anticorrelated-free corpus (positively correlated points have tiny
    frontiers, the prefilter's best case)."""
    from pyspark.sql import functions as F

    from big_data_validator_spark.operators.relational import (
        pareto_frontier_2d,
    )

    pts = [(i, i % 50) for i in range(2000)]  # frontier: cost 0..49 band
    df = spark.createDataFrame(pts, ["c", "g"])
    full = sorted(
        (r.c, r.g) for r in pareto_frontier_2d(df, "c", "g", None).collect()
    )
    pre = sorted(
        (r.c, r.g) for r in pareto_frontier_2d(df, "c", "g", 16).collect()
    )
    assert pre == full


# ------------------------------------------------------ wasserstein drift

def _w1_brute(a_vals, b_vals, unit_scale=1.0):
    """Textbook W1 between empirical distributions of integer samples."""
    support = sorted(set(a_vals) | set(b_vals))
    na, nb = len(a_vals), len(b_vals)
    total = 0
    for v, nxt in zip(support, support[1:]):
        cuma = sum(1 for x in a_vals if x <= v)
        cumb = sum(1 for x in b_vals if x <= v)
        total += abs(cuma * nb - cumb * na) * (nxt - v)
    return round(total / (na * nb * unit_scale), 6)


def test_wasserstein_hand_example(spark):
    # a = {0, 100}, b = {50, 150}: every unit of mass moves 50 → W1 = 50
    a = spark.createDataFrame([(0,), (100,)], ["v"])
    b = spark.createDataFrame([(50,), (150,)], ["v"])
    row = R.wasserstein_1d(a, b, "v", bin_width=10).first()
    assert row["w1_stat"] == 50.0
    assert (row["n_a"], row["n_b"]) == (2, 2)


def test_wasserstein_matches_brute_force(spark):
    import random

    rng = random.Random(7)
    av = [rng.randrange(0, 500) for _ in range(80)]
    bv = [rng.randrange(100, 700) for _ in range(120)]
    a = spark.createDataFrame([(v,) for v in av], ["v"])
    b = spark.createDataFrame([(v,) for v in bv], ["v"])
    row = R.wasserstein_1d(a, b, "v", bin_width=37).first()
    assert row["w1_stat"] == _w1_brute(av, bv)


def test_wasserstein_block_width_invariance(spark):
    import random

    rng = random.Random(11)
    av = [rng.randrange(0, 1000) for _ in range(60)]
    bv = [rng.randrange(0, 1000) for _ in range(60)]
    a = spark.createDataFrame([(v,) for v in av], ["v"])
    b = spark.createDataFrame([(v,) for v in bv], ["v"])
    stats = {
        R.wasserstein_1d(a, b, "v", bin_width=w).first()["w1_stat"]
        for w in (1, 13, 100, 10_000)
    }
    assert len(stats) == 1  # bin_width sets granularity, never the value


def test_wasserstein_excludes_nulls_and_scales_units(spark):
    a = spark.createDataFrame([(0,), (None,), (100,)], ["v"])
    b = spark.createDataFrame([(50,), (150,), (None,)], ["v"])
    row = R.wasserstein_1d(a, b, "v", bin_width=10, unit_scale=100.0).first()
    assert row["w1_stat"] == 0.5  # 50 cents = 0.5 dollars
    assert (row["n_a"], row["n_b"]) == (2, 2)


def test_wasserstein_identical_distributions_zero(spark):
    a = spark.createDataFrame([(i,) for i in range(50)], ["v"])
    row = R.wasserstein_1d(a, a, "v", bin_width=7).first()
    assert row["w1_stat"] == 0.0


def test_wasserstein_negative_values_and_single_point(spark):
    # summation by parts weights each term by v itself: negative values
    # and a one-point pool (W1 = 0 with real counts) must stay exact
    av = [-900, -35, -35, 0, 12, 400]
    bv = [-1200, -36, 7, 7, 7, 950, 951]
    a = spark.createDataFrame([(v,) for v in av], ["v"])
    b = spark.createDataFrame([(v,) for v in bv], ["v"])
    row = R.wasserstein_1d(a, b, "v", bin_width=64).first()
    assert row["w1_stat"] == _w1_brute(av, bv)
    one = spark.createDataFrame([(-5,), (-5,)], ["v"])
    row = R.wasserstein_1d(one, one, "v", bin_width=3).first()
    assert (row["w1_stat"], row["n_a"], row["n_b"]) == (0.0, 2, 2)


def test_wasserstein_rejects_bad_bin_width(spark):
    a = spark.createDataFrame([(1,)], ["v"])
    with pytest.raises(ValueError):
        R.wasserstein_1d(a, a, "v", bin_width=0)


def test_winsorized_group_stats_matches_brute_force(spark):
    import random

    rng = random.Random(31)
    rows = [
        (g, rng.randrange(0, 1000))
        for g in ("x", "y")
        for _ in range(200)
    ] + [("x", 10_000_000), ("y", -10_000_000)]  # extreme outliers
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {
        r["g"]: r
        for r in R.winsorized_group_stats(
            df, "g", "v", lo_ppm=50_000, hi_ppm=950_000
        ).collect()
    }

    def brute(vals, lo_q=0.05, hi_q=0.95):
        s = sorted(vals)
        n = len(s)
        lo = s[(50_000 * n + 999_999) // 1_000_000 - 1]
        hi = s[(950_000 * n + 999_999) // 1_000_000 - 1]
        ws = sum(max(min(x, hi), lo) for x in s)
        q = abs(ws * 1_000_000) // n
        return n, lo, hi, (q if ws >= 0 else -q)

    for g in ("x", "y"):
        vals = [v for gg, v in rows if gg == g]
        n, lo, hi, m = brute(vals)
        r = got[g]
        assert (
            r["n_rows"], r["lo_cut"], r["hi_cut"],
            r["winsorized_mean_scaled"],
        ) == (n, lo, hi, m), g
    # the whale order must not own the mean: winsorized mean of x is
    # near the bulk's center, nowhere near the raw mean
    raw_mean_x = sum(v for gg, v in rows if gg == "x") / 201
    assert got["x"]["winsorized_mean_scaled"] / 1e6 < raw_mean_x / 10
    import pytest

    with pytest.raises(ValueError, match="lo_ppm"):
        R.winsorized_group_stats(df, "g", "v", lo_ppm=60, hi_ppm=50)


def _mwu_brute(a_vals, b_vals):
    """Textbook Mann–Whitney with midranks, in doubled-rank integers."""
    pooled = sorted(a_vals + b_vals)
    # doubled midrank per value: 2*C_v + t_v + 1
    from collections import Counter

    cnt = Counter(pooled)
    rank2 = {}
    c = 0
    for v in sorted(cnt):
        rank2[v] = 2 * c + cnt[v] + 1
        c += cnt[v]
    r2a = sum(rank2[v] for v in a_vals)
    n_a, n_b = len(a_vals), len(b_vals)
    u2a = r2a - n_a * (n_a + 1)
    ties = sum(t**3 - t for t in cnt.values())
    n = n_a + n_b
    var = n_a * n_b / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    z = (
        round((u2a - n_a * n_b) / (2.0 * var**0.5), 6)
        if n > 1 and var > 0
        else None
    )
    return n_a, n_b, u2a, 2 * n_a * n_b - u2a, z


def test_mannwhitney_matches_brute_force_with_ties(spark):
    import random

    rng = random.Random(19)
    av = [rng.randrange(0, 40) for _ in range(70)]   # heavy ties
    bv = [rng.randrange(10, 60) for _ in range(90)]
    a = spark.createDataFrame([(v,) for v in av], ["v"])
    b = spark.createDataFrame([(v,) for v in bv], ["v"])
    row = R.mannwhitney_u(a, b, "v", bin_width=7).first()
    assert tuple(row) == _mwu_brute(av, bv)


def test_mannwhitney_block_width_invariance_and_extremes(spark):
    import random

    rng = random.Random(23)
    av = [rng.randrange(0, 500) for _ in range(50)]
    bv = [rng.randrange(0, 500) for _ in range(50)]
    a = spark.createDataFrame([(v,) for v in av], ["v"])
    b = spark.createDataFrame([(v,) for v in bv], ["v"])
    rows = {
        R.mannwhitney_u(a, b, "v", bin_width=w).first()
        for w in (1, 13, 10_000)
    }
    assert len({tuple(r) for r in rows}) == 1  # bin_width never matters
    # complete separation: all a strictly below all b -> U_a = 0
    lo = spark.createDataFrame([(i,) for i in range(10)], ["v"])
    hi = spark.createDataFrame([(i,) for i in range(100, 115)], ["v"])
    r = R.mannwhitney_u(lo, hi, "v", bin_width=8).first()
    assert r["u_a_x2"] == 0 and r["u_b_x2"] == 2 * 10 * 15
    assert r["z"] < -4  # strongly significant shift
    # degenerate pool: a single shared value -> z NULL, U split evenly
    pt = spark.createDataFrame([(7,), (7,)], ["v"])
    r2 = R.mannwhitney_u(pt, pt.limit(1), "v", bin_width=8).first()
    assert r2["z"] is None
    import pytest

    with pytest.raises(ValueError, match="positive"):
        R.mannwhitney_u(lo, hi, "v", bin_width=0)


def test_mannwhitney_by_segment_matches_pairwise_brute_force(spark):
    """Every segment's one-vs-rest row equals the textbook pairwise
    count (2U = 2·#greater + #tied) and the shared-pool z, with heavy
    ties, a tiny all-tied segment, NULL segment/value exclusion, and
    bin_width invariance."""
    import random

    rng = random.Random(41)
    rows = [(rng.choice("ABC"), rng.randrange(0, 12)) for _ in range(400)]
    rows += [("D", 5), ("D", 5), ("D", 5)]
    rows += [(None, 3), ("A", None)]
    df = spark.createDataFrame(rows, "seg string, v long")
    clean = [(g, v) for g, v in rows if g is not None and v is not None]
    from collections import Counter

    for w in (4, 1 << 20):
        got = {
            r["segment"]: r
            for r in R.mannwhitney_by_segment(
                df, "seg", "v", bin_width=w
            ).collect()
        }
        assert set(got) == {"A", "B", "C", "D"}
        for seg in "ABCD":
            a = [v for g, v in clean if g == seg]
            b = [v for g, v in clean if g != seg]
            u2 = sum(
                2 if x > y else (1 if x == y else 0) for x in a for y in b
            )
            n1, n2 = len(a), len(b)
            n = n1 + n2
            ties = sum(
                t**3 - t for t in Counter(v for _, v in clean).values()
            )
            var = n1 * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1)))
            z = round((u2 - n1 * n2) / (2.0 * var**0.5), 6)
            r = got[seg]
            assert (r["n_seg"], r["n_rest"], r["u_seg_x2"]) == (n1, n2, u2)
            assert abs(r["z"] - z) < 1e-9
    # degenerate pool: one shared value across both segments -> z NULL
    dfc = spark.createDataFrame([("A", 1), ("B", 1)], "seg string, v long")
    rc = {
        r["segment"]: r
        for r in R.mannwhitney_by_segment(dfc, "seg", "v").collect()
    }
    assert rc["A"]["z"] is None and rc["A"]["u_seg_x2"] == 1
    import pytest

    with pytest.raises(ValueError, match="positive"):
        R.mannwhitney_by_segment(dfc, "seg", "v", bin_width=0)


def test_wasserstein_point_mass_edge_is_zero_with_counts(spark):
    # Two point masses at the SAME value: the gap frame is empty, the
    # true W1 is 0.0 — the stat must coalesce to 0 and the counts must
    # come from the unfiltered frame, matching wasserstein_by_group's
    # handling of the identical edge (ADVICE r11).
    a = spark.createDataFrame([(42,), (42,), (42,)], ["v"])
    b = spark.createDataFrame([(42,), (42,)], ["v"])
    row = R.wasserstein_1d(a, b, "v", bin_width=10).first()
    assert row["w1_stat"] == 0.0
    assert (row["n_a"], row["n_b"]) == (3, 2)


# ------------------------------------------------------ order inversions

def test_order_inversions_counts_adjacent_decreases(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, 10), ("a", 2, 20), ("a", 3, 15),  # one inversion
            ("b", 1, 5), ("b", 2, 5), ("b", 3, 6),     # monotone (ties ok)
            ("c", 1, 9), ("c", 2, 3), ("c", 3, 1),     # two inversions
        ],
        ["g", "seq", "val"],
    )
    got = {
        r["part"]: (r["n_rows"], r["n_pairs"], r["n_inversions"])
        for r in R.order_inversions(df, "g", "seq", "val").collect()
    }
    # only violating groups are returned; ties are NOT inversions
    assert got == {"a": (3, 2, 1), "c": (3, 2, 2)}


def test_order_inversions_null_values_break_no_pairs(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, None), ("a", 3, 5), ("a", 4, 2)],
        ["g", "seq", "val"],
    )
    row = R.order_inversions(df, "g", "seq", "val").first()
    # pairs: (10,None) no pair, (None,5) no pair... lag sees the previous
    # ROW's value, so (5 after None) has null prev → not a pair; (2 after
    # 5) is the only countable pair and it inverts.
    assert (row["n_pairs"], row["n_inversions"]) == (1, 1)


# ------------------------------------------------------ time-decayed value

def test_time_decayed_value_hand_example(spark):
    df = spark.createDataFrame(
        [("g", 100, 0), ("g", 200, 1)], ["k", "cents", "age"]
    )
    row = R.time_decayed_group_value(df, "k", "cents", "age").first()
    # 100·2^0 + 200·2^-1 = 200 cents = 2.0 units
    assert row["decayed_value"] == 2.0
    assert row["n_rows"] == 2


def test_time_decayed_value_old_rows_round_to_zero(spark):
    df = spark.createDataFrame([("g", 500, 40)], ["k", "cents", "age"])
    row = R.time_decayed_group_value(
        df, "k", "cents", "age", max_shift=32
    ).first()
    # beyond max_shift half-lives the exact weight is below the
    # round-6 quantum: 500·2^-32 cents ≈ 1.2e-9 units
    assert row["decayed_value"] == 0.0


def test_time_decayed_value_rejects_bad_shift(spark):
    df = spark.createDataFrame([("g", 1, 0)], ["k", "cents", "age"])
    with pytest.raises(ValueError):
        R.time_decayed_group_value(df, "k", "cents", "age", max_shift=63)
    with pytest.raises(ValueError):
        R.time_decayed_group_value(df, "k", "cents", "age", max_shift=0)


def test_time_decayed_value_halfway_tie_rounds_half_up(spark):
    # cents=1, age=5, max_shift=32 -> scaled = 2^27, whose unit value
    # 0.0003125 is a TRUE decimal halfway case at 6 decimals (power-of-2
    # denominators make these common).  The integer half-up device must
    # yield 0.000313 — round(double) half-even would give 0.000312 and
    # diverge from engines that round half-up.
    df = spark.createDataFrame([("g", 1, 5)], ["k", "cents", "age"])
    row = R.time_decayed_group_value(df, "k", "cents", "age").first()
    assert row["decayed_value"] == 0.000313


# ------------------------------------------------ grouped wasserstein

def test_wasserstein_by_group_matches_ungrouped_per_segment(spark):
    import random

    rng = random.Random(17)
    rows_a = [(g, rng.randrange(0, 300)) for g in ("x", "y") for _ in range(50)]
    rows_b = [(g, rng.randrange(50, 400)) for g in ("x", "y") for _ in range(70)]
    a = spark.createDataFrame(rows_a, ["g", "v"])
    b = spark.createDataFrame(rows_b, ["g", "v"])
    grouped = {
        r["g"]: (r["w1_stat"], r["n_a"], r["n_b"])
        for r in R.wasserstein_by_group(a, b, "g", "v").collect()
    }
    for g in ("x", "y"):
        solo = R.wasserstein_1d(
            a.filter(F.col("g") == g),
            b.filter(F.col("g") == g),
            "v",
            bin_width=13,
        ).first()
        assert grouped[g] == (solo["w1_stat"], solo["n_a"], solo["n_b"])


def test_wasserstein_by_group_missing_side_and_point_mass(spark):
    a = spark.createDataFrame(
        [("only_a", 5), ("point", 7)], ["g", "v"]
    )
    b = spark.createDataFrame([("point", 7)], ["g", "v"])
    got = {
        r["g"]: r for r in R.wasserstein_by_group(a, b, "g", "v").collect()
    }
    # one-sided group: NULL distance, counts still reported
    assert got["only_a"]["w1_stat"] is None
    assert (got["only_a"]["n_a"], got["only_a"]["n_b"]) == (1, 0)
    # both sides at the same single point: exactly 0, not NULL
    assert got["point"]["w1_stat"] == 0.0


def test_time_decayed_value_clamps_negative_ages(spark):
    # a future-dated row (negative age) must weigh like age 0 — not
    # push the shift past 63 where shiftleft wraps and flips the sign
    df = spark.createDataFrame(
        [("g", 100, -31), ("g", 100, -40), ("g", 100, 0)],
        ["k", "cents", "age"],
    )
    row = R.time_decayed_group_value(df, "k", "cents", "age").first()
    assert row["decayed_value"] == 3.0  # three full-weight rows


def test_time_decayed_value_negative_sum(spark):
    # A refund-heavy group with a NEGATIVE decayed sum must quantize
    # identically to the DuckDB oracle arithmetic.  ADVICE r11 claimed
    # DuckDB's `//` floors while Spark's `div` truncates; in fact BOTH
    # truncate toward zero on integers (SELECT (-7)//2 = -3), so the
    # plain form agrees on every sign — pinned here against LIVE
    # DuckDB, not a Python `//` twin (Python floors and would lie).
    import duckdb

    con = duckdb.connect()
    for rows in (
        [(-1, 5)],                      # negative true halfway tie
        [(-3, 7)],                      # negative non-tie
        [(-7, 3), (5, 9)],              # mixed-sign group, net negative
        [(-100, 0), (99, 0)],           # net -1 cent at full weight
    ):
        df = spark.createDataFrame(
            [("g", c, a) for c, a in rows], ["k", "cents", "age"]
        )
        got = R.time_decayed_group_value(df, "k", "cents", "age").first()
        vals = ", ".join(f"({c}, {a})" for c, a in rows)
        want = con.execute(
            f"""
            WITH base(cents, age) AS (VALUES {vals})
            SELECT CAST((SUM(CAST(cents AS HUGEINT)
                             * (CAST(1 AS HUGEINT)
                                << (32 - LEAST(GREATEST(age, 0), 32))))
                         * 2000000 + 429496729600) // 858993459200
                        AS DOUBLE) / 1000000.0
            FROM base
            """
        ).fetchone()[0]
        assert got["decayed_value"] == want, rows


# ------------------------------------------- Cramér–von Mises drift

def test_cramer_von_mises_matches_rank_reference(spark):
    """CvM T == a from-scratch midrank replay of Anderson's rank form
    on tie-heavy samples; block-width invariant; separation grows with
    shift; identical samples ~ the known -1/(6N) lower region; empty
    side -> NULL; guard raises."""
    import random

    import pytest

    from big_data_validator_spark.operators.relational import (
        cramer_von_mises,
    )

    rng = random.Random(11)
    xs = [rng.randrange(0, 40) for _ in range(150)]       # heavy ties
    ys = [rng.randrange(5, 45) for _ in range(110)]       # shifted
    a = spark.createDataFrame([(v,) for v in xs], ["v"])
    b = spark.createDataFrame([(v,) for v in ys], ["v"])

    def ref(x, y):
        n, m = len(x), len(y)
        pooled = sorted([(v, 0) for v in x] + [(v, 1) for v in y])
        # midrank per value
        from collections import Counter, defaultdict

        cnt = Counter(v for v, _ in pooled)
        below = 0
        mid = {}
        for v in sorted(cnt):
            mid[v] = below + (cnt[v] + 1) / 2
            below += cnt[v]
        rs = sorted(v for v in x)
        ss = sorted(v for v in y)
        u = n * sum((mid[v] - (i + 1)) ** 2 for i, v in enumerate(rs))
        u += m * sum((mid[v] - (j + 1)) ** 2 for j, v in enumerate(ss))
        nn = n + m
        return u / (n * m * nn) - (4 * n * m - 1) / (6 * nn)

    want = round(ref(xs, ys), 6)
    for bw in (1 << 20, 7, 1):
        got = cramer_von_mises(a, b, "v", bin_width=bw).collect()[0]
        assert got["n_a"] == 150 and got["n_b"] == 110
        assert abs(got["cvm_t"] - want) < 2e-6, (bw, got["cvm_t"], want)

    # separation monotone in shift
    far = spark.createDataFrame([(v + 200,) for v in ys], ["v"])
    t_far = cramer_von_mises(a, far, "v").collect()[0]["cvm_t"]
    assert t_far > want
    # identical samples: small statistic near the theoretical floor
    t_same = cramer_von_mises(a, a, "v").collect()[0]["cvm_t"]
    assert t_same < want
    assert abs(t_same - ref(xs, xs)) < 2e-6

    empty = spark.createDataFrame([], "v long")
    assert (
        cramer_von_mises(a, empty, "v").collect()[0]["cvm_t"] is None
    )
    with pytest.raises(ValueError, match="positive"):
        cramer_von_mises(a, b, "v", bin_width=0)


_TWO_SAMPLE_TESTS = {
    # name: (operator, statistic column, statistic on one row each: 1 vs 2)
    "ks": (R.ks_two_sample, "ks_stat", 1.0),
    "w1": (R.wasserstein_1d, "w1_stat", 1.0),
    "mwu": (R.mannwhitney_u, "z", -1.0),
    "cvm": (R.cramer_von_mises, "cvm_t", 0.25),
}
_DEGENERATE_SAMPLES = {
    "empty_side": ([1, 2, 3], []),
    "both_empty": ([], []),
    "all_null_side": ([1, 2, 3], [None, None]),
    "one_row_each": ([1], [2]),
}


@pytest.mark.parametrize("case", list(_DEGENERATE_SAMPLES))
@pytest.mark.parametrize("test", list(_TWO_SAMPLE_TESTS))
def test_two_sample_drift_degenerate_inputs(spark, test, case):
    """Every two-sample drift test has one contract on degenerate
    inputs: the statistic is NULL when either side has no non-null
    value, and ``n_a``/``n_b`` count each side's non-null values
    exactly, 0 for an empty side; one row per side gives the
    statistic's hand-computed value."""
    fn, stat, one_each = _TWO_SAMPLE_TESTS[test]
    xs, ys = _DEGENERATE_SAMPLES[case]
    a = spark.createDataFrame([(v,) for v in xs], "v long")
    b = spark.createDataFrame([(v,) for v in ys], "v long")
    [r] = fn(a, b, "v", bin_width=10).collect()
    n_a = sum(v is not None for v in xs)
    n_b = sum(v is not None for v in ys)
    assert (r["n_a"], r["n_b"]) == (n_a, n_b), r
    assert r[stat] == (one_each if n_a and n_b else None), r


def test_mannwhitney_bh_scan_matches_python_reference(spark):
    """p_cheby_ppm equals the exact integer Chebyshev identity and the
    BH step-up rejects exactly the reference set: a planted strongly
    shifted segment is rejected, null segments are excluded, a
    degenerate all-tied pool ships NULL p/rank/reject, and the
    alpha_ppm guard raises."""
    import random
    from collections import Counter

    import pytest

    rng = random.Random(83)
    rows = [(f"s{i % 8}", rng.randrange(0, 40)) for i in range(800)]
    # 100 fully separated rows: Chebyshev z^2 ~ 3*ng*nr/(N+1) ~ 266,
    # p ~ 3759 ppm, so p*m = 33831 <= 50000*1 — rejected at rank 1
    # (60 rows would give p ~ 5988 and just MISS the conservative
    # bound — Chebyshev needs a stronger effect than a normal test)
    rows += [("hot", rng.randrange(200, 240)) for _ in range(100)]
    df = spark.createDataFrame(rows, "seg string, v long")
    got = {
        r["segment"]: r
        for r in R.mannwhitney_bh_scan(
            df, "seg", "v", alpha_ppm=50_000, bin_width=16
        ).collect()
    }

    # ---- python reference -------------------------------------------
    clean = rows
    pool = Counter(v for _, v in clean)
    N = sum(pool.values())
    T = sum(t**3 - t for t in pool.values())
    below = {}
    c = 0
    for v in sorted(pool):
        below[v] = c
        c += pool[v]
    stats = {}
    for seg in {g for g, _ in clean}:
        vals = [v for g, v in clean if g == seg]
        ng, nr = len(vals), N - len(vals)
        r2 = sum(2 * below[v] + pool[v] + 1 for v in vals)
        u2 = r2 - ng * (ng + 1)
        d = u2 - ng * nr
        num = 3 * d * d * N * (N - 1)
        den = ng * nr * (N * (N - 1) * (N + 1) - T)
        if den <= 0:
            p = None
        elif d == 0 or den >= num:
            p = 1_000_000
        else:
            p = (1_000_000 * den) // num
        stats[seg] = (ng, nr, u2, p)
    tested = sorted(
        ((p, seg) for seg, (_, _, _, p) in stats.items() if p is not None)
    )
    m = len(tested)
    k = max(
        (i for i, (p, _) in enumerate(tested, 1) if p * m <= 50_000 * i),
        default=0,
    )
    rejected = {seg for _, seg in tested[:k]}

    assert set(got) == set(stats)
    for seg, (ng, nr, u2, p) in stats.items():
        g = got[seg]
        assert (g["n_seg"], g["n_rest"], g["u_seg_x2"]) == (ng, nr, u2)
        assert g["p_cheby_ppm"] == p, (seg, g["p_cheby_ppm"], p)
        assert g["bh_reject"] == (seg in rejected), (seg, g)
    assert got["hot"]["bh_reject"] is True
    assert sum(1 for g in got.values() if g["bh_reject"]) == len(rejected)
    # ranks are a permutation of 1..m over tested segments
    assert sorted(g["p_rank"] for g in got.values()) == list(range(1, m + 1))

    # degenerate all-tied pool -> NULL p everywhere
    flat = spark.createDataFrame(
        [("a", 5), ("b", 5), ("a", 5)], "seg string, v long"
    )
    for g in R.mannwhitney_bh_scan(flat, "seg", "v").collect():
        assert g["p_cheby_ppm"] is None and g["bh_reject"] is None

    with pytest.raises(ValueError, match="alpha_ppm"):
        R.mannwhitney_bh_scan(df, "seg", "v", alpha_ppm=0)


def test_mcnemar_paired_rules_matches_hand_counts(spark):
    """The 2x2 table, both ppm statistics and the asymmetry share
    equal hand-computed exact integers; NULL verdicts are excluded;
    no-disagreement and |b-c|<=1 edges behave."""
    rows = (
        [(True, True)] * 10
        + [(True, False)] * 7      # only_a
        + [(False, True)] * 2      # only_b
        + [(False, False)] * 5
        + [(None, True), (True, None)]  # excluded
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = R.mcnemar_paired_rules(df, F.col("a"), F.col("b")).first()
    assert (r["n_rows"], r["both"], r["only_a"], r["only_b"],
            r["neither"]) == (24, 10, 7, 2, 5)
    assert r["mcnemar_x2_ppm"] == ((7 - 2) ** 2 * 1_000_000) // 9
    assert r["mcnemar_cc_x2_ppm"] == ((5 - 1) ** 2 * 1_000_000) // 9
    assert r["only_a_share_ppm"] == (7 * 1_000_000) // 9

    # perfect agreement: discordant cells empty -> NULL statistics
    agree = spark.createDataFrame(
        [(True, True), (False, False)], "a boolean, b boolean"
    )
    r2 = R.mcnemar_paired_rules(agree, F.col("a"), F.col("b")).first()
    assert r2["mcnemar_x2_ppm"] is None and r2["only_a_share_ppm"] is None

    # |b - c| = 1: plain stat positive, continuity-corrected clamps to 0
    near = spark.createDataFrame(
        [(True, False), (True, False), (False, True)],
        "a boolean, b boolean",
    )
    r3 = R.mcnemar_paired_rules(near, F.col("a"), F.col("b")).first()
    assert r3["mcnemar_x2_ppm"] == (1 * 1_000_000) // 3
    assert r3["mcnemar_cc_x2_ppm"] == 0


def test_bad_bin_width_raises_before_anything_is_pinned(spark):
    """Called outside a resource scope, the value-count drift tests check
    ``bin_width`` before they pin their counts: the ValueError leaves no
    cache registered."""
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")], "v long, seg string")
    calls = {
        "ks_two_sample": lambda: R.ks_two_sample(df, df, "v", bin_width=0),
        "wasserstein_1d": lambda: R.wasserstein_1d(df, df, "v", bin_width=0),
        "mannwhitney_u": lambda: R.mannwhitney_u(df, df, "v", bin_width=0),
        "cramer_von_mises": lambda: R.cramer_von_mises(df, df, "v", bin_width=0),
        "mannwhitney_by_segment": lambda: R.mannwhitney_by_segment(df, "seg", "v", bin_width=0),
        "mannwhitney_bh_scan": lambda: R.mannwhitney_bh_scan(df, "seg", "v", bin_width=0),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name, call in calls.items():
        with pytest.raises(ValueError, match="positive"):
            call()
        assert cache.isEmpty(), f"{name} left a cached Dataset"
