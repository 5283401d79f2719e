"""KLL mergeable-quantile-sketch pins (VERDICT r8 item 4):

- rank-error bound: ≤1% of n at k=200 across random inputs (the
  shipped entries assert ±2.5%, so this margin is 2.5×);
- mergeability: merge(sketch(A), sketch(B)) estimates quantiles of
  A ∪ B within the same tolerance as sketch(A ∪ B) built directly;
- determinism: identical input order → identical serialized state;
- Spark plumbing: partials → per-day merge → N-row rollup matches the
  pure-python sketch fed the same values, and the monitor's exact leg
  equals a direct sorted-rank computation.
"""

from __future__ import annotations

import bisect
import math
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_validator_spark.operators.sketches import (
    exact_rank_cdf,
    kll_add_many,
    kll_deserialize,
    kll_merge,
    kll_merge_groups,
    kll_new,
    kll_partial_sketches,
    kll_quantile_monitor,
    kll_quantiles,
    kll_rollup_quantiles,
    kll_serialize,
)

PCTS = (0.01, 0.1, 0.5, 0.9, 0.99)


def _rank_err(data_sorted, est, p):
    n = len(data_sorted)
    r = bisect.bisect_right(data_sorted, est)
    return abs(r - max(1, math.ceil(p * n))) / n


def test_rank_error_bound_random_and_sorted():
    rng = random.Random(11)
    for n, gen in [
        (50_000, lambda: rng.randint(0, 10**9)),
        (120_000, lambda: rng.randint(0, 100)),  # heavy duplicates
    ]:
        data = [gen() for _ in range(n)]
        sk = kll_new(200)
        kll_add_many(sk, data)
        srt = sorted(data)
        for p in PCTS:
            est = kll_quantiles(sk, [p])[0]
            assert _rank_err(srt, est, p) <= 0.01, (n, p)
    # adversarial sorted input (no randomness to help)
    data = list(range(100_000))
    sk = kll_new(200)
    kll_add_many(sk, data)
    for p in PCTS:
        est = kll_quantiles(sk, [p])[0]
        assert _rank_err(data, est, p) <= 0.01, p


def test_merge_equals_union_within_tolerance():
    rng = random.Random(23)
    a = [rng.randint(0, 10**6) for _ in range(40_000)]
    b = [rng.randint(5 * 10**5, 2 * 10**6) for _ in range(60_000)]
    ska, skb, sku = kll_new(200), kll_new(200), kll_new(200)
    kll_add_many(ska, a)
    kll_add_many(skb, b)
    kll_add_many(sku, a + b)
    merged = kll_merge(ska, skb)
    srt = sorted(a + b)
    for p in PCTS:
        em = kll_quantiles(merged, [p])[0]
        eu = kll_quantiles(sku, [p])[0]
        assert _rank_err(srt, em, p) <= 0.01, p
        assert _rank_err(srt, eu, p) <= 0.01, p
    # weight conservation within compaction round-off
    w = sum(len(lvl) << i for i, lvl in enumerate(merged["levels"]))
    assert abs(w - 100_000) / 100_000 < 0.02


def test_determinism_and_serialization_roundtrip():
    rng = random.Random(5)
    data = [rng.randint(-(10**8), 10**8) for _ in range(30_000)]
    s1, s2 = kll_new(64), kll_new(64)
    kll_add_many(s1, data)
    kll_add_many(s2, list(data))
    assert kll_serialize(s1) == kll_serialize(s2)
    assert kll_deserialize(kll_serialize(s1)) == s1


@settings(max_examples=20, deadline=None)
@given(
    data=st.lists(
        st.integers(-(10**9), 10**9), min_size=1, max_size=3000
    ),
    k=st.sampled_from([16, 64, 200]),
)
def test_property_rank_error_small_inputs(data, k):
    """For arbitrary small inputs the estimate's rank error stays under
    the loose bound max(2/k·levels, 1 item) — and inputs that fit in
    level 0 entirely are EXACT."""
    sk = kll_new(k)
    kll_add_many(sk, data)
    srt = sorted(data)
    n = len(data)
    for p in (0.1, 0.5, 0.9):
        est = kll_quantiles(sk, [p])[0]
        r = bisect.bisect_right(srt, est)
        target = max(1, math.ceil(p * n))
        if n <= k:
            assert srt[target - 1] == est, (n, k, p)
        else:
            levels = len(sk["levels"])
            assert abs(r - target) <= max(2 * levels * n / k, 2), (n, k, p)


def test_spark_pipeline_matches_pure_python(spark):
    rng = random.Random(97)
    rows = [
        (i % 7, rng.randint(0, 10**7)) for i in range(20_000)
    ]
    df = spark.createDataFrame(rows, "day int, v long").repartition(8)
    partials = kll_partial_sketches(df, "v", ["day"], k=100)
    per_day = kll_merge_groups(partials, ["day"], k=100)
    days = per_day.collect()
    assert len(days) == 7
    assert sum(r["n_rows"] for r in days) == 20_000
    # per-day sketch quantiles within tolerance of that day's exact
    by_day = {}
    for d, v in rows:
        by_day.setdefault(d, []).append(v)
    for r in days:
        sk = kll_deserialize(r["sketch"])
        srt = sorted(by_day[r["day"]])
        for p in (0.5, 0.9):
            assert _rank_err(srt, kll_quantiles(sk, [p])[0], p) <= 0.02
    # rollup = N-row merge, compared against all-data exact
    est = {
        r["quantile_pct"]: r["est"]
        for r in kll_rollup_quantiles(
            per_day, [], [50, 90, 99], k=100
        ).collect()
    }
    srt_all = sorted(v for _, v in rows)
    for pct, e in est.items():
        assert _rank_err(srt_all, e, pct / 100.0) <= 0.01


def test_exact_rank_cdf_and_monitor(spark):
    rng = random.Random(31)
    rows = [(i % 5, rng.randint(0, 10**6)) for i in range(8_000)]
    df = spark.createDataFrame(rows, "day int, v long")
    cdf = {r["_v"]: r["cum_le"] for r in exact_rank_cdf(df, "v", 10_000).collect()}
    srt = sorted(v for _, v in rows)
    for v in list(cdf)[:50]:
        assert cdf[v] == bisect.bisect_right(srt, v)
    # block width must not change the frame
    cdf2 = {r["_v"]: r["cum_le"] for r in exact_rank_cdf(df, "v", 137).collect()}
    assert cdf == cdf2
    out = kll_quantile_monitor(
        df, "v", [], "day", [50, 90, 99], k=100, block_width=10_000,
    ).collect()
    assert len(out) == 3
    for r in out:
        target = max(1, math.ceil(r["quantile_pct"] / 100.0 * 8_000))
        assert r["exact"] == srt[target - 1], r
        assert r["n_rows"] == 8_000
        assert r["est_ok"] is True, r


def test_grouped_cdf_and_per_segment_monitor(spark):
    """VERDICT r9 item 4: the per-key monitor's exact column must equal
    a per-group brute-force percentile, est_ok must hold, and the
    grouped CDF must be the per-group cumulative distribution."""
    rng = random.Random(53)
    segs = ["a", "b", "c"]
    rows = [
        (segs[i % 3], i % 7, rng.randint(0, 10**6)) for i in range(9_000)
    ]
    df = spark.createDataFrame(rows, "seg string, day int, v long")
    by_seg = {s: sorted(v for g, _, v in rows if g == s) for s in segs}

    cdf = {
        (r["seg"], r["_v"]): r["cum_le"]
        for r in exact_rank_cdf(df, "v", 10_000, ["seg"]).collect()
    }
    for (s, v) in list(cdf)[:60]:
        assert cdf[(s, v)] == bisect.bisect_right(by_seg[s], v)
    # block width must not change the grouped frame either
    cdf2 = {
        (r["seg"], r["_v"]): r["cum_le"]
        for r in exact_rank_cdf(df, "v", 137, ["seg"]).collect()
    }
    assert cdf == cdf2

    out = kll_quantile_monitor(
        df, "v", ["seg"], "day", [50, 90], k=100, block_width=10_000,
    ).collect()
    assert len(out) == len(segs) * 2
    for r in out:
        vals = by_seg[r["seg"]]
        target = max(1, math.ceil(r["quantile_pct"] / 100.0 * len(vals)))
        assert r["exact"] == vals[target - 1], r
        assert r["n_rows"] == len(vals)
        assert r["est_ok"] is True, r


def test_grouped_monitor_repartitions_before_partial_build(spark):
    """kll_quantile_monitor's repartition-first build, plan-pinned for
    the grouped monitor: the raw rows must hit an Exchange on (group,
    day) BEFORE the mapInPandas partial build, so exactly one python
    sketch exists per stored key (map-side partials under a row-random
    layout build partitions × keys of them)."""
    from big_data_validator_spark.operators.sketches import (
        kll_partial_sketches,
    )

    df = spark.createDataFrame(
        [("a", i % 3, i) for i in range(100)], "seg string, day int, v long"
    )
    per_key = kll_partial_sketches(
        df.repartition(F.col("seg"), F.col("day")), "v", ["seg", "day"],
        k=64,
    )
    plan = per_key._jdf.queryExecution().optimizedPlan().toString()
    i_ex = plan.find("RepartitionByExpression")
    i_map = plan.find("MapInPandas")
    assert i_ex != -1 and i_map != -1 and i_map < i_ex, plan
    # one sketch row per (seg, day) — not per partition × key
    assert per_key.count() == 3


def test_merge_rejects_mismatched_k():
    with pytest.raises(ValueError, match="k="):
        kll_merge(kll_new(64), kll_new(128))


def test_monitor_plan_is_single_pipeline_per_leg(spark):
    """Cache-pin regression (the Spark-shares-no-subplans trap): est and
    the CDF each feed multiple joins; uncached, the whole sketch
    pipeline re-ran per consumer (measured 47 shuffles).  With the
    pinned caches the monitor stays bounded."""
    from big_data_validator_spark.operators import resource_scope
    from big_data_validator_spark.plans.inspect import shuffle_count

    df = spark.createDataFrame(
        [(i % 3, i * 7 % 1000) for i in range(500)], "day int, v long"
    )
    with resource_scope():
        res = kll_quantile_monitor(
            df, "v", [], "day", [50, 90], k=64, block_width=100
        )
        # shuffle_count is a TEXT count and the cached subtree's plan text
        # reprints under every InMemoryRelation reference, so the number
        # overstates executed shuffles; the regression signal is the gap:
        # cached plan ~23 text-exchanges, uncached (the bug) 47.
        n = shuffle_count(res)
    assert n <= 30, f"sketch monitor plan re-runs subplans: {n} shuffles"


def test_rolling_monitor_matches_brute_force(spark):
    """Rolling percentile FROM SKETCH ROWS: per report day the exact
    column must equal a brute-force trailing-window percentile, and the
    sketch estimate's rank verdict must hold."""
    import datetime as dt

    rng = random.Random(41)
    d0 = dt.date(2024, 1, 1)
    rows = [
        (d0 + dt.timedelta(days=i % 40), rng.randint(0, 10**6))
        for i in range(12_000)
    ]
    df = spark.createDataFrame(rows, "day date, v long")
    from big_data_validator_spark.operators import resource_scope
    from big_data_validator_spark.operators.sketches import (
        kll_rolling_monitor,
    )

    with resource_scope():
        res = kll_rolling_monitor(
            df, "v", "day", pct=90, window_days=7,
            report_from="2024-01-20", report_to="2024-01-26", k=100,
        )
        got = {r["day"].isoformat(): r for r in res.collect()}
    assert len(got) == 7
    for off in range(19, 26):
        rd = d0 + dt.timedelta(days=off)
        win = sorted(
            v for d, v in rows
            if rd - dt.timedelta(days=6) <= d <= rd
        )
        n = len(win)
        r = got[rd.isoformat()]
        assert r["n_rows"] == n
        assert r["exact"] == win[(90 * n + 99) // 100 - 1]
        assert r["est_ok"] is True


def test_stream_kll_sketches_exactly_once_and_merge(spark, tmp_path):
    """Streaming producer: one sketch row per micro-batch under the
    _SUCCESS commit protocol; a replay with a fresh checkpoint skips
    committed batches (idempotent repository); the merged estimate
    matches the pure-python sketch of all drained values."""
    import os

    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_kll_sketches,
    )

    rng = random.Random(53)
    src = tmp_path / "src"
    for r in range(3):
        rows = [(rng.randint(0, 10**6),) for _ in range(2000)]
        d = str(src / f"run{r}")
        spark.createDataFrame(rows, "c long").coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_000_000 + r,) * 2)
    schema = spark.read.parquet(str(src / "run0")).schema
    repo = str(tmp_path / "repo")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(src / "*"))
        )
        q = stream_kll_sketches(
            stream, "c", [], repo, str(tmp_path / ckpt), k=100
        ).trigger(availableNow=True).start()
        q.awaitTermination()

    drain("ckpt1")
    rows1 = read_metrics_repository(spark, repo).collect()
    assert len(rows1) == 3
    assert sum(r["n_rows"] for r in rows1) == 6000
    # replay from scratch: committed batches are skipped, repository
    # content identical
    drain("ckpt2")
    rows2 = read_metrics_repository(spark, repo).collect()
    assert sorted(r["sketch"] for r in rows2) == sorted(
        r["sketch"] for r in rows1
    )
    # merged estimate within tolerance of the exact drained percentile
    sketches = read_metrics_repository(spark, repo)
    est = {
        r["quantile_pct"]: r["est"]
        for r in kll_rollup_quantiles(sketches, [], [50, 99], k=100).collect()
    }
    all_vals = sorted(
        r["c"] for r in spark.read.parquet(str(src / "*")).collect()
    )
    for pct, e in est.items():
        assert _rank_err(all_vals, e, pct / 100.0) <= 0.02


def test_stream_kll_group_sketches_per_group_rows_and_replay(spark, tmp_path):
    """Per-group streaming producer: one sketch row per (batch, group)
    under the _SUCCESS protocol; replay with a fresh checkpoint is
    idempotent; merging each group's rows across batches estimates the
    group's percentiles within tolerance; NULL group keys are
    excluded."""
    import os

    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_kll_sketches,
    )

    rng = random.Random(77)
    segs = ["x", "y"]
    src = tmp_path / "src"
    all_vals = {s: [] for s in segs}
    for r in range(3):
        rows = []
        for _ in range(1500):
            s = segs[rng.randrange(2)]
            v = rng.randint(0, 10**6)
            all_vals[s].append(v)
            rows.append((s, v))
        rows.append((None, 123))  # NULL group: must be excluded
        d = str(src / f"run{r}")
        spark.createDataFrame(rows, "seg string, c long").coalesce(
            1
        ).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (1_000_000 + r,) * 2)
    schema = spark.read.parquet(str(src / "run0")).schema
    repo = str(tmp_path / "repo")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(src / "*"))
        )
        q = stream_kll_sketches(
            stream, "c", ["seg"], repo, str(tmp_path / ckpt), k=100
        ).trigger(availableNow=True).start()
        q.awaitTermination()

    drain("ckpt1")
    rows1 = read_metrics_repository(spark, repo).collect()
    assert len(rows1) == 6  # 3 batches x 2 groups, no NULL-group row
    assert {(r["run_id"], r["seg"]) for r in rows1} == {
        (b, s) for b in range(3) for s in segs
    }
    assert sum(r["n_rows"] for r in rows1) == 4500
    drain("ckpt2")
    rows2 = read_metrics_repository(spark, repo).collect()
    assert sorted(r["sketch"] for r in rows2) == sorted(
        r["sketch"] for r in rows1
    )
    est = kll_rollup_quantiles(
        read_metrics_repository(spark, repo),
        ["seg"],
        [50, 90],
        k=100,
    ).collect()
    assert len(est) == 4
    for r in est:
        vals = sorted(all_vals[r["seg"]])
        assert r["n_rows"] == len(vals)
        assert _rank_err(vals, r["est"], r["quantile_pct"] / 100.0) <= 0.02
