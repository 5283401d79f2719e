"""Streaming validation: the batch rule expressions evaluated over a
bounded file stream, checked against the same rules evaluated in batch
(stream/batch parity is the whole design)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.streaming import (
    StreamingRuleConfig,
    stream_violation_sink,
    windowed_violation_counts,
)

def rules():
    # built lazily: Column construction needs an active SparkContext
    return {
        "negative_value": F.col("value") < 0,
        "bad_type": ~F.col("event_type").isin(
            "click", "view", "error", "purchase"
        ),
    }


@pytest.fixture()
def event_data(spark, tmp_path):
    src = str(tmp_path / "events_src")
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                f"2024-01-01 10:{i % 60:02d}:{i % 60:02d}",
                "click" if i % 3 else "bogus",
                float(i - 50),  # first 50 negative
            )
        )
    df = spark.createDataFrame(
        rows, ["event_id", "ts_str", "event_type", "value"]
    ).withColumn("ts", F.col("ts_str").cast("timestamp")).drop("ts_str")
    df.write.parquet(src)
    return src, df


def _wait(q, timeout=60):
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(timeout)


def test_windowed_counts_match_batch(spark, event_data, tmp_path):
    src, batch_df = event_data
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    assert stream.isStreaming

    cfg = StreamingRuleConfig(watermark="1 hour", window="10 minutes")
    RULES = rules()
    counts = windowed_violation_counts(stream, RULES, cfg)
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    _wait(q)
    got = {
        r["window_start"]: r
        for r in spark.sql("select * from win_counts").collect()
    }

    # batch reference: identical expressions, identical windows
    want_rows = (
        batch_df.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("total_rows"),
            F.sum(RULES["negative_value"].cast("long")).alias("nv"),
            F.sum(RULES["bad_type"].cast("long")).alias("bt"),
        )
        .collect()
    )
    assert len(got) == len(want_rows) > 0
    for r in want_rows:
        g = got[r["w"]["start"]]
        assert g["total_rows"] == r["total_rows"]
        assert g["negative_value_violations"] == r["nv"]
        assert g["bad_type_violations"] == r["bt"]


def test_watermark_bounds_state_across_batches(spark, tmp_path):
    """The 100 TB property single-batch drains never exercise: as the
    watermark advances across micro-batches, windowed-aggregation state
    is EVICTED (bounded memory on an unbounded stream) and append mode
    emits each finalized window exactly once.

    (Note what is deliberately NOT asserted: dropping of late rows that
    arrive before cleanup — the Spark guide specifies the micro-batch
    engine "may or may not" process those; verified empirically that it
    does merge them while the window state is still live.)

    ``maxFilesPerTrigger=1`` forces one file per micro-batch; file
    modification times order the batches."""
    import os

    src = str(tmp_path / "late_src")
    os.makedirs(src)

    def write_one(name, rows):
        df = spark.createDataFrame(rows, ["event_id", "ts_str", "value"]).select(
            "event_id",
            F.col("ts_str").cast("timestamp").alias("ts"),
            "value",
        )
        df.coalesce(1).write.parquet(f"{src}/{name}")
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    write_one("f1", [(1, "2024-01-01 10:00:00", 1.0),
                     (2, "2024-01-01 12:00:00", 1.0)])
    write_one("f2", [(3, "2024-01-01 12:05:00", 1.0)])
    # 14:00 advances the watermark to 13:50 → both earlier 1-hour windows
    # (ending 11:00 and 13:00) finalize, emit, and leave state
    write_one("f3", [(4, "2024-01-01 14:00:00", 1.0)])

    schema = spark.read.parquet(f"{src}/f1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*")
    )
    counts = windowed_violation_counts(
        stream,
        {"neg": F.col("value") < 0},
        StreamingRuleConfig(watermark="10 minutes", window="1 hour"),
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("late_win")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    _wait(q)
    import datetime as dt

    rows = spark.sql("select window_start, total_rows from late_win").collect()
    got = {r["window_start"]: r["total_rows"] for r in rows}
    # append emitted each finalized window EXACTLY once
    assert len(rows) == len(got) == 2
    assert got[dt.datetime(2024, 1, 1, 10, 0)] == 1
    assert got[dt.datetime(2024, 1, 1, 12, 0)] == 2
    # state is bounded: after finalization only the live 14:00 window
    # remains in the store
    final_state = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert final_state[-1] <= 1, final_state


def test_stream_violation_sink_partitioned(spark, event_data, tmp_path):
    src, batch_df = event_data
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = str(tmp_path / "violations")
    RULES = rules()
    q = stream_violation_sink(
        stream,
        RULES,
        output_path=out,
        checkpoint_path=str(tmp_path / "ckpt2"),
        config=StreamingRuleConfig(watermark="1 hour", window="10 minutes"),
    ).start()
    _wait(q)
    sunk = spark.read.parquet(out)
    expected = batch_df.filter(
        RULES["negative_value"] | RULES["bad_type"]
    ).count()
    assert sunk.count() == expected
    assert "violated_rules" in sunk.columns
    assert "event_date" in sunk.columns  # partition column survives
    # multi-rule rows are tagged with both names
    both = sunk.filter(F.array_size("violated_rules") == 2)
    want_both = batch_df.filter(
        RULES["negative_value"] & RULES["bad_type"]
    ).count()
    assert both.count() == want_both


def test_stream_stream_attribution_window_bounds(spark, tmp_path):
    """A purchase 30 min or less after a click attributes; strictly after
    the window (or before the click) it must not."""
    import datetime as dt

    from big_data_validator_spark.streaming.validate_stream import (
        stream_stream_attribution,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "click"),
        (1, t0 + dt.timedelta(minutes=30), "purchase"),   # boundary: in
        (1, t0 + dt.timedelta(minutes=31), "purchase"),   # out
        (2, t0, "purchase"),                              # before any click
        (2, t0 + dt.timedelta(minutes=1), "click"),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    pairs = stream_stream_attribution(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        "user_id",
        "ts",
        1800,
        watermark="36500 days",
    )
    q = (
        pairs.writeStream.format("memory")
        .queryName("attrib_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        (r["user_id"], r["click_ts"], r["purchase_ts"])
        for r in spark.table("attrib_test").collect()
    ]
    assert got == [(1, t0, t0 + dt.timedelta(minutes=30))]


@pytest.mark.slow
def test_stream_stream_left_outer_null_extension(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join: matches emit inner-
    style; UNMATCHED purchases emit with NULL click only after the
    watermark closes their join window (advanced here by sentinel
    events in later micro-batches — production streams just keep
    flowing).  Result equals the batch left join on the real rows."""
    import os

    from big_data_validator_spark.streaming.validate_stream import (
        stream_stream_attribution_left,
    )

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    os.makedirs(cdir), os.makedirs(pdir)

    def write_one(root, name, rows):
        df = spark.createDataFrame(rows, ["user_id", "ts_str"]).select(
            "user_id", F.col("ts_str").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.parquet(f"{root}/{name}")
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    write_one(cdir, "f1", [(1, "2024-01-01 10:00:00"),
                           (2, "2024-01-01 10:05:00")])
    write_one(pdir, "f1", [(1, "2024-01-01 10:10:00"),   # attributed
                           (3, "2024-01-01 10:15:00"),   # no click at all
                           (2, "2024-01-01 12:00:00")])  # click too old
    # sentinels: two more batches advance the min-watermark far past
    # every real purchase's join window
    for i, ts in enumerate(["2024-01-01 16:00:00", "2024-01-01 20:00:00",
                            "2024-01-02 08:00:00"]):
        write_one(cdir, f"s{i}", [(999, ts)])
        write_one(pdir, f"s{i}", [(999, ts)])

    def src(root):
        schema = spark.read.parquet(f"{root}/f1").schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(f"{root}/*")
        )

    joined = stream_stream_attribution_left(
        src(pdir), src(cdir), "user_id", "ts",
        attribution_seconds=1800, watermark="10 minutes",
    )
    # NOTE: no pre-sink filter — a predicate on user_id would push below
    # the watermark node and strip the sentinel rows before they can
    # advance event time; late filtering happens at read-back

    q = (
        joined.writeStream.format("memory")
        .queryName("left_attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .start()
    )
    _wait(q)
    import datetime as dt

    rows = sorted(
        (r["user_id"], r["purchase_ts"], r["click_ts"])
        for r in spark.sql(
            "select * from left_attrib where user_id != 999"
        ).collect()
    )
    assert rows == [
        (1, dt.datetime(2024, 1, 1, 10, 10), dt.datetime(2024, 1, 1, 10, 0)),
        (2, dt.datetime(2024, 1, 1, 12, 0), None),
        (3, dt.datetime(2024, 1, 1, 10, 15), None),
    ]
    # bounded state: the join evicted everything older than
    # watermark + attribution window by the last progress event
    final_state = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert final_state and final_state[-1] <= 4, final_state


@pytest.mark.slow
def test_stream_metrics_repository_matches_batch_and_replay(spark, tmp_path):
    """Streaming metrics repository (VERDICT r6 item 2): (1) per-batch
    profile rows equal the BATCH metrics_history over the same splits;
    (2) the trend rule fires on a planted volume spike; (3) replaying a
    committed batch id is a no-op (exactly-once), while a TORN batch
    dir (no _SUCCESS) is overwritten."""
    import os

    from big_data_validator_spark.operators.profile import (
        metrics_history,
        profile_trend_anomalies,
    )
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_metrics_repository,
    )

    rows = [(i, f"u{i % 7}") for i in range(60)]
    df = spark.createDataFrame(rows, "k long, name string")
    splits = [
        df.filter(F.col("k") < 6),                        # 6 rows
        df.filter((F.col("k") >= 6) & (F.col("k") < 13)),  # 7 rows
        df.filter((F.col("k") >= 13) & (F.col("k") < 21)), # 8 rows
        df.filter(F.col("k") >= 21),                       # 39 — the spike
    ]
    src = tmp_path / "src"
    for i, part in enumerate(splits):
        dst = str(src / f"run{i}")
        part.coalesce(1).write.parquet(dst)
        for f in os.listdir(dst):
            os.utime(f"{dst}/{f}", (1_000_000 + i, 1_000_000 + i))

    schema = spark.read.parquet(str(src / "run0")).schema
    repo = str(tmp_path / "repo")
    q = stream_metrics_repository(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        repo_path=repo,
        checkpoint_path=str(tmp_path / "ckpt"),
        columns=["k", "name"],
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    got = read_metrics_repository(spark, repo)
    want = metrics_history(list(enumerate(splits)), columns=["k", "name"])
    key = lambda r: (r["run_id"], r["column"], r["metric"])
    g = {key(r): r["value"] for r in got.collect()}
    w = {key(r): r["value"] for r in want.collect()}
    assert g == w and len(g) > 0

    trend = profile_trend_anomalies(
        got.filter(F.col("metric").isin("row_count", "distinct_count")),
    )
    flagged = {
        (r["run_id"], r["column"], r["metric"])
        for r in trend.filter("is_anomaly").collect()
    }
    assert (3, "k", "row_count") in flagged  # the spike is caught

    # exactly-once: replaying batch 2 must not change the repository...
    batch2 = spark.read.parquet(f"{repo}/batch_id=2")
    n_before = spark.read.parquet(f"{repo}/batch_id=2").count()
    from big_data_validator_spark.streaming import validate_stream as VS

    def rebuild(batch_df, batch_id):
        raise AssertionError("committed batch must skip its build")

    VS._commit_batch(batch2, 2, repo, rebuild)  # the sinks' own gate
    assert spark.read.parquet(f"{repo}/batch_id=2").count() == n_before

    # ...but a TORN dir (marker removed) is rewritten on re-drain
    os.remove(f"{repo}/batch_id=2/_SUCCESS")
    q2 = stream_metrics_repository(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        repo_path=repo,
        checkpoint_path=str(tmp_path / "ckpt2"),  # fresh checkpoint → full replay
        columns=["k", "name"],
    ).trigger(availableNow=True).start()
    q2.awaitTermination()
    g2 = {key(r): r["value"] for r in read_metrics_repository(spark, repo).collect()}
    assert g2 == w  # torn batch healed, committed batches untouched


def test_stream_drift_psi_flags_regime_shift(spark, tmp_path):
    """Streaming PSI: uniform batches score ~0 against the baseline; a
    batch carrying only the high half of the value range scores large;
    empty bins appear with p_run=0; replay is a no-op."""
    import os

    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_drift_psi,
    )

    rows = [(i, float(i % 100)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, value double")
    splits = [
        df.filter(F.col("k") % 2 == 0),        # uniform half
        df.filter((F.col("k") % 2 == 1) & (F.col("value") >= 50.0)),
        df.filter((F.col("k") % 2 == 1) & (F.col("value") < 50.0)),
    ]
    src = tmp_path / "src"
    for i, part in enumerate(splits):
        dst = str(src / f"run{i}")
        part.coalesce(1).write.parquet(dst)
        for f in os.listdir(dst):
            os.utime(f"{dst}/{f}", (1_000_000 + i, 1_000_000 + i))
    schema = spark.read.parquet(str(src / "run0")).schema
    repo = str(tmp_path / "repo")
    q = stream_drift_psi(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        baseline=df.select("value"),
        value_col="value",
        bin_edges=[50.0],
        repo_path=repo,
        checkpoint_path=str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination()
    hist = read_metrics_repository(spark, repo)
    psi = {
        r["run_id"]: r["total_psi"]
        for r in hist.groupBy("run_id")
        .agg(F.sum("psi_term").alias("total_psi"))
        .collect()
    }
    assert abs(psi[0]) < 0.01          # uniform batch: calm
    assert psi[1] > 1.0 and psi[2] > 1.0   # regime shifts flagged
    rows_run1 = {
        r["bin_id"]: (r["p_run"], r["p_base"])
        for r in hist.filter("run_id = 1").collect()
    }
    assert rows_run1[0][0] == 0.0      # empty low bin present with p=0
    assert rows_run1[1][0] == 1.0
    # replay with a fresh checkpoint: committed batches skip, values equal
    before = sorted(map(tuple, hist.collect()))
    q2 = stream_drift_psi(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        baseline=df.select("value"),
        value_col="value",
        bin_edges=[50.0],
        repo_path=repo,
        checkpoint_path=str(tmp_path / "ckpt2"),
    ).trigger(availableNow=True).start()
    q2.awaitTermination()
    after = sorted(map(tuple, read_metrics_repository(spark, repo).collect()))
    assert after == before


def test_stream_apply_deltas_chained_state_and_replay(spark, tmp_path):
    """Streaming MV maintenance: 3 sequential delta batches land on the
    full-recompute state; a replay with a fresh checkpoint no-ops
    against committed batch dirs; intermediate states are
    prefix-consistent."""
    import os
    from decimal import Decimal

    from big_data_validator_spark.streaming.validate_stream import (
        stream_apply_deltas_to_totals,
    )

    D_ = lambda x: Decimal(x)
    summary = spark.createDataFrame(
        [("a", 2, D_("30.000000")), ("b", 1, D_("5.000000"))],
        "g string, n long, v decimal(18,6)",
    )
    batches = [
        [("a", 1, D_("7.000000"))],                       # insert into a
        [("b", -1, D_("5.000000")), ("c", 1, D_("2.000000"))],  # b gone, c new
        [("a", -1, D_("30.000000")), ("a", 1, D_("31.000000"))],  # update
    ]
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        dst = str(src / f"run{i}")
        spark.createDataFrame(
            [(g, s, v) for g, s, v in rows],
            "g string, sign int, v decimal(18,6)",
        ).coalesce(1).write.parquet(dst)
        for f in os.listdir(dst):
            os.utime(f"{dst}/{f}", (1_000_000 + i, 1_000_000 + i))
    schema = spark.read.parquet(str(src / "run0")).schema
    state = str(tmp_path / "state")
    q = stream_apply_deltas_to_totals(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        summary,
        group_cols=["g"],
        sum_cols=["v"],
        state_path=state,
        checkpoint_path=str(tmp_path / "ckpt"),
        count_col="n",
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    def view(batch_id):
        return {
            r["g"]: (r["n"], r["v"])
            for r in spark.read.parquet(f"{state}/batch_id={batch_id}").collect()
        }

    assert view(0) == {"a": (3, D_("37.000000")), "b": (1, D_("5.000000"))}
    assert view(1) == {"a": (3, D_("37.000000")), "c": (1, D_("2.000000"))}
    final = view(2)
    assert final == {"a": (3, D_("38.000000")), "c": (1, D_("2.000000"))}

    # replay: committed dirs make every batch a no-op
    q2 = stream_apply_deltas_to_totals(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        summary,
        group_cols=["g"],
        sum_cols=["v"],
        state_path=state,
        checkpoint_path=str(tmp_path / "ckpt2"),
        count_col="n",
    ).trigger(availableNow=True).start()
    q2.awaitTermination()
    assert view(2) == final


def test_read_metrics_repository_commit_gate(spark, tmp_path):
    """ADVICE r7: directory existence is not commit — a batch dir whose
    _SUCCESS is missing (v2 committer, task files from a failed
    attempt) holds readable partial rows and must be invisible to the
    reader; an all-torn repository refuses loudly."""
    import os

    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
    )

    repo = str(tmp_path / "repo")
    mk = lambda run: spark.createDataFrame(
        [(run, "k", "row_count", 1.0 + run)],
        "run_id long, column string, metric string, value double",
    )
    mk(0).coalesce(1).write.parquet(f"{repo}/batch_id=0")
    mk(1).coalesce(1).write.parquet(f"{repo}/batch_id=1")
    mk(2).coalesce(1).write.parquet(f"{repo}/batch_id=2")
    os.remove(f"{repo}/batch_id=1/_SUCCESS")  # torn attempt

    got = read_metrics_repository(spark, repo)
    assert sorted(r["run_id"] for r in got.collect()) == [0, 2]
    assert got.columns == ["run_id", "column", "metric", "value"]

    os.remove(f"{repo}/batch_id=0/_SUCCESS")
    os.remove(f"{repo}/batch_id=2/_SUCCESS")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no committed"):
        read_metrics_repository(spark, repo)


def test_resolve_prior_state_tolerates_id_gaps(spark, tmp_path):
    """ADVICE r7: the delta chain reads the LATEST COMMITTED prior
    state, not batch_id-1 — id gaps (non-contiguous checkpoint ids)
    and torn predecessor dirs must both resolve correctly."""
    import os

    from big_data_validator_spark.streaming.validate_stream import (
        _resolve_prior_state,
    )

    root = str(tmp_path / "state")
    mk = lambda tag: spark.createDataFrame(
        [("a", 1, tag)], "g string, n long, v long"
    )
    mk(0).coalesce(1).write.parquet(f"{root}/batch_id=0")
    mk(3).coalesce(1).write.parquet(f"{root}/batch_id=3")
    mk(5).coalesce(1).write.parquet(f"{root}/batch_id=5")
    os.remove(f"{root}/batch_id=5/_SUCCESS")  # torn

    initial = mk(-1)
    tag = lambda df: df.collect()[0]["v"]
    assert tag(_resolve_prior_state(spark, root, 0, initial)) == -1
    assert tag(_resolve_prior_state(spark, root, 3, initial)) == 0
    # gap: batch 7 follows 3 (ids 4-6 never committed; 5 is torn)
    assert tag(_resolve_prior_state(spark, root, 7, initial)) == 3


def test_stream_markov_drift_flags_transition_shift(spark, tmp_path):
    """Streaming Markov TV monitor: a batch drawn from the baseline's
    own behavior scores ~0; a batch whose a->b flow reroutes to a->c
    scores large; novel transitions surface with p_base=0 and vanished
    ones with p_run=0; replay is a no-op."""
    import os

    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_markov_drift,
    )

    # baseline: every user emits a -> b -> a -> b ...
    base_rows = [
        (u * 100 + i, u, i, "a" if i % 2 == 0 else "b")
        for u in range(20)
        for i in range(6)
    ]
    baseline = spark.createDataFrame(
        base_rows, "event_id long, user_id long, ts long, event_type string"
    )
    calm = baseline  # identical behavior
    shifted = spark.createDataFrame(
        [
            (u * 100 + i, u, i, "a" if i % 2 == 0 else "c")
            for u in range(20)
            for i in range(6)
        ],
        "event_id long, user_id long, ts long, event_type string",
    )
    src = tmp_path / "src"
    for i, part in enumerate([calm, shifted]):
        dst = str(src / f"run{i}")
        part.coalesce(1).write.parquet(dst)
        for f in os.listdir(dst):
            os.utime(f"{dst}/{f}", (1_000_000 + i, 1_000_000 + i))
    schema = spark.read.parquet(str(src / "run0")).schema
    repo = str(tmp_path / "repo")
    q = stream_markov_drift(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        baseline=baseline,
        repo_path=repo,
        checkpoint_path=str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination()
    hist = read_metrics_repository(spark, repo)
    tv = {
        r["run_id"]: r["tv"]
        for r in hist.groupBy("run_id")
        .agg(F.sum("tv_term").alias("tv"))
        .collect()
    }
    assert tv[0] == 0.0                 # identical behavior: calm
    assert tv[1] > 0.4                  # rerouted flow flagged
    cells_run1 = {
        (r["src"], r["dst"]): (r["p_base"], r["p_run"])
        for r in hist.filter("run_id = 1").collect()
    }
    assert cells_run1[("a", "c")][0] == 0.0  # novel transition
    assert cells_run1[("a", "b")][1] == 0.0  # vanished transition
    # replay with a fresh checkpoint: committed batches skip
    before = sorted(map(tuple, hist.collect()))
    q2 = stream_markov_drift(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*"),
        baseline=baseline,
        repo_path=repo,
        checkpoint_path=str(tmp_path / "ckpt2"),
    ).trigger(availableNow=True).start()
    q2.awaitTermination()
    after = sorted(
        map(tuple, read_metrics_repository(spark, repo).collect())
    )
    assert before == after


def test_stream_markov_drift_rejects_empty_baseline(spark, tmp_path):
    import pytest as _pytest

    from big_data_validator_spark.streaming.validate_stream import (
        stream_markov_drift,
    )

    empty = spark.createDataFrame(
        [], "event_id long, user_id long, ts long, event_type string"
    )
    src = str(tmp_path / "src")
    empty.write.parquet(src)  # a real (empty) source path
    with _pytest.raises(ValueError, match="no transitions"):
        stream_markov_drift(
            spark.readStream.schema(empty.schema).parquet(src),
            baseline=empty,
            repo_path=str(tmp_path / "repo"),
            checkpoint_path=str(tmp_path / "ckpt"),
        )


@pytest.mark.slow
def test_stream_mannwhitney_drift_matches_batch_on_prefixes(spark, tmp_path):
    """Streaming U monitor: each batch's emitted row equals the batch
    mannwhitney_u of (cumulative stream prefix) vs the static
    reference — the shared-math contract; the shifted batch drives z
    strongly negative; replay with a fresh checkpoint is a no-op."""
    import os

    from big_data_validator_spark.operators.relational import mannwhitney_u
    from big_data_validator_spark.streaming.validate_stream import (
        read_metrics_repository,
        stream_mannwhitney_drift,
    )

    rows = [(i, float(i % 100)) for i in range(600)]
    df = spark.createDataFrame(rows, "k long, value double")
    splits = [
        df.filter(F.col("k") % 2 == 0),                    # calm sample
        df.filter((F.col("k") % 2 == 1) & (F.col("value") >= 80.0)),
        df.filter((F.col("k") % 2 == 1) & (F.col("value") < 20.0)),
    ]
    src = tmp_path / "src"
    for i, part in enumerate(splits):
        dst = str(src / f"run{i}")
        part.coalesce(1).write.parquet(dst)
        for f in os.listdir(dst):
            os.utime(f"{dst}/{f}", (1_000_000 + i, 1_000_000 + i))
    schema = spark.read.parquet(str(src / "run0")).schema
    repo = str(tmp_path / "repo")

    def launch(ckpt):
        return stream_mannwhitney_drift(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(f"{src}/*"),
            reference=df.select("value"),
            value_col="value",
            repo_path=repo,
            checkpoint_path=str(tmp_path / ckpt),
        ).trigger(availableNow=True).start()

    launch("ckpt").awaitTermination()
    got = {
        r["run_id"]: r
        for r in read_metrics_repository(spark, f"{repo}/stats").collect()
    }
    assert set(got) == {0, 1, 2}

    cents = df.withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    for r in range(3):
        prefix = cents.join(
            spark.createDataFrame(
                [(row["k"],) for i in range(r + 1)
                 for row in splits[i].select("k").collect()],
                "k long",
            ),
            "k",
        )
        want = mannwhitney_u(prefix, cents, "cents").first()
        g = got[r]
        assert (g["n_a"], g["n_b"], g["u_a_x2"], g["u_b_x2"]) == (
            want["n_a"], want["n_b"], want["u_a_x2"], want["u_b_x2"],
        ), r
        if want["z"] is None:
            assert g["z"] is None
        else:
            assert abs(g["z"] - want["z"]) < 1e-9
    # the high-only batch shifts the cumulative stream ABOVE the
    # reference -> large positive z at run 1; run 0 is calm
    assert abs(got[0]["z"]) < 2.0
    assert got[1]["z"] > 3.0
    # replay: fresh checkpoint, committed batches skip, values equal
    before = sorted(map(tuple, read_metrics_repository(
        spark, f"{repo}/stats").collect()))
    launch("ckpt2").awaitTermination()
    after = sorted(map(tuple, read_metrics_repository(
        spark, f"{repo}/stats").collect()))
    assert after == before


def test_bounded_drain_failure_cleans_up(spark, tmp_path, monkeypatch):
    """A drain whose batch function raises re-raises the query's failure,
    restores the session's shuffle partitions and leaves no active query
    behind; the read-back never runs, and the enclosing scope removes
    the drain's temp root."""
    import os
    import tempfile

    from pyspark.errors import StreamingQueryException

    from big_data_validator_spark.operators import resource_scope
    from big_data_validator_spark.queries.drain import _bounded_drain

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def boom(batch_df, batch_id):
        raise RuntimeError("batch function failed")

    def writer(d):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        stream = spark.readStream.schema("id long").parquet(src)
        return stream.writeStream.foreachBatch(boom)

    def read_back(d):
        raise AssertionError("read-back ran after a failed drain")

    with pytest.raises(StreamingQueryException, match="batch function failed"):
        with resource_scope():
            _bounded_drain(spark, "streaming_failing", writer, read_back)
    assert seen == ["2"]
    assert os.listdir(tmp) == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.streams.active == []
