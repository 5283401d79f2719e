"""applyInPandasWithState sessionization: checked against the batch
lag-window sessionization on the same bounded input."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_validator_spark.streaming.stateful import sessionize_with_state


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    src = str(tmp_path / "ev")
    rows = []
    # 3 users; sessions split by >30min gaps; negative values are violations
    for u in range(3):
        for s in range(3):  # 3 sessions per user
            base_min = s * 120  # sessions 2h apart
            for i in range(4):  # 4 events per session, 1min apart
                rows.append(
                    (
                        u * 1000 + s * 10 + i,
                        f"2024-01-01 {base_min // 60:02d}:{base_min % 60 + i:02d}:00",
                        u,
                        float(-1 if i == 0 else i),  # one violation per session
                    )
                )
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "value"]
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    df.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    sessions = sessionize_with_state(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select * from sess").collect()

    # batch reference (closed sessions only — the stream can't emit the
    # final open session per user until timeout, which processAllAvailable
    # does not wait for)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    batch = (
        df.withColumn(
            "new_session",
            (prev.isNull() | (F.col("ts").cast("long") - prev.cast("long") > 1800)).cast("long"),
        )
        .withColumn("session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.sum((F.col("value") < 0).cast("long")).alias("violation_count"),
        )
        .collect()
    )
    batch_by_user = {}
    for r in batch:
        batch_by_user.setdefault(r["user_id"], []).append(r)

    # each user has 3 sessions; at least the first 2 are closed and emitted
    got_by_user = {}
    for r in got:
        got_by_user.setdefault(r["user_id"], []).append(r)
    assert set(got_by_user) == {0, 1, 2}
    for u, sess_list in got_by_user.items():
        assert len(sess_list) == 2  # closed sessions emitted
        for s in sess_list:
            assert s["event_count"] == 4
            assert s["violation_count"] == 1
            assert s["session_start"] <= s["session_end"]
    # batch agrees on per-session shape
    for u, blist in batch_by_user.items():
        assert all(b["event_count"] == 4 and b["violation_count"] == 1 for b in blist)
