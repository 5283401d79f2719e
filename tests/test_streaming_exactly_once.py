from __future__ import annotations

import os

from pyspark.sql import functions as F

from big_data_validator_spark.streaming.validate_stream import (
    idempotent_batch_sink,
)


def _drain(spark, src_dir, out_dir, ckpt_dir):
    schema = "k long, v double"
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = idempotent_batch_sink(
        stream, out_dir, ckpt_dir
    ).trigger(availableNow=True).start()
    q.awaitTermination()


def test_sink_writes_all_rows_once(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    ).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, src, out, ckpt)
    back = spark.read.parquet(out)
    assert back.count() == 100
    assert back.select(F.count_distinct("k")).first()[0] == 100
    # committed batch dirs carry the _SUCCESS marker
    dirs = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert dirs
    for d in dirs:
        assert os.path.exists(os.path.join(out, d, "_SUCCESS"))


def test_replayed_batch_is_a_noop(spark, tmp_path):
    """Simulate Spark's at-least-once replay: re-invoking the batch
    function with an already-committed batch id must not duplicate."""
    src = str(tmp_path / "src")
    spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(1.0).alias("v")
    ).write.parquet(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, src, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # restart from the same checkpoint: no new data -> no new writes;
    # then replay by draining a FRESH checkpoint into the same output —
    # batch ids restart at 0, so every batch is a replay of a committed
    # id and must no-op
    _drain(spark, src, out, str(tmp_path / "ckpt2"))
    n2 = spark.read.parquet(out).count()
    assert n1 == n2 == 50


def test_partial_write_without_marker_is_overwritten(spark, tmp_path):
    """A torn batch dir (no _SUCCESS) must be replaced, not appended."""
    src = str(tmp_path / "src")
    spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(2.0).alias("v")
    ).write.parquet(src)
    out = str(tmp_path / "out")
    torn = os.path.join(out, "batch_id=0")
    # plant torn leftovers: parquet data WITHOUT the _SUCCESS marker
    spark.range(0, 7).select(
        F.col("id").alias("k"), F.lit(9.9).alias("v")
    ).write.parquet(torn)
    os.remove(os.path.join(torn, "_SUCCESS"))
    _drain(spark, src, out, str(tmp_path / "ckpt"))
    back = spark.read.parquet(out)
    assert back.count() == 10
    assert back.filter(F.col("v") == 9.9).count() == 0
