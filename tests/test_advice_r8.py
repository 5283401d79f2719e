"""Regression tests for the five ADVICE-r8 findings.

1. apply_delta_to_group_minmax must treat a NULL group key as a real
   group on both the semi (recompute) and anti (pass-through) legs.
2. cascade_rollup_refresh likewise for NULL keys / NULL timestamps.
3. delta_join_view_rows must raise loudly when a_old's columns collide
   with delta_b's non-key payload (incl. a column literally named
   "sign") instead of emitting duplicate columns.
4. salted_skew_join must spread byte-identical duplicate hot-key rows
   across salts (via the partition-id mix).
5. link_entity_pairs must not pair entities through a NULL block value
   (the pre-capped_bucket_pairs join semantics).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators import resource_scope
from big_data_validator_spark.operators.cdc import (
    apply_delta_to_group_minmax,
    delta_join_view_rows,
)
from big_data_validator_spark.operators.linkage import link_entity_pairs
from big_data_validator_spark.operators.relational import salted_skew_join
from big_data_validator_spark.operators.timeseries import (
    cascade_rollup_refresh,
)


def _rows(df, *cols):
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def test_minmax_ivm_null_group_key_recomputes(spark):
    # old base: NULL group holds {5, 9}; group "a" holds {1}
    old = spark.createDataFrame(
        [(None, 5), (None, 9), ("a", 1)], "g string, v int"
    )
    # stale summary as a full recompute of old
    summary = old.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )
    # delta: delete the NULL group's max row (9) -> NULL group must
    # retreat to max=5.  new base reflects the delete.
    new_base = spark.createDataFrame(
        [(None, 5), ("a", 1)], "g string, v int"
    )
    deltas = spark.createDataFrame([(None, 9, -1)], "g string, v int, sign int")
    out = apply_delta_to_group_minmax(summary, new_base, deltas, ["g"], ["v"])
    got = _rows(out, "g", "n_rows", "v_min", "v_max")
    assert got == [("a", 1, 1, 1), (None, 1, 5, 5)]
    # exactly one row per group — the stale NULL row must NOT also
    # pass through the anti leg
    assert out.count() == 2


def test_cascade_rollup_null_key_and_null_ts_dirty(spark):
    t0 = dt.datetime(2024, 1, 1, 10, 30)
    base_old = spark.createDataFrame(
        [(t0, None, 10), (t0, "k", 1), (None, "k", 7)],
        "ts timestamp, key string, v long",
    )
    late = spark.createDataFrame(
        [(t0, None, 100), (None, "k", 200)],
        "ts timestamp, key string, v long",
    )
    base_new = base_old.unionByName(late)

    def full(df, bucket_fn, src_col):
        return (
            df.select(
                bucket_fn(F.col(src_col)).alias("b"), "key", "v"
            )
            .groupBy("b", "key")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("v").cast("long").alias("v"),
            )
        )

    hourly_old = full(
        base_old, lambda c: F.date_trunc("hour", c), "ts"
    ).withColumnRenamed("b", "hour")
    daily_old = full(
        base_old, lambda c: F.date_trunc("day", c), "ts"
    ).withColumnRenamed("b", "day")
    with resource_scope():
        hourly_new, daily_new = cascade_rollup_refresh(
            base_new, hourly_old, daily_old, late, "ts", ["key"], ["v"]
        )
        exp_h = full(
            base_new, lambda c: F.date_trunc("hour", c), "ts"
        ).withColumnRenamed("b", "hour")
        exp_d = full(
            base_new, lambda c: F.date_trunc("day", c), "ts"
        ).withColumnRenamed("b", "day")
        assert _rows(hourly_new, "hour", "key", "n_rows", "v") == _rows(
            exp_h, "hour", "key", "n_rows", "v"
        )
        assert _rows(daily_new, "day", "key", "n_rows", "v") == _rows(
            exp_d, "day", "key", "n_rows", "v"
        )


def test_delta_join_view_sign_collision_raises(spark):
    a_old = spark.createDataFrame(
        [(1, 10, 1)], "k int, av int, sign int"
    )
    delta_a = spark.createDataFrame([(1, 11, 1)], "k int, av2 int, sign int")
    b_new = spark.createDataFrame([(1, 20)], "k int, bv int")
    delta_b = spark.createDataFrame([(1, 21, 1)], "k int, bv2 int, sign int")
    with pytest.raises(ValueError, match="a_old and delta_b"):
        delta_join_view_rows(a_old, delta_a, b_new, delta_b, "k", "k")


def test_salted_skew_join_identical_rows_spread(spark):
    # partition-id mix: byte-identical hot-key rows across partitions
    # get spread; correctness (row count) is salt-invariant regardless.
    small = spark.createDataFrame([("hot", 99)], "k string, dim int")
    dup = spark.createDataFrame(
        [("hot", 1)] * 64, "k string, pay int"
    ).repartition(8)
    outd = salted_skew_join(dup, small, ["k"], salt=8)
    assert outd.count() == 64


def test_link_entity_pairs_null_block_generates_no_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "acme corp", None, "x"),
            (2, "acme corp", None, "x"),
            (3, "acme corp", "US", "x"),
            (4, "acme corp", "US", "x"),
        ],
        "id long, name string, country string, tier string",
    )
    out = link_entity_pairs(
        df,
        id_col="id",
        name_col="name",
        block_cols=["country"],
        eq_cols=["tier"],
        threshold=0,
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # ids 1,2 have NULL country: they must pair with NOBODY (old `==`
    # join semantics), while 3-4 pair normally within the US block.
    assert pairs == {(3, 4)}
