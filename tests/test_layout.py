from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_validator_spark.operators.layout import (
    morton_interleave,
    morton_sql,
    zorder_file_stats,
)


def _morton_ref(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton_interleave_matches_reference(spark):
    vals = [(0, 0), (1, 0), (0, 1), (255, 255), (170, 85), (3, 12)]
    df = spark.createDataFrame(vals, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", morton_interleave(F.col("x"), F.col("y"), 8).alias("z")
        ).collect()
    }
    for x, y in vals:
        assert got[(x, y)] == _morton_ref(x, y, 8), (x, y)


def test_morton_sql_matches_column_form(spark):
    df = spark.createDataFrame(
        [(i, 255 - i) for i in range(0, 256, 17)], "x long, y long"
    )
    both = df.select(
        morton_interleave(F.col("x"), F.col("y"), 8).alias("a"),
        F.expr(f"({morton_sql('x', 'y', 8)})").alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


def test_file_stats_cover_all_rows_and_shrink_spans(spark):
    # a 64x64 grid: perfect Z-order over 64 files gives 8x8 tiles ->
    # per-dimension spans of 1/8
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "a long, b long")
    stats = zorder_file_stats(df, "a", "b", bits=6, n_files=64).collect()
    assert sum(r["n_rows"] for r in stats) == len(rows)
    assert len(stats) == 64
    for r in stats:
        assert r["x_span_frac"] == 0.125
        assert r["y_span_frac"] == 0.125


def test_file_stats_beat_single_column_sort_locality(spark):
    """The point of Z-order: a one-column sort leaves the OTHER column
    unclustered (span ~1 per file); Z-order bounds both."""
    rows = [(x, (x * 7919) % 1000) for x in range(4000)]
    df = spark.createDataFrame(rows, "a long, b long")
    stats = zorder_file_stats(df, "a", "b", bits=8, n_files=64).collect()
    avg_y_span = sum(r["y_span_frac"] for r in stats) / len(stats)
    # single-column sort on `a` would give avg y-span ~= 1.0
    assert avg_y_span < 0.6


def test_invalid_params_raise(spark):
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        zorder_file_stats(df, "a", "b", n_files=63)
    with pytest.raises(ValueError):
        zorder_file_stats(df, "a", "b", bits=0)
    with pytest.raises(ValueError):
        zorder_file_stats(df, "a", "b", bits=2, n_files=64)
