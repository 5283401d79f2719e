"""Small-file compaction: fewer, right-sized files, identical data."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_validator_spark.operators.maintenance import (
    compact_parquet,
    plan_compaction,
)


def test_compaction_merges_small_files(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    # 64 tiny files
    spark.range(10_000).select(
        "id", F.concat(F.lit("row-"), F.col("id").cast("string")).alias("v")
    ).repartition(64).write.parquet(src)
    before = spark.read.parquet(src)
    assert len(before.inputFiles()) == 64

    n_files = compact_parquet(spark, src, dst, target_file_bytes=1 << 20)
    after = spark.read.parquet(dst)
    assert n_files == len(after.inputFiles())
    assert n_files < 64
    # identical data
    assert after.count() == 10_000
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_compaction_noop_when_already_compact(spark, tmp_path):
    src = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    # a single file is already at/under any sane target → no plan
    assert plan_compaction(df, target_file_bytes=256 << 20) is None


def test_compaction_sort_improves_rowgroup_stats(spark, tmp_path):
    src, dst = str(tmp_path / "s2"), str(tmp_path / "d2")
    # keys scattered across files → min/max spans everything per file
    spark.range(50_000).select(
        (F.col("id") * 7919 % 50_000).alias("k"),
        F.col("id").alias("v"),
    ).repartition(32).write.parquet(src)
    compact_parquet(spark, src, dst, target_file_bytes=1 << 30, sort_cols=["k"])
    # 7919 is coprime to 50000 → k values are a permutation: exactly one hit,
    # and the point lookup works against the sorted, compacted layout
    got = spark.read.parquet(dst).filter(F.col("k") == 123).collect()
    assert len(got) == 1 and got[0]["k"] == 123


def test_compaction_manifest_sequential_packing(spark):
    """compaction_manifest: fragments laid end-to-end in frag order;
    out_file = cum_rows_before div target — a fragment STARTING inside
    bin k belongs to bin k even if it overflows it (greedy sequential
    fill, the shape a compaction job's task assignment uses)."""
    from big_data_validator_spark.operators.maintenance import (
        compaction_manifest,
    )

    frags = spark.createDataFrame(
        [(0, 40), (1, 40), (2, 40), (3, 5), (4, 100), (5, 10)],
        "frag long, n_rows long",
    )
    got = {
        r["frag"]: (r["n_rows"], r["est_bytes"], r["out_file"])
        for r in compaction_manifest(frags, target_rows=100).collect()
    }
    # cum_before: 0, 40, 80, 120, 125, 225
    assert got == {
        0: (40, 40 * 64, 0),
        1: (40, 40 * 64, 0),
        2: (40, 40 * 64, 0),   # starts at 80 → bin 0 (overflows it)
        3: (5, 5 * 64, 1),
        4: (100, 100 * 64, 1),
        5: (10, 10 * 64, 2),
    }


def test_input_probe_declines_streams_and_in_memory_frames(spark):
    """The shared probe answers ``None`` — never raises — for frames with
    no local files: a streaming source (``inputFiles`` raises
    ``AnalysisException``) and in-memory relations (it returns ``[]``);
    ``plan_compaction`` then plans nothing."""
    from big_data_validator_spark.operators import _local_input_probe

    frames = [
        spark.readStream.format("rate").load(),
        spark.range(10),
        spark.createDataFrame([(1, "a")], "k int, v string"),
    ]
    for df in frames:
        assert _local_input_probe(df) is None
        assert plan_compaction(df) is None
