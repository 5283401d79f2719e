"""Small-file compaction plan and the shared local-input probe."""

from __future__ import annotations


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
    ``AnalysisException``) and in-memory relations (it returns ``[]``)."""
    from big_data_validator_spark.operators import _local_input_probe

    frames = [
        spark.readStream.format("rate").load(),
        spark.range(10),
        spark.createDataFrame([(1, "a")], "k int, v string"),
    ]
    for df in frames:
        assert _local_input_probe(df) is None
