"""Table maintenance: small-file compaction.

Streaming sinks, per-partition writers, and incremental ingests leave
thousands of KB-scale parquet files; at 100 TB that means a file-listing
and task-scheduling tax on EVERY downstream scan (one task per file,
footers read serially on the driver).  Compaction rewrites a dataset
into ~``target_file_bytes`` files once, paying one shuffle-free pass so
every later scan schedules against sanely-sized splits.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from big_data_validator_spark.operators import _local_input_probe


def plan_compaction(
    df: DataFrame, target_file_bytes: int = 256 << 20
) -> Optional[int]:
    """Target output file count for ``df``'s backing files, or ``None``
    when compaction would not help (no file metadata, or the layout is
    already at/under the target count).  Driver-side metadata only —
    the shared ``_local_input_probe`` of ``rebalance_for_compute``; no
    Spark job."""
    probe = _local_input_probe(df)
    if probe is None:
        return None
    paths, total = probe
    target_count = max(1, math.ceil(total / target_file_bytes))
    if target_count >= len(paths):
        return None
    return target_count


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 256 << 20,
    sort_cols: Optional[Sequence[str]] = None,
) -> int:
    """Rewrite ``src_path`` into ``dst_path`` with ~``target_file_bytes``
    files.  Returns the number of files written.

    ``coalesce`` (not ``repartition``): merging small files needs no
    shuffle — each output task reads several input files and writes one.
    ``sort_cols`` optionally sorts WITHIN each output task before
    writing, so parquet row-group min/max stats become selective and
    later predicate pushdown can skip whole row groups — a cheap,
    shuffle-free approximation of clustering.
    """
    df = spark.read.parquet(src_path)
    n = plan_compaction(df, target_file_bytes)
    out = df if n is None else df.coalesce(n)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(dst_path)
    return len(
        [
            f
            for f in spark.read.parquet(dst_path).inputFiles()
        ]
    )


def compaction_manifest(
    frags,
    target_rows: int,
    frag_col: str = "frag",
    rows_col: str = "n_rows",
    est_row_bytes: int = 64,
):
    """Greedy sequential bin-packing of a fragment inventory into
    compaction output files: fragments are laid end-to-end in
    ``frag_col`` order and fragment f lands in ``out_file =
    cum_rows_before(f) div target_rows`` — the plan an OPTIMIZE /
    compaction job executes (which inputs each output task reads).

    Input is a ``(frag, n_rows)`` frame — file-count-scale METADATA
    (a 100 TB table at 256 MB files is ~400k manifest rows), so the
    single global cumulative-sum window here is bounded by the file
    count, never by the data; the plan is pure arithmetic over the
    inventory and any engine reproduces it exactly.  ``est_bytes`` is
    a rows × ``est_row_bytes`` planning estimate (real byte sizes are
    engine/encoding-dependent; row counts are the portable currency).

    Returns ``(frag, n_rows, est_bytes, out_file)``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.orderBy(frag_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(rows_col).over(w), F.lit(0).cast("long")
    )
    return (
        frags.select(
            F.col(frag_col),
            F.col(rows_col).cast("long").alias(rows_col),
            cum_before.alias("_cum_before"),
        )
        .select(
            frag_col,
            rows_col,
            (F.col(rows_col) * F.lit(est_row_bytes))
            .cast("long")
            .alias("est_bytes"),
            F.expr(f"_cum_before div {int(target_rows)}").alias(
                "out_file"
            ),
        )
    )
