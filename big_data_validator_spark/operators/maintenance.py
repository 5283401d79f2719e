"""Table maintenance: the small-file compaction plan.

Streaming sinks, per-partition writers, and incremental ingests leave
thousands of KB-scale parquet files; at 100 TB that means a file-listing
and task-scheduling tax on EVERY downstream scan (one task per file,
footers read serially on the driver).  :func:`compaction_manifest` plans
the rewrite into fewer, sanely-sized files from the fragment inventory.
"""

from __future__ import annotations


_EST_ROW_BYTES = 64


def compaction_manifest(
    frags,
    target_rows: int,
    frag_col: str = "frag",
    rows_col: str = "n_rows",
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
    a rows × ``_EST_ROW_BYTES`` planning estimate (real byte sizes are
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
            (F.col(rows_col) * F.lit(_EST_ROW_BYTES))
            .cast("long")
            .alias("est_bytes"),
            F.expr(f"_cum_before div {int(target_rows)}").alias(
                "out_file"
            ),
        )
    )
