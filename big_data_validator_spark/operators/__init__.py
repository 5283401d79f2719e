"""Validation rules and data-pipeline operators."""

from __future__ import annotations

import os
from typing import Sequence
from urllib.parse import unquote, urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rebalance_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's parallelism when the input
    arrives in fewer partitions than cores.

    Compute-bound operators (shingling, signature kernels, per-row regex
    batteries) inherit the SCAN's partitioning — a small parquet file comes
    in as one partition and the whole pipeline runs on one core (measured:
    the sf0.1 documents table is a single file; MinHash ran 1/32 cores).
    At 100 TB scans are already thousands of partitions and this is a
    no-op; the guard is driver-side file metadata through the PUBLIC
    ``DataFrame.inputFiles()`` API (the file index is already materialized
    by the reader, so no extra listing job; probing
    ``df.rdd.getNumPartitions()`` would cost an RDD conversion per call,
    and the py4j ``_jdf...stats()`` route is version-brittle private API).
    Only inputs small enough to have been read as fewer splits than cores
    ever get the extra exchange:

    - ≥ one file per core → the reader already parallelizes; no-op.
    - fewer, but ≥ 128 MiB/core total (the default ``maxPartitionBytes``)
      → splittable formats fan out on their own; no-op.
    - non-local URIs or in-memory relations (no files) → trust the
      source's split planning; no-op.

    Idempotent per DataFrame object: a frame this function already
    rebalanced (e.g. a cached corpus an audit passes to several
    operators, each of which defensively rebalances its input) is
    returned as-is instead of getting a second exchange.  The marker
    rides the Python object, so derived frames — new objects — are
    re-evaluated from their own file metadata as before.
    """
    if getattr(df, "_bdv_rebalanced", False):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    probe = _local_input_probe(df)
    if probe is None:
        return df
    paths, total = probe
    if len(paths) >= target:
        return df
    # One split per core at the default 128 MiB maxPartitionBytes: inputs
    # under this arrive under-parallelized; above it Spark already splits.
    if total < target * (128 << 20):
        out = df.repartition(target)
        out._bdv_rebalanced = True
        return out
    return df


def _local_input_probe(df: DataFrame):
    """``(paths, total_bytes)`` of a frame's LOCAL input files, or
    ``None`` when the probe cannot answer cheaply (no files, non-local
    URIs, unreadable sizes) — the shared driver-side file-metadata
    device of :func:`rebalance_for_compute`,
    :func:`adaptive_partitions` and the validation runner's header read
    (ADVICE r13: the probes had drifted into near-duplicate code).
    ``paths`` are filesystem paths: ``inputFiles()`` percent-encodes
    URIs, so a name with a space or ``%`` is decoded before use."""
    try:
        files = df.inputFiles()
    except AnalysisException:  # streaming frames have no file listing
        return None
    if not files:
        return None
    paths = []
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        path = unquote(u.path)
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
        paths.append(path)
    return paths, total


def adaptive_partitions(
    df: DataFrame, bytes_per_partition: int = 64 << 20
) -> int:
    """Partition count for a PERSISTED intermediate, derived from the
    input's file bytes (driver-side metadata only, the
    :func:`rebalance_for_compute` device), capped at the session
    parallelism.

    Caching pins a partitioning for the lifetime of the cache (AQE does
    not re-plan inside cached subtrees, by default), so a count tuned to
    the session constant (``spark.sql.shuffle.partitions``) makes every
    consumer of a SMALL cache run at full task fan-out — measured at
    sf0.1, 32-way cached joins cost more than recomputing the relation.
    Deriving the count from input size keeps small-scale overhead at one
    task while a 100 TB input still fans out to every core (guide §2:
    scale-adaptive partitioning, not a constant tuned for either local
    mode or the cluster).  Falls back to full parallelism whenever the
    bytes cannot be read cheaply (non-local storage, in-memory inputs).

    Two-sided bound: ``min(parallelism, bytes/64 MiB)`` keeps small
    caches at few tasks, while the ``bytes/256 MiB`` floor re-opens the
    fan-out PAST the core count once the input is large enough that a
    per-core partition would exceed ~256 MiB — a cached partition must
    stay memory-sized at any scale (guide §2.2/§5).
    """
    sc = df.sparkSession.sparkContext
    probe = _local_input_probe(df)
    if probe is None:
        return sc.defaultParallelism
    _, total = probe
    small = min(sc.defaultParallelism, total // bytes_per_partition + 1)
    size_floor = total // (256 << 20) + 1
    return int(max(1, small, size_floor))


def block_scan(
    df: DataFrame,
    block: Column,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Add ``<c>_before`` = exclusive running sum of each ``sum_cols``
    column in ``order_cols`` order (per ``partition_cols`` group), with
    no single-task global window — the two-pass distributed scan every
    exact rank statistic and global offset in this package runs on.

    ``block`` must preserve the order: every row of a lower block sorts
    before every row of a higher one (``floor(v / width)`` for numeric
    keys, a key prefix for strings).  Pass 1 sums each row's
    predecessors inside its block with a window partitioned BY BLOCK
    (parallel); pass 2 aggregates one total per block, prefix-sums that
    tiny frame and broadcasts it back.  Block granularity moves work
    between the passes, never the result.  The totals come from the
    pre-window frame: a map-side-combinable aggregate, where deriving
    them from the windowed frame would recompute and re-sort it.

    Returns the input columns, then one ``<c>_before`` per sum column
    (0 for a group's first row).  An inclusive sum is ``<c>_before +
    <c>``.
    """
    parts = list(partition_cols)
    keyed = df.withColumn("_blk", block)
    preceding = (Window.unboundedPreceding, -1)
    in_block = (
        Window.partitionBy(*parts, "_blk")
        .orderBy(*order_cols)
        .rowsBetween(*preceding)
    )
    across = Window.partitionBy(*parts).orderBy("_blk").rowsBetween(*preceding)
    idx = list(enumerate(sum_cols))
    local = keyed.select(
        "*", *[F.sum(c).over(in_block).alias(f"_local_cum{i}") for i, c in idx]
    )
    totals = (
        keyed.groupBy(*parts, "_blk")
        .agg(*[F.sum(c).alias(f"_blk_total{i}") for i, c in idx])
        .select(
            *parts,
            "_blk",
            *[
                F.coalesce(F.sum(f"_blk_total{i}").over(across), F.lit(0))
                .alias(f"_blk_offset{i}")
                for i, _ in idx
            ],
        )
    )
    return local.join(F.broadcast(totals), [*parts, "_blk"]).select(
        *[F.col(f"`{c}`") for c in df.columns],
        *[
            (
                F.coalesce(F.col(f"_local_cum{i}"), F.lit(0))
                + F.col(f"_blk_offset{i}")
            ).alias(f"{c}_before")
            for i, c in idx
        ],
    )
