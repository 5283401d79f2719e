"""Validation rules and data-pipeline operators."""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Iterator, Optional, Sequence
from urllib.parse import unquote, urlparse

import pyarrow as pa
from pyspark.errors import AnalysisException, PySparkException
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)
_row_fallback_logged = False


# -------------------------------------------------------- resource lifetime

#: The open :func:`resource_scope` blocks, innermost last; each list holds
#: the cached frames, checkpoint RDDs and directories made while it is
#: innermost.  A plain
#: module list, not a ``contextvar``: ``foreachBatch`` bodies run on py4j's
#: callback thread while the calling entry's scope is open.
_SCOPES: list[list] = []


def pin(df: DataFrame) -> DataFrame:
    """Cache ``df`` for the innermost open :func:`resource_scope`, which
    unpersists it on exit.  Outside any scope this is a plain
    ``cache()`` and the caller owns the cache."""
    df.cache()
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` (truncating its lineage) for the
    innermost open :func:`resource_scope`, which unpersists the RDDs the
    checkpoint registered on exit.  Outside any scope this is a plain
    ``localCheckpoint`` and its blocks live until the driver GCs them."""
    if not _SCOPES:
        return df.localCheckpoint(eager=True)
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = df.localCheckpoint(eager=True)
    after = jsc.getPersistentRDDs()
    _SCOPES[-1].extend(after.get(i) for i in set(after.keySet()) - before)
    return out


def scratch_dir(prefix: str) -> str:
    """A fresh temp directory for the innermost open
    :func:`resource_scope`, which removes it on exit.  Outside any scope
    this is a plain ``mkdtemp`` and the caller owns the directory."""
    path = tempfile.mkdtemp(prefix=prefix)
    if _SCOPES:
        _SCOPES[-1].append(path)
    return path


@contextmanager
def resource_scope() -> Iterator[list]:
    """Own every cache :func:`pin`, every RDD :func:`checkpoint` and every
    directory :func:`scratch_dir` makes inside the block: on exit,
    whether the block returned or raised, unpersist the caches and RDDs
    and remove the directories.  Yields the
    list of what the block holds so far, so ``if held:`` tells whether
    the block made anything a lazy result could still read."""
    held: list = []
    _SCOPES.append(held)
    try:
        yield held
    finally:
        _SCOPES.pop()
        for r in held:
            if isinstance(r, str):
                shutil.rmtree(r, ignore_errors=True)
            else:
                r.unpersist()


_session_root: Optional[str] = None


def session_root() -> str:
    """The process-lived temp root under :func:`session_dir`: made on
    first use (again if something removed it) and removed at exit."""
    global _session_root
    if _session_root is None or not os.path.isdir(_session_root):
        _session_root = tempfile.mkdtemp(prefix="bdv_session_")
        atexit.register(shutil.rmtree, _session_root, True)
    return _session_root


def session_dir(prefix: str) -> str:
    """A fresh directory for scratch that outlives one call by design —
    a staged input source, the package zip shipped to workers — under
    :func:`session_root`, so it lives exactly as long as the process."""
    return tempfile.mkdtemp(prefix=prefix, dir=session_root())


def materialize(df: DataFrame) -> DataFrame:
    """Collect a SMALL result (pair lists, cluster summaries, one-row
    statistics) to the driver and hand it back as a local frame, so it
    no longer reads the caches or directories its scope is about to
    release.  Collect-and-recreate rather than ``localCheckpoint``: a
    checkpoint is itself a persistent RDD that lives until GC, exactly
    the lingering state a scope removes."""
    global _row_fallback_logged
    try:
        # Arrow round-trip (r14, guide §6 — Arrow for driver
        # transfers): exact for every engine type incl. NULLs,
        # decimals and arrays (Spark 4's toArrow / fromArrow pair),
        # measured 5x faster than pickled Rows on a 100k-row result —
        # entries with pair-list-sized outputs paid ~1.5s per pass in
        # driver (de)serialization on the row path.
        tbl = df.toArrow()
        return df.sparkSession.createDataFrame(tbl, schema=df.schema)
    except (pa.ArrowException, PySparkException) as exc:
        # A failure of the query itself (a CapturedException from the
        # JVM) must raise once, not re-run on the Row path; only a
        # driver-side Arrow conversion failure falls back.
        if isinstance(exc, CapturedException):
            raise
        if not _row_fallback_logged:
            _row_fallback_logged = True
            _log.warning(
                "materialize: Arrow conversion failed (%s); "
                "collecting Rows instead",
                exc,
            )
        return df.sparkSession.createDataFrame(df.collect(), df.schema)


# ------------------------------------------------------------ partitioning


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
