"""Bounded streaming harness shared by the streaming registry entries:
:func:`_bounded_drain` runs one drain under a temp root it deletes,
:func:`_staged` mints a session-cached input source, and
:func:`_ordered_stream` replays a staged source one file per
micro-batch."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from big_data_validator_spark.operators import dedup as D


class _Drain(NamedTuple):
    """What one :func:`_bounded_drain` call owns."""

    root: str  # per-call temp root: sources, sinks, repositories
    checkpoint: str  # the query's checkpoint, under ``root``
    table: str  # the query name, which is also a memory sink's table


def _bounded_drain(
    spark: SparkSession,
    name: str,
    writer: Callable[[_Drain], DataStreamWriter],
    read_back: Callable[[_Drain], DataFrame],
    state_partitions: int = 2,
) -> DataFrame:
    """Run registry entry ``name``'s BOUNDED streaming drain and return
    its collected result.

    ``writer(d)`` builds the unstarted query, with every source, sink
    and repository it creates under ``d.root``.  The harness names it
    ``d.table`` (the entry name plus a uniqueness suffix), sets its
    checkpoint, starts it with ``availableNow`` and awaits it;
    ``awaitTermination`` re-raises the query's own failure.
    ``read_back(d)`` reads the sink, and its result is materialized
    (:func:`~big_data_validator_spark.operators.dedup
    .materialize_release`) BEFORE the root is deleted: lazy parquet
    reads must not outlive their directory.  The root and a memory
    sink's temp view are removed whether the drain succeeds or not.

    ``spark.sql.shuffle.partitions`` — hence the state partitions, fixed
    at query start — is ``state_partitions`` for the drain only and is
    restored before the read-back, so read-back plans keep the session
    value.  Measured at sf0.1 on local[32]: a finite drain spends more
    on per-partition state-store checkpointing than on data (r12: 32 →
    8 partitions took the attribution join 3.3 s → 1.6 s; r14
    within-session A/B, 8 → 2 partitions: attribution_left 5.5 → 4.4 s,
    mannwhitney 5.8 → 5.4 s, attribution_join 1.6 → 1.35 s, dedup 1.2 →
    1.15 s — every drained batch here is file-sized, so two state
    partitions already hold it).  A real deployment sizes this to
    drained bytes per trigger, not to core count.
    """
    root = tempfile.mkdtemp(prefix=f"bdv_{name}_")
    d = _Drain(root, f"{root}/checkpoint", f"{name}_{uuid.uuid4().hex[:8]}")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = (
                writer(d)
                .queryName(d.table)
                .option("checkpointLocation", d.checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return D.materialize_release(read_back(d))
    finally:
        spark.catalog.dropTempView(d.table)
        shutil.rmtree(root, ignore_errors=True)


def _memory_sink(stream: DataFrame, output_mode: str) -> DataStreamWriter:
    """An unstarted memory-sink writer for :func:`_bounded_drain`, which
    names the query and with it the sink's table (``_Drain.table``)."""
    return stream.writeStream.format("memory").outputMode(output_mode)


#: (applicationId, sf_dir, tag) → root of a source :func:`_staged`
#: wrote.  Staging is input minting, not operator work — reused across
#: calls the way production sources pre-exist their consumers.
_STAGED: dict[tuple, str] = {}


def _staged(
    spark: SparkSession, sf_dir: str, tag: str, write: Callable[[str], None]
) -> str:
    """The root of staged source ``tag``: ``write(root)`` fills a fresh
    temp root once per session and ``sf_dir``; later calls reuse it
    while it exists."""
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    hit = _STAGED.get(key)
    if hit and os.path.isdir(hit):
        return hit
    root = tempfile.mkdtemp(prefix=f"bdv_{tag}_src_")
    write(root)
    _STAGED[key] = root
    return root


def _write_file(frame: DataFrame, dst: str, mtime: int) -> None:
    """Write ``frame`` as a single-file parquet dir ``dst`` whose files
    carry ``mtime``, the order :func:`_ordered_stream` replays them in."""
    frame.coalesce(1).write.parquet(dst)
    for f in os.listdir(dst):
        os.utime(f"{dst}/{f}", (mtime, mtime))


def _staged_runs(
    spark: SparkSession, sf_dir: str, tag: str, runs: Callable[[], list]
) -> str:
    """Stage the frames ``runs()`` returns as single-file parquet dirs
    ``run0``, ``run1``, … whose mtimes agree with their names, so
    :func:`_ordered_stream` delivers run r as micro-batch r (batch_id ==
    run_id) without sleeping between writes."""

    def write(root: str) -> None:
        for r, frame in enumerate(runs()):
            _write_file(frame, f"{root}/run{r}", 1_000_000 + r)

    return _staged(spark, sf_dir, tag, write)


def _ordered_stream(
    spark: SparkSession, src: str, first: str = "run0"
) -> DataFrame:
    """Stream the file groups under ``src`` one file per micro-batch,
    oldest mtime first, with the schema of ``src/first``."""
    return (
        spark.readStream.schema(spark.read.parquet(f"{src}/{first}").schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/*")
    )
