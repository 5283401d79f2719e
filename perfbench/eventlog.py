"""Fold a Spark event log into per-item engine counters (stdlib only).

The benchmark tags every item's jobs with ``setJobGroup(<item id>)``.  Three
things in the log need care:

- With ``spark.eventLog.rolling.enabled`` the log is an ``eventlog_v2_*``
  directory of ``events_<n>_*`` files; otherwise one file.  Spark compresses
  it with zstd unless ``spark.eventLog.compress=false``, which the benchmark
  sets, so a compressed file is refused here rather than half-read.
- Adaptive execution submits shuffle map stages as jobs of their own; they
  carry the caller's job group, so they count as the item's jobs, and job
  busy time is the union of job intervals, not their sum.
- A streaming query runs its micro-batch (and ``foreachBatch``) jobs under
  its own run id as job group.  Each ``QueryStartedEvent`` is mapped back to
  the item whose wall interval holds its start time, and the run id's jobs
  and progress events are then charged to that item.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
from dataclasses import dataclass, field, fields
from typing import Iterable, Iterator

STREAM_PREFIX = "org.apache.spark.sql.streaming.StreamingQueryListener$"
PYTHON_WORKER_TIME = "time to run Python workers"
#: progress ``durationMs`` keys → ItemStats field
STREAM_PHASES = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "queryPlanning": "query_planning_ms",
}


@dataclass
class ItemStats:
    jobs: int = 0
    tasks: int = 0
    busy_ms: float = 0.0
    task_run_ms: float = 0.0
    task_cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_worker_ms: float = 0.0
    batches: int = 0
    trigger_ms: float = 0.0
    add_batch_ms: float = 0.0
    wal_commit_ms: float = 0.0
    commit_offsets_ms: float = 0.0
    query_planning_ms: float = 0.0
    intervals: list = field(default_factory=list, repr=False)

    def totals(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self) if f.name != "intervals"}


def log_files(path: str) -> list[str]:
    """The files of one application's log, in write order."""
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_events(path: str) -> Iterator[dict]:
    for name in log_files(path):
        if re.search(r"\.(zstd|lz4|snappy|lzf)(\.inprogress)?$", name):
            raise ValueError(f"compressed event log {name}; run with spark.eventLog.compress=false")
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def _epoch_ms(timestamp: str) -> float:
    """Streaming events carry ISO-8601 UTC strings such as
    ``2026-10-16T18:00:01.123Z``."""
    when = dt.datetime.strptime(timestamp.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return when.replace(tzinfo=dt.timezone.utc).timestamp() * 1000.0


def fold(events: Iterable[dict], item_windows: dict[str, tuple[float, float]]) -> dict[str, ItemStats]:
    """Per-item counters.  ``item_windows`` maps each item id (its job group)
    to its wall interval in epoch milliseconds, used only to attribute
    streaming queries.  Jobs of other groups are ignored."""
    stats = {item: ItemStats() for item in item_windows}
    group_item: dict[str, str] = {item: item for item in item_windows}
    stage_item: dict[int, str] = {}
    job_item: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def item_at(ms: float) -> str | None:
        for item, (lo, hi) in item_windows.items():
            if lo <= ms <= hi:
                return item
        return None

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            item = group_item.get(group)
            if item is None:
                continue
            job = ev["Job ID"]
            job_item[job] = item
            job_start[job] = ev["Submission Time"]
            stats[item].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_item[sid] = item
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_item:
                stats[job_item[job]].intervals.append((job_start[job], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            item = stage_item.get(ev.get("Stage ID"))
            if item is None:
                continue
            s = stats[item]
            s.tasks += 1
            m = ev.get("Task Metrics") or {}
            s.task_run_ms += m.get("Executor Run Time", 0)
            s.task_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            s.gc_ms += m.get("JVM GC Time", 0)
            s.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PYTHON_WORKER_TIME:
                    s.python_worker_ms += float(acc.get("Update") or 0)
        elif kind == STREAM_PREFIX + "QueryStartedEvent":
            item = item_at(_epoch_ms(ev["timestamp"])) if ev.get("timestamp") else None
            if item is not None:
                group_item[ev["runId"]] = item
        elif kind == STREAM_PREFIX + "QueryProgressEvent":
            progress = ev.get("progress") or {}
            item = group_item.get(progress.get("runId"))
            if item is None:
                continue
            s = stats[item]
            s.batches += 1
            for phase, name in STREAM_PHASES.items():
                setattr(s, name, getattr(s, name) + (progress.get("durationMs") or {}).get(phase, 0))
    for s in stats.values():
        s.busy_ms = union_ms(s.intervals)
    return stats
