"""Tests of the benchmark's own parts: the seeded table generator, the
output checks against a real validation run, and the event-log folder.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402

SPECS = [
    gen.TableSpec("QCLEAN", 300, 7, quoted=True, dirty=False),
    gen.TableSpec("NDIRTY", 700, 13, quoted=False, dirty=True),
]


def _tree(base: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(base):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = fh.read()
    return out


def test_same_seed_gives_identical_files(tmp_path):
    for run in ("a", "b"):
        for i, spec in enumerate(SPECS):
            gen.write_table(str(tmp_path / run), spec, seed=11, index=i)
    a, b = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert len(a) == 3 * len(SPECS)
    assert a == b
    gen.write_table(str(tmp_path / "c"), SPECS[1], seed=12, index=1)
    assert _tree(str(tmp_path / "c"))["inputs/NDIRTY.csv"] != a["inputs/NDIRTY.csv"]


def test_truth_counts_what_was_injected():
    data, meta, truth = gen.build_table(SPECS[1], seed=3, index=0)
    lines = data.decode().splitlines()
    assert len(lines) == SPECS[1].rows + 1
    extra = sum(1 for line in lines[1:] if line.count("|") != SPECS[1].cols - 1)
    assert extra == truth["sink_rows"] == SPECS[1].rows // 100
    assert truth["results"][2]["violation_count"] == SPECS[1].rows // 100
    assert meta.count("\n") == SPECS[1].cols + 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_runner_report_equals_ground_truth(spark, tmp_path):
    import run as bench_run
    from big_data_validator_spark import TableContract
    from big_data_validator_spark.runner import RunnerConfig, ValidationRunner

    for i, spec in enumerate(SPECS):
        truth = gen.write_table(str(tmp_path), spec, seed=5, index=i)
        runner = ValidationRunner(spark, RunnerConfig(failure_base_dir=str(tmp_path / "sinks")))
        report = runner.validate_csv(
            spec.name, truth["csv"], TableContract.from_metadata_csv(truth["metadata"])
        )
        rows, files, _ = bench_run.sink_stats(report.failure_sink_path)
        assert bench_run.check_report(report, rows, truth) is None, report.to_json()
        assert (files > 0) == spec.dirty


def _job(job, group, t0, t1, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t0,
         "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t1},
    ]


def _task(stage, run_ms, python_ms=None):
    accs = [{"Name": eventlog.PYTHON_WORKER_TIME, "Update": python_ms}] if python_ms else []
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
        },
    }


def _tiny_log() -> list[dict]:
    stream = eventlog.STREAM_PREFIX
    return [
        # item A: a job and an overlapping adaptive map-stage job
        *_job(0, "A", 1000, 1400, [0]),
        _task(0, 300, python_ms=50),
        *_job(1, "A", 1200, 1600, [1]),
        _task(1, 200),
        # a job outside any item
        *_job(2, "other", 1700, 1800, [2]),
        _task(2, 999),
        # item B starts a stream whose jobs run under its run id
        {"Event": stream + "QueryStartedEvent", "runId": "r1",
         "timestamp": "1970-01-01T00:00:02.100Z"},
        *_job(3, "r1", 2200, 2500, [3]),
        _task(3, 250),
        {"Event": stream + "QueryProgressEvent",
         "progress": {"runId": "r1", "durationMs": {"triggerExecution": 400, "addBatch": 300,
                                                     "walCommit": 20, "commitOffsets": 30,
                                                     "queryPlanning": 40}}},
    ]


def test_fold_tiny_log(tmp_path):
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    events = _tiny_log()
    # a rolling log: two files, read in index order
    for n, chunk in ((1, events[:6]), (2, events[6:])):
        (log_dir / f"events_{n}_local-1").write_text("".join(json.dumps(e) + "\n" for e in chunk))
    stats = eventlog.fold(eventlog.read_events(str(log_dir)),
                          {"A": (900, 1650), "B": (2000, 3000)})
    a, b = stats["A"].totals(), stats["B"].totals()
    assert (a["jobs"], a["tasks"], a["busy_ms"]) == (2, 2, 600)
    assert (a["task_run_ms"], a["python_worker_ms"], a["input_bytes"]) == (500, 50, 200)
    assert (b["jobs"], b["tasks"], b["busy_ms"], b["batches"]) == (1, 1, 300, 1)
    assert (b["trigger_ms"], b["add_batch_ms"], b["query_planning_ms"]) == (400, 300, 40)


def test_compressed_log_is_refused(tmp_path):
    path = tmp_path / "local-1.zstd"
    path.write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress"):
        list(eventlog.read_events(str(path)))
