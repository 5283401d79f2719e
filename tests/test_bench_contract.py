"""The driver's bench contract: bench.HEADLINE is every registry entry
not in bench.EXCLUDED, the script emits its JSON contract lines, and a
scale run merges its rows into the BENCH_SCALE.json record."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_exclusion_names_a_registry_entry():
    """HEADLINE is derived from the registry, so the one hand-kept list is
    EXCLUDED: a key left stale by a rename would silently bench the
    renamed entry."""
    import bench

    from big_data_validator_spark.queries import REGISTRY

    stale = [n for n in bench.EXCLUDED if n not in REGISTRY]
    assert not stale, f"bench.EXCLUDED names absent from registry: {stale}"


def test_prev_ratio_device_isolates_localized_regression():
    """The session-noise device (VERDICT r8 item 1): a uniform 1.5x
    host slowdown plus one genuinely-3x query must come out as
    noise_factor ~1.5 with only that query's ADJUSTED ratio elevated."""
    import bench

    prev = {
        "sf": 0.1,
        "queries": {f"q{i}": 1.0 for i in range(10)} | {"slow": 1.0},
    }
    cur = {f"q{i}": 1.5 for i in range(10)} | {"slow": 3.0}
    out = bench.compute_prev_ratios(cur, prev, 0.1)
    assert out["n_shared_prev"] == 11
    assert abs(out["noise_factor"] - 1.5) < 1e-9
    assert out["worst_adj"]["name"] == "slow"
    assert abs(out["worst_adj"]["ratio"] - 2.0) < 1e-9
    for n in (f"q{i}" for i in range(10)):
        assert abs(out["ratio_vs_prev_adj"][n] - 1.0) < 1e-9
    # sf mismatch / missing prev -> null fields, never a crash
    assert bench.compute_prev_ratios(cur, prev, 0.001)["noise_factor"] is None
    assert bench.compute_prev_ratios(cur, None, 0.1)["n_shared_prev"] == 0
    # a prev entry with zero/absent timing is skipped, not divided by
    prev2 = {"sf": 0.1, "queries": {"a": 0.0, "b": 2.0}}
    out2 = bench.compute_prev_ratios({"a": 1.0, "b": 1.0}, prev2, 0.1)
    assert out2["n_shared_prev"] == 1 and out2["noise_factor"] == 0.5


def test_bench_emits_contract_json_line(tmp_path):
    """One timed pass at sf0.001 end-to-end: bench.py must exit 0 and print
    ONE parseable JSON line with the driver-contract fields."""
    import bench

    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="8",
        SPARK_GRAFT_BENCH_PASSES="1",
        # keep the committed sf0.1 BENCH_DETAIL.json out of reach —
        # r5's checked-in detail was silently this test's sf0.001
        # artifact, poisoning round-over-round comparison
        SPARK_GRAFT_DETAIL_PATH=str(tmp_path / "BENCH_DETAIL.json"),
    )
    # 12 entries named on the command line exercise the full contract
    # path (subprocess, warm+timed passes, JSON line, detail file); the
    # full 217-query sf0.001 pass cost 356 s of pytest wall.  The
    # headline run itself takes no arguments.
    proc = subprocess.run(
        [sys.executable, "bench.py", *bench.HEADLINE[:12]],
        capture_output=True,
        text=True,
        timeout=1200,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    lines = proc.stdout.strip().splitlines()
    # FINAL line: the compact primary contract.  The driver keeps only
    # the last ~2 KB of stdout — r3/r4 lost their perf record to a 4 KB
    # line — so the primary must stay far under that bound.
    line = lines[-1]
    assert len(line.encode()) < 1500, f"primary contract line too long: {len(line)}"
    d = json.loads(line)
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["value_min"] <= d["value"]
    assert d["n_queries"] == 12  # the names passed above
    assert d["sf"] == 0.001
    assert "queries" not in d  # per-query maps live in the detail line/file
    # the noise-device fields must be PRESENT every round (VERDICT r8
    # item 1); here the committed repo-root prev detail is sf0.1 while
    # the run is sf0.001, so they are null — but the contract carries
    # them so their absence can never again be silent
    assert "noise_factor" in d and "worst_adj" in d
    assert d["n_shared_prev"] == 0 and d["noise_factor"] is None
    # preceding detail line + file carry the full per-query maps
    detail = json.loads(lines[-2])
    assert set(detail["queries"]) == set(bench.HEADLINE[:12])
    assert set(detail["queries_min"]) == set(bench.HEADLINE[:12])
    # with one timed pass the spread collapses: min == median == max
    assert detail["queries_max"] == detail["queries"] == detail["queries_min"]
    assert "ratio_vs_prev" in detail and "ratio_vs_prev_adj" in detail
    with open(tmp_path / "BENCH_DETAIL.json") as fh:
        fdetail = json.load(fh)
    assert fdetail["queries"] == detail["queries"]
    assert fdetail["queries_max"] == detail["queries_max"]


def test_scale_merge_replaces_timed_rows_and_keeps_the_rest():
    """A scale run merges into BENCH_SCALE.json: its rows are replaced,
    every other row and the exclusion record survive, and the totals are
    recomputed over the whole record."""
    import bench

    record = {
        "metric": "sf1_spot_bench_sec",
        "unit": "sec",
        "sf": 1.0,
        "value": 7.0,
        "value_sf01": 3.0,
        "queries": {"a": 4.0, "b": 3.0},
        "queries_min": {"a": 3.9, "b": 2.9},
        "queries_sf01_same_session": {"a": 2.0, "b": 1.0},
        "ratio_vs_sf01": {"a": 2.0, "b": 3.0},
        "sample_spread": {"a": 1.1, "b": 1.2},
        "excluded": {"x": "reason"},
        "note": "old",
    }
    before = json.loads(json.dumps(record))
    out = bench.merge_scale(
        record, {"b": [6.0, 5.0, 10.0], "c": [1.0, 1.0, 1.0]},
        {"b": [2.0, 2.5, 3.0], "c": [0.5, 0.5, 0.5]}, 1.0, 4,
    )
    assert record == before  # the input record is not mutated
    assert out["queries"] == {"a": 4.0, "b": 6.0, "c": 1.0}
    assert out["queries_min"] == {"a": 3.9, "b": 5.0, "c": 1.0}
    assert out["queries_sf01_same_session"] == {"a": 2.0, "b": 2.5, "c": 0.5}
    assert out["ratio_vs_sf01"] == {"a": 2.0, "b": 2.4, "c": 2.0}
    assert out["sample_spread"] == {"a": 1.1, "b": 2.0, "c": 1.0}
    assert out["value"] == 11.0 and out["value_sf01"] == 5.0
    assert out["cpus"] == {"b": 4, "c": 4}
    assert out["excluded"] == {"x": "reason"}
    assert out["note"] == bench.SCALE_NOTE
    with pytest.raises(ValueError):
        bench.merge_scale(record, {"a": [1.0]}, {"a": [1.0]}, 0.1, 4)


def test_unknown_entry_exits_2_before_spark_starts():
    """A name outside REGISTRY is a usage error, caught before a session
    is built: with JAVA_HOME pointing nowhere a Spark start would fail
    with a gateway error and exit 1, not 2."""
    env = dict(os.environ, JAVA_HOME=os.path.join(REPO, "no-such-java"))
    proc = subprocess.run(
        [sys.executable, "bench.py", "no_such_entry"],
        capture_output=True,
        text=True,
        timeout=120,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert "no_such_entry" in proc.stderr
    assert not proc.stdout
