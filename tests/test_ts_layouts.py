"""The events.ts storage contract: every layout the testdata has shipped
(ns-as-long, µs TIMESTAMP_NTZ, µs tz-adjusted TIMESTAMP) must produce
IDENTICAL query results through the canonical loader.

Round 3 regressed because the loader assumed one era's layout: the
testdata regenerated ``events.ts`` from timestamp[ns] to timestamp[us]
and three queries (sessionize + both streaming legs) broke or silently
answered wrong (VERDICT r3).  This pins the normalization in
``queries.loader._t`` / ``queries.loader._events_stream`` against all three layouts so
a future regeneration fails HERE, in seconds, not in the driver window.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from big_data_validator_spark.queries import REGISTRY
from big_data_validator_spark.queries.loader import _t

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)

# two users; user 1 has a >30-min gap (2 sessions), user 2 one session;
# events span two distinct hours so windowed counts are non-trivial
_EVENTS = [
    # (event_id, seconds_from_base, user_id, event_type, value)
    (1, 0, 1, "click", 10.0),
    (2, 60, 1, "view", 200.0),  # value-range violation
    (3, 4000, 1, "click", 20.0),  # >30 min gap → new session, next hour
    (4, 30, 2, "bogus", 30.0),  # type-domain violation
    (5, 90, 2, "purchase", None),  # null value violation
    (6, 150, 2, "signup", 40.0),
]

_EPOCH = dt.datetime(1970, 1, 1)


def _epoch_ints(ts, scale):
    return pa.array(
        [int((t - _EPOCH).total_seconds() * scale) for t in ts], pa.int64()
    )


#: every layout the loader contract covers: parquet timestamp types AND
#: bare epoch-integer columns at each unit (magnitude-inferred)
LAYOUTS = {
    "ns_long": lambda ts: pa.array(ts, pa.timestamp("ns")),
    "us_ntz": lambda ts: pa.array(ts, pa.timestamp("us")),
    "us_ltz": lambda ts: pa.array(ts, pa.timestamp("us", tz="UTC")),
    "int_s": lambda ts: _epoch_ints(ts, 1),
    "int_ms": lambda ts: _epoch_ints(ts, 1_000),
    "int_us": lambda ts: _epoch_ints(ts, 1_000_000),
    "int_ns": lambda ts: _epoch_ints(ts, 1_000_000_000),
}


def _write_events(dir_path: str, make_ts) -> None:
    ts = [BASE + dt.timedelta(seconds=s) for _, s, *_ in _EVENTS]
    table = pa.table(
        {
            "event_id": pa.array([e[0] for e in _EVENTS], pa.int64()),
            "ts": make_ts(ts),
            "user_id": pa.array([e[2] for e in _EVENTS], pa.int64()),
            "event_type": pa.array([e[3] for e in _EVENTS], pa.string()),
            "value": pa.array([e[4] for e in _EVENTS], pa.float64()),
            "props": pa.array(["{}"] * len(_EVENTS), pa.string()),
        }
    )
    pq.write_table(table, f"{dir_path}/events.parquet")


@pytest.fixture(scope="module")
def layout_dirs(tmp_path_factory):
    dirs = {}
    for name, make_ts in LAYOUTS.items():
        d = tmp_path_factory.mktemp(f"events_{name}")
        _write_events(str(d), make_ts)
        dirs[name] = str(d)
    return dirs


def test_loader_normalizes_every_layout_to_timestamp(spark, layout_dirs):
    for name, d in layout_dirs.items():
        df = _t(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (
            f"layout {name}: ts loads as {dict(df.dtypes)['ts']}"
        )


@pytest.mark.parametrize("query_name", ["events_sessionize", "events_hourly_windows"])
def test_batch_queries_agree_across_layouts(spark, layout_dirs, query_name):
    results = {
        name: sorted(
            tuple(row) for row in REGISTRY[query_name].fn(spark, d).collect()
        )
        for name, d in layout_dirs.items()
    }
    ref = results["us_ntz"]
    assert ref, "fixture produced no rows"
    for name, rows in results.items():
        assert rows == ref, f"layout {name} diverges from us_ntz"


def test_sessionize_counts_are_correct_on_fixture(spark, layout_dirs):
    rows = {
        r["user_id"]: (r["session_count"], r["event_count"])
        for r in REGISTRY["events_sessionize"].fn(
            spark, layout_dirs["us_ntz"]
        ).collect()
    }
    assert rows == {1: (2, 3), 2: (1, 3)}


def test_streaming_windowed_agrees_across_layouts(spark, layout_dirs):
    results = {
        name: sorted(
            tuple(row)
            for row in REGISTRY["streaming_windowed_violations"]
            .fn(spark, d)
            .collect()
        )
        for name, d in layout_dirs.items()
    }
    ref = results["us_ntz"]
    # two distinct hours in the fixture → two windows
    assert len(ref) == 2, ref
    for name, rows in results.items():
        assert rows == ref, f"layout {name} diverges from us_ntz"
