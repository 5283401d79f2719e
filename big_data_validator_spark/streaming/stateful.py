"""Custom stateful streaming operators via ``applyInPandasWithState``.

Covers the operator class Spark's built-in windowed aggregations cannot
express: per-key state machines with event-driven emission.  Implemented
here: streaming sessionization with per-session violation counts — the
streaming analogue of the batch ``events_sessionize`` query (lag-window
formulation), which certifies its semantics on bounded input.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start", TimestampType(), True),
        StructField("session_end", TimestampType(), True),
        StructField("event_count", LongType(), True),
        StructField("violation_count", LongType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType(), True),
        StructField("last_us", LongType(), True),
        StructField("events", LongType(), True),
        StructField("violations", LongType(), True),
    ]
)


_GAP_SECONDS = 1800


def sessionize_with_state(
    stream: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization with in-session violation counting as a
    per-user state machine.

    State per user: (session_start, last_event, event_count,
    violation_count).  An event farther than ``_GAP_SECONDS`` from the last
    closes the session (emitted) and opens a new one; an **event-time
    timeout** (watermark passes last_event + gap) flushes idle sessions.
    Event-time — not processing-time — timeouts matter twice over: state
    is bounded by the watermark (100 TB requirement), and the micro-batch
    engine stays idle when the source is idle (processing-time timeouts
    trigger continuous empty batches just to poll timers).  A violation
    here is ``value < 0`` — stand-in for any compiled rule expression
    evaluated row-side.

    ``applyInPandasWithState`` batches each key group through Arrow — state
    transitions run vectorized per group, not per row.

    State timestamps are kept at MICROsecond precision — the storage
    precision of the event time — so gap decisions agree bit-for-bit with
    the batch/SQL formulation (``ts - lag(ts) > INTERVAL``); a coarser
    state unit would merge sessions whose gap straddles the boundary by
    less than the truncation (e.g. 1800.0004 s at ms state).
    """

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start_us, last_us, events, violations = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [pd.Timestamp(start_us, unit="us")],
                        "session_end": [pd.Timestamp(last_us, unit="us")],
                        "event_count": [events],
                        "violation_count": [violations],
                    }
                )
            return

        rows = pd.concat(list(pdfs)).sort_values(ts_col, kind="stable")
        if state.exists:
            start_us, last_us, events, violations = state.get
        else:
            start_us = last_us = None
            events = violations = 0

        out = []
        gap_us = _GAP_SECONDS * 1_000_000
        for _, row in rows.iterrows():
            t_us = int(row[ts_col].value // 1_000)  # pandas .value is ns
            bad = int(row[value_col] < 0)
            if last_us is not None and t_us - last_us > gap_us:
                out.append((start_us, last_us, events, violations))
                start_us, events, violations = t_us, 0, 0
            if start_us is None:
                start_us = t_us
            last_us = t_us
            events += 1
            violations += bad
        state.update((start_us, last_us, events, violations))
        if last_us is not None:
            # GroupState timeouts are epoch-ms; round UP so the timeout
            # never fires a fraction of a ms before gap_seconds elapsed
            state.setTimeoutTimestamp(-(-(last_us + gap_us) // 1000))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in out],
                    "session_end": [pd.Timestamp(l, unit="us") for _, l, _, _ in out],
                    "event_count": [e for _, _, e, _ in out],
                    "violation_count": [v for _, _, _, v in out],
                }
            )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
