"""Custom stateful streaming operator: arbitrary-state sessionization via
``applyInPandasWithState`` (SURVEY.md §7.2 M5 — the pattern the built-in
``session_window`` can't generalize: per-key state machines with custom
merge/emit logic and event-time timeouts).

This sessionizer intentionally reproduces ``F.session_window`` append-mode
semantics exactly (session_end = last_ts + gap; an event at prev+gap opens
a new session; a session is emitted only once the watermark passes its
close — never earlier, so late events inside the allowed delay could still
have extended it). Differential-tested against the built-in session_window
stream in tests/test_streaming.py. Swap the merge logic for e.g. funnel
detection or CDC upserts and the scaffold stays the same.

Scale: state lives in the state store partitioned by key — one shuffle on
user_id per micro-batch, Arrow-batched Python execution (pandas, not
row-at-a-time), state size O(active keys + pending unflushed sessions),
bounded by event-time timeouts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

# Epoch-microsecond bounds: the state machine and its output stay in
# integer epoch space; TimestampType materializes JVM-side afterwards
# (timestamp_micros), so no session-timezone wall-clock conversion ever
# touches the Python side — the watermark from getCurrentWatermarkMs is
# epoch UTC and must compare against epoch values, not local wall time
# (a non-UTC session probe caught exactly that off-by-UTC-offset).
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# Parallel arrays of sessions (microsecond timestamps): index 0..n-2 are
# closed-but-unflushed sessions (waiting for the watermark), index n-1 is
# the open session.
STATE_SCHEMA = StructType(
    [
        StructField("starts_us", ArrayType(LongType())),
        StructField("lasts_us", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("totals", ArrayType(DoubleType())),
    ]
)

GAP_US = 30 * 60 * 1_000_000


def _emit(user_id: int, closed: list[list]) -> pd.DataFrame:
    """ONE DataFrame for every session closed this call — per-session
    1-row frames cost ~1 ms each in pandas construction, which dominated
    the whole operator at fixture scale (measured: the batched form cut
    the streaming replay several seconds at sf0.1). Bounds are emitted as
    epoch MICROSECOND longs — timestamps never cross the Python boundary
    in either direction (see sessionize)."""
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(closed),
            "start_us": [s[0] for s in closed],
            "end_us": [s[1] + GAP_US for s in closed],
            "n_events": [s[2] for s in closed],
            "total_value": [s[3] for s in closed],
        }
    )


def _flush(user_id: int, sessions: list[list], state: GroupState):
    """Emit every session the watermark has closed; keep the rest in state.

    The rule is uniform even for the open tail session: if its close
    (last_ts + gap) is <= watermark it can never be extended again — any
    non-late event would be >= watermark >= last_ts + gap and so start a
    new session, and later-than-that events are dropped as late."""
    wm_us = state.getCurrentWatermarkMs() * 1000
    keep: list[list] = []
    closed: list[list] = []
    for sess in sessions:
        if sess[1] + GAP_US <= wm_us:
            closed.append(sess)
        else:
            keep.append(sess)
    if closed:
        yield _emit(user_id, closed)
    if keep:
        state.update(
            (
                [s[0] for s in keep],
                [s[1] for s in keep],
                [s[2] for s in keep],
                [s[3] for s in keep],
            )
        )
        # Wake when the earliest retained close crosses the watermark.
        # (ms-granular API: round up so we never fire early.)
        next_close = min(s[1] + GAP_US for s in keep)
        state.setTimeoutTimestamp(-(-next_close // 1000))
    elif state.exists:
        state.remove()


def _sessionize_group(key, pdf_iter, state: GroupState):
    # Hot path: this function runs once per (key, micro-batch) — tens of
    # thousands of calls per replay — so the per-call pandas work is the
    # operator's dominant cost. Numpy column
    # pulls + one tolist() replace the pd.concat/sort_values/label-indexing
    # chain; the sort is skipped when the batch arrives ordered (the
    # common case: the replay files are event-time ordered).
    (user_id,) = key

    if state.exists:
        starts, lasts, ns, totals = state.get
        sessions = [list(t) for t in zip(starts, lasts, ns, totals)]
    else:
        sessions = []

    frames = [pdf for pdf in pdf_iter if len(pdf)]
    if state.hasTimedOut or not frames:
        # Timeout tick (no data): flush what the watermark closed.
        yield from _flush(user_id, sessions, state)
        return

    import numpy as np

    if len(frames) == 1:
        ts_us = frames[0]["ts_us"].to_numpy()
        vals = frames[0]["value"].to_numpy()
    else:
        ts_us = np.concatenate([f["ts_us"].to_numpy() for f in frames])
        vals = np.concatenate([f["value"].to_numpy() for f in frames])
    if len(ts_us) > 1 and not (ts_us[1:] >= ts_us[:-1]).all():
        order = ts_us.argsort(kind="stable")
        ts_us = ts_us[order]
        vals = vals[order]
    for t, v in zip(ts_us.tolist(), vals.tolist()):
        if not sessions or t >= sessions[-1][1] + GAP_US:
            sessions.append([t, t, 0, 0.0])
        cur = sessions[-1]
        if t > cur[1]:
            cur[1] = t
        cur[2] += 1
        cur[3] += v
    yield from _flush(user_id, sessions, state)


def sessionize(events: DataFrame) -> DataFrame:
    """Append-mode stateful sessionization keyed by user_id.

    Input must carry a watermark on ``ts`` (event-time timeouts are driven
    by it). Output schema matches ``session_agg`` minus the decimal cast
    (state arithmetic is double-precision).

    Timezone correctness: Arrow interop renders TimestampType to pandas
    as SESSION-LOCAL wall time, while GroupState.getCurrentWatermarkMs is
    epoch UTC — doing arithmetic on the pandas values diverges by the UTC
    offset in any non-UTC session (34 phantom sessions at sf0.01 under
    America/New_York). So the event time crosses into Python as
    ``unix_micros(ts)`` (a LONG), the state machine compares epoch longs
    against the epoch watermark, emits epoch-long bounds, and
    ``timestamp_micros`` materializes TimestampType back on the JVM side.
    The watermarked ``ts`` column itself still rides along untouched —
    EventTimeTimeout needs it on the input.
    """
    from pyspark.sql import functions as F

    out = (
        events.select("user_id", "ts", F.unix_micros("ts").alias("ts_us"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return out.select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        "n_events",
        "total_value",
    )
