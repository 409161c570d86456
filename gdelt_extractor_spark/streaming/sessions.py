"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState``.

The batch engine sessionizes with windows (plans/queries.sessionize);
a stream can't — session membership depends on unbounded history.
This is the operator Structured Streaming's built-ins lack: per-key
mutable state (the open session) + event-time timeout (close it when
the watermark passes last_ts + gap).

Scale posture: state is one tiny tuple per active user, partitioned
by the grouping key across executors; timeouts bound state size, so
memory is O(active users), not O(events).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..plans.queries import SESSION_GAP_S
from .updates import WATERMARK

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

# state: (session_start_us, last_ts_us, n_events, sum_value)
_STATE_SCHEMA = "start_us long, last_us long, n long, s double"


def _sessionize_fn(gap_s: int):
    gap_us = gap_s * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, s = state.get
            state.remove()
            yield _emit(user_id, [(start_us, last_us, n, s)])
            return

        if state.exists:
            start_us, last_us, n, s = state.get
        else:
            start_us = last_us = None
            n, s = 0, 0.0

        closed: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("event_time")
            ts_us = pdf["event_time"].astype("int64") // 1000  # ns → µs
            for t, v in zip(ts_us.to_numpy(), pdf["value"].to_numpy()):
                t = int(t)
                if last_us is not None and t - last_us > gap_us:
                    closed.append((start_us, last_us, n, s))
                    start_us, n, s = t, 0, 0.0
                if start_us is None:
                    start_us = t
                last_us = t
                n += 1
                s += float(v)

        timeout_ms = last_us // 1000 + gap_s * 1000
        if timeout_ms <= state.getCurrentWatermarkMs():
            # the open session is already expired (this batch's data
            # arrived behind the watermark): emit it now — a timeout
            # in the past is invalid
            closed.append((start_us, last_us, n, s))
            state.remove()
        else:
            state.update((start_us, last_us, n, s))
            # close the open session once the watermark passes last + gap
            state.setTimeoutTimestamp(timeout_ms)
        if closed:
            yield _emit(user_id, closed)

    return fn


def _emit(user_id: int, sessions: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_start": [pd.Timestamp(s[0] * 1000) for s in sessions],
            "session_end": [pd.Timestamp(s[1] * 1000) for s in sessions],
            "n_events": [s[2] for s in sessions],
            "sum_value": [s[3] for s in sessions],
        }
    )


def streaming_sessionize(events: DataFrame, time_col: str = "event_time") -> DataFrame:
    """Incremental sessionization of a stream with columns
    (user_id long, event_time timestamp, value double).

    Sessions close (and emit) when a gap > ``SESSION_GAP_S`` (the batch
    ``sessionize``'s) appears within the data, or when the event-time watermark passes the open
    session's last event + gap (state timeout).  Mirrors the batch
    ``sessionize`` semantics, incrementally and with bounded state.
    """
    if time_col != "event_time":
        events = events.withColumnRenamed(time_col, "event_time")
    return (
        events.withWatermark("event_time", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(SESSION_GAP_S),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ------------------------------------------------- stateful rate cap

CAP_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("admitted", T.BooleanType()),
    ]
)

# state: (current window start µs, events seen in that window)
_CAP_STATE_SCHEMA = "win_us long, n long"


def _rate_cap_fn(window_s: int, max_per_window: int):
    win_us = window_s * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()  # window long past the watermark: free it
            return

        win_start, n = state.get if state.exists else (None, 0)
        out_t: list[int] = []
        out_a: list[bool] = []
        # Materialize ALL Arrow chunks before sorting: a hot key's
        # micro-batch rows can span chunks, and a per-chunk sort would
        # process timestamps out of order across the chunk boundary —
        # exactly the keys a rate limiter targets (ADVICE r5).  Bounded
        # by micro-batch size per key, the same bound the per-chunk
        # form already had in aggregate.
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("event_time")
            ts_us = batch["event_time"].astype("int64") // 1000
            for t in ts_us.to_numpy():
                t = int(t)
                w = (t // win_us) * win_us
                if w != win_start:
                    win_start, n = w, 0
                out_t.append(t)
                out_a.append(n < max_per_window)
                n += 1
        if win_start is None:  # no rows and no prior state: nothing to keep
            return
        timeout_ms = win_start // 1000 + 2 * window_s * 1000
        if timeout_ms <= state.getCurrentWatermarkMs():
            state.remove()  # already expired — a past timeout is invalid
        else:
            state.update((win_start, n))
            state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_t),
                "event_time": [pd.Timestamp(t * 1000) for t in out_t],
                "admitted": out_a,
            }
        )

    return fn


# The rate cap's tumbling window (seconds) and events admitted per
# key and window.
RATE_WINDOW_S = 60
RATE_MAX_PER_WINDOW = 5


def streaming_rate_cap(events: DataFrame, time_col: str = "event_time") -> DataFrame:
    """Per-key event-time frequency cap — the ingestion rate limiter:
    each key admits at most ``RATE_MAX_PER_WINDOW`` events per tumbling
    ``RATE_WINDOW_S`` window; every event emits with an ``admitted`` flag
    so the caller can route rejects to a spill/sample path instead of
    silently dropping.

    Why stateful (the built-ins can't express it): admission depends
    on HOW MANY earlier events the key already spent in the current
    window — a running per-key counter, not an aggregate over a
    closed window.  State is one (window_start, count) tuple per
    ACTIVE key, removed by event-time timeout once the watermark
    passes the window — O(active keys) memory forever, same posture
    as ``streaming_sessionize``.  Late events older than the current
    window reset the counter (single-window state — the standard
    limitation; watermark-bounded lateness keeps the window current).
    """
    if time_col != "event_time":
        events = events.withColumnRenamed(time_col, "event_time")
    return (
        events.withWatermark("event_time", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _rate_cap_fn(RATE_WINDOW_S, RATE_MAX_PER_WINDOW),
            outputStructType=CAP_SCHEMA,
            stateStructType=_CAP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
