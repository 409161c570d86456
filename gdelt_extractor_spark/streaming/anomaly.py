"""Streaming per-key anomaly scoring (``applyInPandasWithState``) —
the live sibling of the batch ``event_spikes`` z-score query.

Each key maintains an exponentially weighted mean/variance
(GroupState) and scores every event BEFORE folding it in:
``z = (x - mean) / sqrt(var)``; ``is_anomaly`` fires after a warmup
count once |z| exceeds the threshold.  EWMA decay bounds the state to
three doubles per key no matter how long the stream runs, and a
per-key event-time timer clears state for keys idle past the TTL —
O(active keys) forever, the same posture as ``streaming_sessionize``.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .updates import WATERMARK

OUT_SCHEMA = (
    "user_id long, event_time timestamp, value double, "
    "z double, is_anomaly boolean"
)

_STATE_SCHEMA = "mean double, var double, n long"


def _ewma_step(batch: pd.DataFrame, state: tuple, alpha: float,
               z_thresh: float, warmup: int):
    """Score a time-sorted batch against (mean, var, n) EWMA state;
    returns (z list, flag list, new state).  Scoring happens BEFORE
    each fold so an event never dampens its own z."""
    mean, var, n = state
    out_z, out_flag = [], []
    for x in batch["value"].astype(float).to_numpy():
        if n >= warmup and var > 0:
            z = (x - mean) / math.sqrt(var)
        else:
            z = 0.0
        out_z.append(round(z, 6))
        out_flag.append(abs(z) > z_thresh)
        if n == 0:
            mean, var = x, 0.0
        else:
            d = x - mean
            mean += alpha * d
            var = (1 - alpha) * (var + alpha * d * d)
        n += 1
    return out_z, out_flag, (float(mean), float(var), int(n))


def _anomaly_fn(alpha: float, z_thresh: float, warmup: int,
                idle_timeout_ms: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        st = state.get if state.exists else (0.0, 0.0, 0)
        # all chunks first, ONE per-key time sort (the rate-cap lesson:
        # chunk-local sorts process hot keys out of order)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        batch = batch.sort_values("event_time")
        out_z, out_flag, st = _ewma_step(batch, st, alpha, z_thresh, warmup)
        state.update(st)
        last_ms = int(batch["event_time"].max().value // 1_000_000)
        timeout_ms = last_ms + idle_timeout_ms
        if timeout_ms > state.getCurrentWatermarkMs():
            state.setTimeoutTimestamp(timeout_ms)  # idle-key eviction
        else:
            state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(batch),
                "event_time": batch["event_time"].to_list(),
                "value": batch["value"].astype(float).to_list(),
                "z": out_z,
                "is_anomaly": out_flag,
            }
        )

    return fn


# Events a key must see before it can be flagged, and the idle time
# (ms) after which a key's state is dropped.
WARMUP = 5
IDLE_TIMEOUT_MS = 3_600_000


def streaming_anomaly(
    events: DataFrame,
    alpha: float = 0.1,
    z_thresh: float = 3.0,
    time_col: str = "event_time",
) -> DataFrame:
    """Score a stream of (user_id, event_time, value) rows: emits
    every event with its pre-update z-score and anomaly flag (no flag
    before a key's ``WARMUP``-th event)."""
    if time_col != "event_time":
        events = events.withColumnRenamed(time_col, "event_time")
    return (
        events.withWatermark("event_time", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _anomaly_fn(alpha, z_thresh, WARMUP, IDLE_TIMEOUT_MS),
            outputStructType=OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
