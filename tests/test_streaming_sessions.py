"""Stateful-streaming sessionization test: two micro-batches, gap
closure within a batch and watermark-timeout closure across batches."""

from __future__ import annotations

import pytest

from gdelt_extractor_spark.streaming.sessions import streaming_sessionize

SCHEMA = "user_id long, event_time timestamp, value double"


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "sessions"
    d.mkdir()
    # batch 1: user 1's session + user 9 far in the future (drives the
    # watermark past user 1's last event + gap, so the timeout fires
    # in batch 2)
    (d / "b1.csv").write_text(
        "1,2024-01-01 10:00:00,1.5\n"
        "1,2024-01-01 10:00:10,2.5\n"
        "9,2024-01-01 12:00:00,0.5\n"
    )
    # batch 2: user 2 with an in-batch gap > 30 min -> first session
    # closes immediately; second stays open in state
    (d / "b2.csv").write_text(
        "2,2024-01-01 12:00:05,1.0\n"
        "2,2024-01-01 12:00:06,1.0\n"
        "2,2024-01-01 13:30:00,9.0\n"
    )
    # the file source orders batches by modification time — pin it
    import os
    import time

    now = time.time()
    os.utime(d / "b1.csv", (now - 60, now - 60))
    os.utime(d / "b2.csv", (now, now))
    return str(d)


def test_streaming_sessionize(spark, landing):
    stream = (
        spark.readStream.format("csv")
        .option("maxFilesPerTrigger", "1")
        .schema(SCHEMA)
        .load(landing)
    )
    out = streaming_sessionize(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM sessions_out ORDER BY user_id, session_start"
    ).collect()
    got = [
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.sum_value)
        for r in rows
    ]
    # closed by watermark timeout across batches:
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:00:10", 2, 4.0) in got
    # closed by in-batch gap:
    assert (2, "2024-01-01 12:00:05", "2024-01-01 12:00:06", 2, 2.0) in got
    # user 2's second session is still open (watermark 13:00 < its
    # 14:00 timeout) — must NOT be emitted yet
    assert not any(r.user_id == 2 and str(r.session_start).startswith("2024-01-01 13:30") for r in rows)
    # any user-9 emission must be its complete single-event session
    for r in rows:
        if r.user_id == 9:
            assert (str(r.session_start), r.n_events, r.sum_value) == (
                "2024-01-01 12:00:00", 1, 0.5,
            )


@pytest.fixture()
def cap_landing(tmp_path):
    d = tmp_path / "cap"
    d.mkdir()
    # batch 1: user 1 sends 4 events inside minute 10:00
    (d / "b1.csv").write_text(
        "1,2024-01-01 10:00:01,1.0\n"
        "1,2024-01-01 10:00:02,1.0\n"
        "1,2024-01-01 10:00:03,1.0\n"
        "1,2024-01-01 10:00:04,1.0\n"
    )
    # batch 2: two more in the SAME minute (counter must persist
    # across batches: one admitted, one rejected), then a new minute
    # (counter resets)
    (d / "b2.csv").write_text(
        "1,2024-01-01 10:00:30,1.0\n"
        "1,2024-01-01 10:00:31,1.0\n"
        "1,2024-01-01 10:01:05,1.0\n"
    )
    import os
    import time

    now = time.time()
    os.utime(d / "b1.csv", (now - 60, now - 60))
    os.utime(d / "b2.csv", (now, now))
    return str(d)


def test_streaming_rate_cap(spark, cap_landing):
    from gdelt_extractor_spark.streaming.sessions import streaming_rate_cap

    stream = (
        spark.readStream.format("csv")
        .option("maxFilesPerTrigger", "1")
        .schema(SCHEMA)
        .load(cap_landing)
    )
    out = streaming_rate_cap(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cap_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM cap_out ORDER BY event_time").collect()
    got = [(str(r.event_time), r.admitted) for r in rows]
    assert got == [
        ("2024-01-01 10:00:01", True),
        ("2024-01-01 10:00:02", True),
        ("2024-01-01 10:00:03", True),
        ("2024-01-01 10:00:04", True),
        ("2024-01-01 10:00:30", True),    # 5th in the window
        ("2024-01-01 10:00:31", False),   # 6th: capped
        ("2024-01-01 10:01:05", True),    # new window: reset
    ]


def test_streaming_rate_cap_rows_spanning_arrow_chunks(spark, tmp_path):
    """A hot key whose micro-batch rows span multiple Arrow chunks
    must still admit the EARLIEST events (global per-key sort, not
    per-chunk — ADVICE r5): 9 events written in reverse time order
    with 3-row Arrow chunks would, under per-chunk sorting, process
    as 7,8,9,4,5,6,1,2,3 and admit the wrong five."""
    from gdelt_extractor_spark.streaming.sessions import streaming_rate_cap

    d = tmp_path / "cap_chunks"
    d.mkdir()
    rows = [f"1,2024-01-01 10:00:{s:02d},1.0" for s in range(9, 0, -1)]
    (d / "b1.csv").write_text("\n".join(rows) + "\n")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        stream = (
            spark.readStream.format("csv").schema(SCHEMA).load(str(d))
        )
        out = streaming_rate_cap(stream)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("cap_chunk_out")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    rows = spark.sql(
        "SELECT * FROM cap_chunk_out ORDER BY event_time"
    ).collect()
    got = [(str(r.event_time), r.admitted) for r in rows]
    assert got == [
        (f"2024-01-01 10:00:0{s}", s <= 5) for s in range(1, 10)
    ]


def test_streaming_anomaly_transform_with_state(spark, tmp_path):
    """EWMA anomaly scoring: stable values warm the state up across
    TWO micro-batches (state persists), then a spike in batch 2 must
    flag."""
    from gdelt_extractor_spark.streaming.anomaly import streaming_anomaly

    d = tmp_path / "anom"
    d.mkdir()
    (d / "b1.csv").write_text(
        "".join(f"1,2024-01-01 10:00:{s:02d},10.{s}\n" for s in range(6))
    )
    (d / "b2.csv").write_text(
        "1,2024-01-01 10:01:00,10.3\n"
        "1,2024-01-01 10:01:10,99.0\n"   # spike
        "1,2024-01-01 10:01:20,10.4\n"
    )
    import os
    import time

    now = time.time()
    os.utime(d / "b1.csv", (now - 60, now - 60))
    os.utime(d / "b2.csv", (now, now))

    stream = (
        spark.readStream.format("csv")
        .option("maxFilesPerTrigger", "1")
        .schema(SCHEMA)
        .load(str(d))
    )
    out = streaming_anomaly(stream, alpha=0.2, z_thresh=4.0)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("anom_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM anom_out ORDER BY event_time").collect()
    assert len(rows) == 9
    flags = {str(r.event_time): r.is_anomaly for r in rows}
    assert flags["2024-01-01 10:01:10"] is True         # the spike
    assert sum(flags.values()) == 1                     # only the spike
    # warmup events score 0
    assert all(r.z == 0.0 for r in rows[:5])
    # state persisted across batches: batch-2 stable values score small
    z2 = {str(r.event_time): r.z for r in rows}
    assert abs(z2["2024-01-01 10:01:00"]) < 4.0
