"""Streaming update-loop tests: file-source stream of GDELT-shaped
TSV drops → event-time, watermarked dedup, windowed rollup,
foreachBatch sink — driven synchronously via processAllAvailable."""

from __future__ import annotations

import pytest

from gdelt_extractor_spark.streaming import updates as U
from tests.test_sources_gdelt import _v2_row


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "t1.export.CSV").write_text(
        "\n".join(
            [
                _v2_row(1, "http://example.com/a", "14"),
                _v2_row(2, "http://example.com/a", "14"),
                _v2_row(3, "http://example.com/b", "19"),
            ]
        )
    )
    (d / "t2.export.CSV").write_text(
        "\n".join(
            [
                _v2_row(4, "http://example.com/c", "19"),
                _v2_row(5, "http://example.com/b", "19"),
            ]
        )
    )
    return str(d)


def test_stream_dedup_keep_first(spark, landing):
    stream = U.with_event_time(U.stream_gdelt_dir(spark, landing))
    deduped = U.dedup_stream(stream).select("GLOBALEVENTID", "SOURCEURL")
    U.run_to_memory_sink(deduped, "dedup_out")
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    urls = [r.SOURCEURL for r in rows]
    assert sorted(urls) == sorted(set(urls))  # one row per URL
    assert len(rows) == 3


def test_stream_counts_rejects(spark, tmp_path):
    """A drop with one good and one bad row: the good row flows on and
    the micro-batch's progress reports the quarantined one through the
    stream's named observation, with no extra job.  Two GDELT streams
    still join: each observation is named after its directory."""
    from gdelt_extractor_spark.sources.gdelt import MENTIONS_SCHEMA

    d = tmp_path / "landing"
    d.mkdir()
    (tmp_path / "mentions").mkdir()
    U.stream_gdelt_dir(spark, str(d)).join(
        U.stream_gdelt_dir(spark, str(tmp_path / "mentions"), MENTIONS_SCHEMA),
        "GLOBALEVENTID",
    ).schema  # analysis fails on a duplicated observation name
    bad = _v2_row(9, "http://example.com/z").replace("9", "nine", 1)
    (d / "t.export.CSV").write_text(_v2_row(1, "http://example.com/a") + "\n" + bad + "\n")
    q = (
        U.stream_gdelt_dir(spark, str(d)).select("GLOBALEVENTID")
        .writeStream.format("memory").queryName("rejects_out").start()
    )
    try:
        q.processAllAvailable()
        counts = [
            p["observedMetrics"][f"gdelt_rejects:{d}"]["rejects"]
            for p in q.recentProgress
            if p.get("observedMetrics")
        ]
    finally:
        q.stop()
    assert sum(counts) == 1
    assert [r.GLOBALEVENTID for r in spark.table("rejects_out").collect()] == [1]


def test_stream_windowed_counts(spark, landing):
    stream = U.with_event_time(U.stream_gdelt_dir(spark, landing))
    agg = U.windowed_counts(stream)
    U.run_to_memory_sink(agg, "win_out", output_mode="complete")
    rows = spark.sql("SELECT EventRootCode, n_events FROM win_out").collect()
    counts = {r.EventRootCode: r.n_events for r in rows}
    assert counts == {"14": 2, "19": 3}


def test_stream_static_dim_join(spark, landing):
    from gdelt_extractor_spark.functions.lookups import cameo_root_df

    stream = U.with_event_time(U.stream_gdelt_dir(spark, landing))
    dim = cameo_root_df(spark).withColumnRenamed("root_code", "EventRootCode")
    enriched = U.join_static_dim(
        stream.select("GLOBALEVENTID", "EventRootCode"), dim, "EventRootCode"
    )
    U.run_to_memory_sink(enriched, "dim_join_out")
    rows = spark.sql("SELECT * FROM dim_join_out").collect()
    assert len(rows) == 5
    labels = {r.EventRootCode: r.root_label for r in rows}
    assert labels == {"14": "Protest", "19": "Fight"}


def test_stream_stream_time_bounded_join(spark, tmp_path):
    """Events stream ⋈ mentions stream on key within a time bound:
    only the mention inside [event_time, event_time+15min] joins."""
    ev_dir = tmp_path / "ev"; ev_dir.mkdir()
    mn_dir = tmp_path / "mn"; mn_dir.mkdir()
    (ev_dir / "e.csv").write_text("1,2024-01-01 10:00:00\n2,2024-01-01 11:00:00\n")
    (mn_dir / "m.csv").write_text(
        # eid 1: one in-window (+5m) and one out-of-window (+40m) mention
        "1,2024-01-01 10:05:00,inwin\n"
        "1,2024-01-01 10:40:00,late\n"
        # eid 2: mention BEFORE the event → no match
        "2,2024-01-01 10:59:00,early\n"
    )
    ev = (
        spark.readStream.format("csv")
        .schema("eid long, ev_time timestamp")
        .load(str(ev_dir))
    )
    mn = (
        spark.readStream.format("csv")
        .schema("eid long, mn_time timestamp, tag string")
        .load(str(mn_dir))
    )
    joined = U.stream_stream_join(
        ev, mn, on="eid", left_time="ev_time", right_time="mn_time"
    )
    U.run_to_memory_sink(joined.select("eid", "tag"), "ss_join_out")
    rows = spark.sql("SELECT * FROM ss_join_out").collect()
    assert {(r.eid, r.tag) for r in rows} == {(1, "inwin")}


def test_stream_foreach_batch_sink(spark, landing, tmp_path):
    stream = U.with_event_time(U.stream_gdelt_dir(spark, landing))
    out = tmp_path / "sink"
    seen = []

    def sink(batch_df, epoch_id):
        seen.append(batch_df.count())
        batch_df.select("GLOBALEVENTID").write.mode("append").parquet(str(out))

    U.run_foreach_batch(stream, sink, str(tmp_path / "ckpt"))
    assert sum(seen) == 5
    assert spark.read.parquet(str(out)).count() == 5


def test_checkpoint_restart_processes_only_new_files(spark, landing, tmp_path):
    """Exactly-once across restarts: a second run over the same
    checkpoint must skip already-committed files and pick up only the
    drop that arrived in between -- the property that lets the
    15-minute loop die and resume without re-loading history."""
    out = tmp_path / "sink2"
    ckpt = str(tmp_path / "ckpt2")

    def sink(batch_df, epoch_id):
        batch_df.select("GLOBALEVENTID").write.mode("append").parquet(str(out))

    def run():
        stream = U.with_event_time(U.stream_gdelt_dir(spark, landing))
        U.run_foreach_batch(stream, sink, ckpt)

    run()  # first life: 5 rows from t1+t2
    assert spark.read.parquet(str(out)).count() == 5
    run()  # restart with nothing new: no duplicates
    assert spark.read.parquet(str(out)).count() == 5
    import pathlib

    (pathlib.Path(landing) / "t3.export.CSV").write_text(
        "\n".join([_v2_row(6, "http://example.com/d", "14")])
    )
    run()  # restart after a new drop: only the new file flows
    got = sorted(
        r.GLOBALEVENTID for r in spark.read.parquet(str(out)).collect()
    )
    assert got == [1, 2, 3, 4, 5, 6]


def test_stateless_operators_compose_with_streams(spark, tmp_path):
    """PII redaction and quality scoring are pure projections, so the
    SAME operator code runs unchanged on a readStream source — the
    streaming counterpart of the batch curation path."""
    from gdelt_extractor_spark.operators.pii import redact_pii, scan_pii
    from gdelt_extractor_spark.operators.textstats import quality_score

    src = tmp_path / "docs"; src.mkdir()
    (src / "a.csv").write_text(
        "1\treach me at alice@example.org or 415-555-0100\n"
        "2\tnothing sensitive in this one at all\n"
    )
    docs = (
        spark.readStream.format("csv")
        .option("sep", "\t")
        .schema("doc_id long, text string")
        .load(str(src))
    )
    out = redact_pii(scan_pii(docs))
    U.run_to_memory_sink(out.select("doc_id", "text", "has_pii"), "pii_stream_out")
    rows = {r.doc_id: r for r in spark.sql("SELECT * FROM pii_stream_out").collect()}
    assert rows[1].text == "reach me at [EMAIL] or [PHONE]"
    assert rows[1].has_pii and not rows[2].has_pii

    q = quality_score(docs, "doc_id", "text")
    U.run_to_memory_sink(q.select("doc_id", "quality"), "quality_stream_out")
    assert spark.sql("SELECT * FROM quality_stream_out").count() == 2

    # sliding-window chunking is a pure projection+explode too — the
    # same operator chunks a live stream (doc 1 has 6 tokens, doc 2
    # has 7; stride 3 -> ceil(n/3) = 2 and 3 chunks)
    from gdelt_extractor_spark.operators.packing import chunk_documents

    ch = chunk_documents(docs, chunk_tokens=5, stride=3)
    U.run_to_memory_sink(ch, "chunk_stream_out")
    got = spark.sql(
        "SELECT doc_id, COUNT(*) n FROM chunk_stream_out GROUP BY doc_id"
    ).collect()
    assert {r.doc_id: r.n for r in got} == {1: 2, 2: 3}


def test_stream_trending_topk(spark, landing, tmp_path):
    """Windowed counts rank to per-window top-1 inside foreachBatch;
    bounded state (watermark) + deterministic tie-break."""
    collected = []
    stream = U.with_event_time(U.stream_gdelt_dir(spark, landing))
    U.run_trending_topk(
        stream,
        lambda b, i: collected.extend(b.collect()),
        str(tmp_path / "ckpt"),
        k=1,
    )
    # append-mode emits only watermark-finalized windows; drive a
    # second pass over the complete-mode table for the assertion
    agg = U.windowed_counts(
        U.with_event_time(U.stream_gdelt_dir(spark, landing))
    )
    U.run_to_memory_sink(agg, "trend_all", output_mode="complete")
    ranked = U.rank_windows(spark.table("trend_all"), k=1).collect()
    assert len(ranked) >= 1
    for r in ranked:
        assert r.rank == 1 and r.EventRootCode == "19"  # 3 events > 2


def test_run_cdc_upsert_merges_stream_into_snapshot(spark, tmp_path):
    """CDC rows dropped as CSV files stream into a parquet snapshot:
    latest op per key wins across micro-batches, deletes remove,
    inserts add, untouched keys pass through; the table path stays
    readable (swap discipline) and re-running from a fresh checkpoint
    is idempotent."""
    import os

    from pyspark.sql import functions as F

    table = str(tmp_path / "accounts")
    spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "id long, name string, balance double",
    ).write.parquet(table)

    landing = tmp_path / "cdc"
    landing.mkdir()
    # batch 1: update bob, insert dave
    (landing / "b1.csv").write_text(
        "2,bob,25.0,U,2024-01-02 00:00:00\n"
        "4,dave,40.0,I,2024-01-02 00:00:00\n"
    )
    # batch 2: delete carol, later update of bob wins over b1's
    (landing / "b2.csv").write_text(
        "3,carol,0.0,D,2024-01-03 00:00:00\n"
        "2,bob,27.5,U,2024-01-03 00:00:00\n"
    )
    schema = "id long, name string, balance double, op string, ts timestamp"
    stream = (
        spark.readStream.format("csv").schema(schema).load(str(landing))
    )
    U.run_cdc_upsert(
        stream,
        table,
        str(tmp_path / "ckpt"),
        key_col="id",
        attr_cols=["name", "balance"],
    )
    got = {r.id: (r.name, r.balance)
           for r in spark.read.parquet(table).collect()}
    assert got == {
        1: ("alice", 10.0),      # untouched
        2: ("bob", 27.5),        # latest update wins
        4: ("dave", 40.0),       # inserted
    }                            # carol deleted
    assert not os.path.exists(table + "__merging")
    assert not os.path.exists(table + "__premerge")

    # replay from a FRESH checkpoint: re-applying the same log is a no-op
    stream2 = (
        spark.readStream.format("csv").schema(schema).load(str(landing))
    )
    U.run_cdc_upsert(
        stream2, table, str(tmp_path / "ckpt2"),
        key_col="id", attr_cols=["name", "balance"],
    )
    again = {r.id: (r.name, r.balance)
             for r in spark.read.parquet(table).collect()}
    assert again == got

    # object-store refusal
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        U.run_cdc_upsert(stream, "s3://b/t", str(tmp_path / "c3"),
                         key_col="id", attr_cols=["name"])


def test_run_cdc_upsert_recovers_mid_swap_crash(spark, tmp_path):
    """A backup dir with no live table (crash between the two swap
    renames) is restored before merging; a stale backup beside a
    live table is discarded."""
    import os
    import shutil

    table = str(tmp_path / "t")
    spark.createDataFrame([(1, "a", 1.0)],
                          "id long, name string, balance double"
                          ).write.parquet(table)
    # simulate mid-swap crash: live renamed aside, never promoted
    os.rename(table, table + "__premerge")

    landing = tmp_path / "cdc"
    landing.mkdir()
    (landing / "b.csv").write_text("2,b,2.0,I,2024-01-02 00:00:00\n")
    schema = "id long, name string, balance double, op string, ts timestamp"
    stream = spark.readStream.format("csv").schema(schema).load(str(landing))
    U.run_cdc_upsert(stream, table, str(tmp_path / "ck"),
                     key_col="id", attr_cols=["name", "balance"])
    got = {r.id for r in spark.read.parquet(table).collect()}
    assert got == {1, 2}  # recovered row 1 + merged insert
    assert not os.path.exists(table + "__premerge")


def test_run_sketch_maintenance_converges(spark, tmp_path):
    """Micro-batched user events maintain a per-type HLL sketch table:
    estimates equal the batch-computed sketch over all data, replay
    from a fresh checkpoint cannot double-count (union is register
    max), and the table path stays swap-consistent."""
    import os

    from pyspark.sql import functions as F

    from gdelt_extractor_spark.operators.sketches import (
        hll_rollup,
        hll_sketch_table,
    )

    landing = tmp_path / "events"
    landing.mkdir()
    (landing / "b1.csv").write_text(
        "".join(f"click,u{i}\n" for i in range(60))
        + "".join(f"view,u{i}\n" for i in range(20))
    )
    (landing / "b2.csv").write_text(
        # 30 users overlap with b1 — a counter-based sink would
        # double-count them; the sketch union must not
        "".join(f"click,u{i}\n" for i in range(30, 90))
    )
    schema = "etype string, user_id string"
    table = str(tmp_path / "sketches")

    def run(ck):
        stream = (
            spark.readStream.format("csv").schema(schema).load(str(landing))
        )
        U.run_sketch_maintenance(
            stream, table, str(tmp_path / ck), ["etype"], "user_id"
        )

    run("ck1")
    got = {
        r.etype: r.approx_distinct
        for r in hll_rollup(
            spark.read.parquet(table), ["etype"], "hll_sketch"
        ).collect()
    }
    batch = spark.createDataFrame(
        [("click", f"u{i}") for i in range(90)]
        + [("view", f"u{i}") for i in range(20)],
        schema,
    )
    want = {
        r.etype: r.est
        for r in hll_sketch_table(batch, ["etype"], "user_id")
        .select("etype", F.hll_sketch_estimate("hll_sketch").alias("est"))
        .collect()
    }
    assert got == want  # register-exact, not just approximately close

    # replay everything from a fresh checkpoint: no double counting
    run("ck2")
    again = {
        r.etype: r.approx_distinct
        for r in hll_rollup(
            spark.read.parquet(table), ["etype"], "hll_sketch"
        ).collect()
    }
    assert again == got
    assert not os.path.exists(table + "__merging")
    assert not os.path.exists(table + "__premerge")

    import pytest as _pytest
    stream = spark.readStream.format("csv").schema(schema).load(str(landing))
    with _pytest.raises(NotImplementedError):
        U.run_sketch_maintenance(
            stream, "s3://b/t", str(tmp_path / "c3"), ["etype"], "user_id"
        )


def test_native_session_window_counts(spark, tmp_path):
    """Spark's built-in session_window: events within the gap merge
    into one session per key; a gap larger than the timeout splits
    sessions; counts and bounds are exact."""
    landing = tmp_path / "sess"
    landing.mkdir()
    (landing / "b1.csv").write_text(
        # u1: 3 events inside one 30-min-gap session, then a 2h gap
        # opens a second session; u2: one lone event
        "u1,2024-01-01 10:00:00\n"
        "u1,2024-01-01 10:10:00\n"
        "u1,2024-01-01 10:25:00\n"
        "u1,2024-01-01 13:00:00\n"
        "u2,2024-01-01 09:00:00\n"
    )
    stream = (
        spark.readStream.format("csv")
        .schema("user_id string, event_time timestamp")
        .load(str(landing))
    )
    U.run_to_memory_sink(
        U.session_window_counts(stream, "user_id"),
        "native_sessions",
        output_mode="complete",
    )
    got = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.sql("SELECT * FROM native_sessions").collect()
    }
    assert got == {
        ("u1", "2024-01-01 10:00:00"): 3,
        ("u1", "2024-01-01 13:00:00"): 1,
        ("u2", "2024-01-01 09:00:00"): 1,
    }


def test_run_drift_monitor(spark, tmp_path):
    """Streaming PSI drift: a batch drawn from the baseline's range
    scores near 0; a shifted batch scores high; metrics are
    per-epoch idempotent parquet rows."""
    import time

    from pyspark.sql import functions as F

    from gdelt_extractor_spark.streaming.updates import run_drift_monitor

    src = tmp_path / "src"
    src.mkdir()
    baseline = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    # epoch batch 1: same distribution; batch 2: shifted by +80
    spark.range(500).select(((F.col("id") % 100)).cast("double").alias("v")) \
        .coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", "4")
        .parquet(str(src / "b1"))
    )
    metrics = str(tmp_path / "metrics")
    q = run_drift_monitor(
        stream, baseline, "v", metrics, str(tmp_path / "ckpt"),
        lo=0.0, hi=100.0,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    m = spark.read.parquet(metrics).collect()
    assert len(m) >= 1
    assert all(r.psi < 0.05 for r in m), [r.psi for r in m]
    # shifted source → high psi
    base2 = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    spark.range(500).select(((F.col("id") % 100) + 80).cast("double").alias("v")) \
        .coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    stream2 = spark.readStream.schema("v double").parquet(str(src / "b2"))
    metrics2 = str(tmp_path / "metrics2")
    q2 = run_drift_monitor(
        stream2, base2, "v", metrics2, str(tmp_path / "ckpt2"),
        lo=0.0, hi=100.0,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    m2 = spark.read.parquet(metrics2).collect()
    assert all(r.psi > 0.25 for r in m2), [r.psi for r in m2]
