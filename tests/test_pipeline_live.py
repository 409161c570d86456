"""Integration test: the live-rollup pipeline — stream → dedup →
per-batch rollup → MERGE into day partitions → compaction — over
real file drops, including an incremental second tick on the SAME
day (additive merge) and a checkpoint-restart with no new data
(idempotence)."""

from __future__ import annotations

import pathlib

from gdelt_extractor_spark.operators.dedup import INDEX_BANDS, NUM_HASHES
from gdelt_extractor_spark.pipelines.live import run_live_rollup
from tests.test_sources_gdelt import _v2_row


def _totals(spark, out):
    return {
        (str(r.day), r.root_code): (r.n_events, r.n_articles)
        for r in spark.read.parquet(out).collect()
    }


def test_live_rollup_incremental(spark, tmp_path):
    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    (landing / "t1.export.CSV").write_text(
        "\n".join(
            [
                _v2_row(1, "http://x/a", "14"),
                _v2_row(2, "http://x/a", "14"),  # dup URL -> dropped
                _v2_row(3, "http://x/b", "19"),
            ]
        )
    )
    run_live_rollup(spark, str(landing), out, ckpt)
    # fixture rows are all 2024-01-01, NumArticles=5; dup removed
    assert _totals(spark, out) == {
        ("2024-01-01", "14"): (1, 5),
        ("2024-01-01", "19"): (1, 5),
    }

    # second tick: new drop, SAME day — the merge must ADD the new
    # batch's events to the day partition, and root codes the second
    # batch never touched (14) must survive untouched
    (landing / "t2.export.CSV").write_text(
        "\n".join([_v2_row(4, "http://x/c", "19"), _v2_row(5, "http://x/d", "19")])
    )
    run_live_rollup(spark, str(landing), out, ckpt, compact=True)
    back = spark.read.parquet(out)
    assert _totals(spark, out) == {
        ("2024-01-01", "14"): (1, 5),          # tick-1 count preserved
        ("2024-01-01", "19"): (3, 15),         # 1 (tick 1) + 2 (tick 2)
    }
    assert "day" in back.columns  # compaction kept the hive layout
    files = list(pathlib.Path(out).rglob("*.parquet"))
    assert files and all("day=" in str(f) for f in files)

    # third run, no new drops: a restart at a tick boundary must be a
    # no-op — checkpoint replays nothing, totals unchanged
    run_live_rollup(spark, str(landing), out, ckpt)
    assert _totals(spark, out) == {
        ("2024-01-01", "14"): (1, 5),
        ("2024-01-01", "19"): (3, 15),
    }


def test_live_rollup_epoch_ledger_blocks_replay(spark, tmp_path):
    """A replayed epoch (same checkpoint, same batch id) must not
    double-add: simulate the replay by wiping Spark's OFFSET commit
    log but keeping the sink's epoch ledger — the re-fired epoch 0
    finds its marker and skips."""
    import shutil

    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = tmp_path / "ckpt"

    (landing / "t1.export.CSV").write_text(_v2_row(1, "http://x/a", "14"))
    run_live_rollup(spark, str(landing), out, str(ckpt))
    assert _totals(spark, out) == {("2024-01-01", "14"): (1, 5)}

    # crash-before-checkpoint-commit: Spark will re-deliver epoch 0
    for sub in ("commits", "offsets", "sources", "state"):
        p = ckpt / sub
        if p.exists():
            shutil.rmtree(p)
    run_live_rollup(spark, str(landing), out, str(ckpt))
    # without the ledger this would read (1,5) + replayed (1,5) = (2,10)
    assert _totals(spark, out) == {("2024-01-01", "14"): (1, 5)}


def test_live_rollup_recovers_interrupted_compaction(spark, tmp_path):
    """A compaction that crashed between its two renames (live dir
    gone, __precompact backup holds the data) must NOT read as
    'first epoch': the merge restores the backup and stays additive
    (ADVICE r3)."""
    import os

    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    (landing / "t1.export.CSV").write_text(_v2_row(1, "http://x/a", "14"))
    run_live_rollup(spark, str(landing), out, ckpt)
    assert _totals(spark, out) == {("2024-01-01", "14"): (1, 5)}

    # simulate compact_parquet dying after rename(path, backup)
    os.rename(out, out + "__precompact")

    (landing / "t2.export.CSV").write_text(_v2_row(2, "http://x/b", "14"))
    run_live_rollup(spark, str(landing), out, ckpt)
    # without recovery: history lost (1,5) AND the backup doomed;
    # with recovery: tick 2 adds onto restored tick-1 totals
    assert _totals(spark, out) == {("2024-01-01", "14"): (2, 10)}
    assert not os.path.exists(out + "__precompact")


def test_live_rollup_discards_unmarked_staging(spark, tmp_path):
    """Crash after staging but BEFORE the ledger marker: the live data
    is untouched, so the replayed epoch must discard the stale stage
    and recompute — a poisoned leftover staging dir must not leak into
    the dataset."""
    import os
    import pathlib

    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    # leftover staging from a crashed epoch 0 with garbage content
    stale = pathlib.Path(out + "__epoch0__staging")
    (stale / "day=1999-12-31").mkdir(parents=True)
    (stale / "day=1999-12-31" / "junk.parquet").write_text("not parquet")

    (landing / "t1.export.CSV").write_text(_v2_row(1, "http://x/a", "14"))
    run_live_rollup(spark, str(landing), out, ckpt)
    assert _totals(spark, out) == {("2024-01-01", "14"): (1, 5)}
    assert not stale.exists()


def test_live_rollup_replay_completes_marked_swap(spark, tmp_path):
    """Crash AFTER the ledger marker but before/during the swap: the
    replayed epoch must finish the swap from the authoritative staged
    totals instead of re-running the merge (which would double-add)."""
    import shutil

    import pathlib

    landing = tmp_path / "landing"; landing.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = tmp_path / "ckpt"

    (landing / "t1.export.CSV").write_text(_v2_row(1, "http://x/a", "14"))
    run_live_rollup(spark, str(landing), out, str(ckpt))

    # simulate: epoch 0's marker exists (it does — the run committed)
    # and its staged output was never fully swapped in.  Stage a
    # recognizable version of the day partition, then force Spark to
    # re-deliver epoch 0 by wiping its offset/commit logs.
    staged = spark.createDataFrame(
        [("2024-01-01", "14", 7, 70)],
        "day string, root_code string, n_events long, n_articles long",
    )
    staged.write.partitionBy("day").parquet(out + "__epoch0__staging")
    for sub in ("commits", "offsets", "sources", "state"):
        p = ckpt / sub
        if p.exists():
            shutil.rmtree(p)
    run_live_rollup(spark, str(landing), out, str(ckpt))
    # the staged totals (authoritative) replaced the partition; a
    # re-run merge would instead have produced (2, 10)
    assert _totals(spark, out) == {("2024-01-01", "14"): (7, 70)}
    assert not pathlib.Path(out + "__epoch0__staging").exists()
    # no _stale__ debris left behind
    assert not list(pathlib.Path(out).glob("_stale__*"))


def test_complete_epoch_swap_resumes_from_any_point(tmp_path):
    """Pure-FS idempotency of the partition swap: resuming after a
    partial swap (old partition already renamed aside) converges and
    cleans all debris."""
    import os

    from gdelt_extractor_spark.pipelines.live import _complete_epoch_swap

    out = tmp_path / "out"; out.mkdir()
    staging = tmp_path / "out__epoch3__staging"
    for d in ("day=2024-01-01", "day=2024-01-02"):
        (staging / d).mkdir(parents=True)
        (staging / d / "part-0.parquet").write_text("new")
    (staging / "_SUCCESS").write_text("")
    (out / "day=2024-01-01").mkdir()
    (out / "day=2024-01-01" / "part-0.parquet").write_text("old")

    # simulate a crash mid-swap: the live dir was renamed aside but
    # the staged dir never made it in
    os.rename(out / "day=2024-01-01", out / "_stale__day=2024-01-01")
    _complete_epoch_swap(str(staging), str(out))

    assert (out / "day=2024-01-01" / "part-0.parquet").read_text() == "new"
    assert (out / "day=2024-01-02" / "part-0.parquet").read_text() == "new"
    assert not list(out.glob("_stale__*"))
    assert not staging.exists()


def test_live_rollup_refuses_non_local_uris(spark, tmp_path):
    """The ledger + swap are POSIX-file based; a non-local URI would
    silently lose replay protection, so it must be refused loudly."""
    import pytest

    with pytest.raises(NotImplementedError, match="local"):
        run_live_rollup(
            spark, str(tmp_path), "s3://bucket/rollup", str(tmp_path / "ck")
        )
    with pytest.raises(NotImplementedError, match="local"):
        run_live_rollup(
            spark, str(tmp_path), str(tmp_path / "out"), "hdfs://nn/ck"
        )


def test_incremental_dedup_stream_two_ticks_and_replay(spark, tmp_path):
    """Tick 1 ingests a batch with an internal dup (collapsed);
    tick 2's cross-tick re-deliveries are dropped against the
    corpus's own hash column; replaying an epoch converges to the
    same corpus (idempotent partition overwrite + batch_id-pruned
    seen-index)."""
    import json as _json

    from gdelt_extractor_spark.pipelines.incremental import (
        ingest_batch,
        run_incremental_dedup_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        (landing / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    drop("t1.jsonl", [
        {"doc_id": 1, "text": "alpha beta", "source": "s1"},
        {"doc_id": 2, "text": "Alpha  Beta", "source": "s1"},   # internal dup of 1
        {"doc_id": 3, "text": "gamma delta", "source": "s2"},
    ])
    run_incremental_dedup_stream(spark, str(landing), corpus_dir, ckpt,
                                 max_files_per_trigger=1)
    got1 = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    assert got1 == {1, 3}

    drop("t2.jsonl", [
        {"doc_id": 10, "text": "alpha beta", "source": "s3"},   # re-delivery
        {"doc_id": 11, "text": "epsilon zeta", "source": "s3"},
    ])
    run_incremental_dedup_stream(spark, str(landing), corpus_dir, ckpt,
                                 max_files_per_trigger=1)
    corpus = spark.read.parquet(corpus_dir)
    assert {r.doc_id for r in corpus.collect()} == {1, 3, 11}

    # replay epoch 1 (same batch frame, same batch_id) → same corpus
    batch1 = spark.createDataFrame(
        [(1, "alpha beta", "s1"), (2, "Alpha  Beta", "s1"), (3, "gamma delta", "s2")],
        "doc_id long, text string, source string",
    )
    before = sorted(
        (r.doc_id, r.content_hash, r.batch_id)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    ingest_batch(batch1, 0, corpus_dir)
    after = sorted(
        (r.doc_id, r.content_hash, r.batch_id)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert after == before


def test_incremental_near_dedup_stream_two_ticks_and_replay(spark, tmp_path):
    """Near-dup twin of the exact-pipeline test: tick 2's re-crawl
    is NOT byte-identical (one word changed) yet still drops against
    the corpus's own signature column; replaying an epoch converges
    to the same corpus."""
    import json as _json

    from gdelt_extractor_spark.pipelines.incremental import (
        ingest_batch_near_dup,
        run_incremental_near_dedup_stream,
    )

    BASE = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm windowsill in the afternoon sun today"
    )
    OTHER = (
        "completely different content about spark plans and shuffle "
        "boundaries at large scale with partition pruning and "
        "broadcast joins everywhere in the query engine"
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        (landing / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    drop("t1.jsonl", [
        {"doc_id": 1, "text": BASE, "source": "s1"},
        # internal NEAR dup of 1 (one word changed): collapsed
        {"doc_id": 2, "text": BASE.replace("warm", "cold"), "source": "s1"},
        {"doc_id": 3, "text": OTHER, "source": "s2"},
    ])
    run_incremental_near_dedup_stream(spark, str(landing), corpus_dir, ckpt,
                                      max_files_per_trigger=1)
    got1 = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    assert got1 == {1, 3}

    drop("t2.jsonl", [
        # near re-crawl of 1 — different bytes, same page
        {"doc_id": 10, "text": BASE.replace("fox", "wolf"), "source": "s3"},
        {"doc_id": 11, "text": "fresh subject matter entirely about "
                               "decimal sums and order independent "
                               "aggregation over doubles in distributed "
                               "query engines with adaptive execution",
         "source": "s3"},
    ])
    run_incremental_near_dedup_stream(spark, str(landing), corpus_dir, ckpt,
                                      max_files_per_trigger=1)
    corpus = spark.read.parquet(corpus_dir)
    assert {r.doc_id for r in corpus.collect()} == {1, 3, 11}
    # the signature column is persisted for tomorrow's index
    assert "sig" in corpus.columns

    # replay epoch 1 → identical corpus (idempotent overwrite +
    # batch_id-pruned index)
    batch1 = spark.createDataFrame(
        [(1, BASE, "s1"), (2, BASE.replace("warm", "cold"), "s1"),
         (3, OTHER, "s2")],
        "doc_id long, text string, source string",
    )
    before = sorted(
        (r.doc_id, tuple(r.sig), r.batch_id)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    ingest_batch_near_dup(batch1, 0, corpus_dir)
    after = sorted(
        (r.doc_id, tuple(r.sig), r.batch_id)
        for r in spark.read.parquet(corpus_dir).collect()
    )
    assert after == before


_NEAR_BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "sleeps on the warm windowsill in the afternoon sun today"
)


def test_near_dup_short_docs_land_once_without_signature(spark, tmp_path):
    """A doc shorter than one shingle has no MinHash signature: it
    lands exactly once with ``sig`` NULL, never enters the band index
    (so it cannot put every sig-less doc into one shared bucket), and
    two identical short docs both survive."""
    from gdelt_extractor_spark.pipelines.incremental import (
        _seen_band_index,
        ingest_batch_near_dup,
    )

    corpus_dir = str(tmp_path / "corpus")
    batch = spark.createDataFrame(
        [(1, _NEAR_BASE, "s1"),
         (2, _NEAR_BASE.replace("warm", "cold"), "s1"),  # near dup of 1
         (3, "tiny doc", "s2"),
         (4, "tiny doc", "s2")],
        "doc_id long, text string, source string",
    )
    ingest_batch_near_dup(batch, 0, corpus_dir)
    rows = spark.read.parquet(corpus_dir).collect()
    assert sorted(r.doc_id for r in rows) == [1, 3, 4]
    sig = {r.doc_id: r.sig for r in rows}
    assert sig[3] is None and sig[4] is None
    assert sig[1] is not None and len(sig[1]) == NUM_HASHES
    idx = _seen_band_index(spark, corpus_dir, 1, "doc_id")
    assert {r.id for r in idx.select("id").distinct().collect()} == {1}


def test_near_dup_first_batch_index_has_the_real_schema(spark, tmp_path):
    """The first batch's empty band index (no corpus yet) has exactly
    the schema the index read back from a landed corpus has."""
    from gdelt_extractor_spark.pipelines.incremental import (
        _seen_band_index,
        ingest_batch_near_dup,
    )

    corpus_dir = str(tmp_path / "corpus")
    empty = _seen_band_index(spark, corpus_dir, 0, "doc_id")
    assert empty.count() == 0
    batch = spark.createDataFrame(
        [(1, _NEAR_BASE, "s1")], "doc_id long, text string, source string"
    )
    ingest_batch_near_dup(batch, 0, corpus_dir)
    real = _seen_band_index(spark, corpus_dir, 1, "doc_id")
    assert real.count() == INDEX_BANDS
    assert empty.schema == real.schema


def test_near_dup_batch_builds_signatures_once(spark, tmp_path, spy):
    """The survivors land with the signatures the operator verified
    them with: one signature build per micro-batch."""
    from gdelt_extractor_spark.operators import dedup
    from gdelt_extractor_spark.pipelines.incremental import ingest_batch_near_dup

    calls = spy(dedup, "minhash_signatures")
    batch = spark.createDataFrame(
        [(1, _NEAR_BASE, "s1"), (2, "fresh words about something else", "s2")],
        "doc_id long, text string, source string",
    )
    ingest_batch_near_dup(batch, 0, str(tmp_path / "corpus"))
    assert len(calls) == 1


def test_incremental_stream_metrics_survive_restart(spark, tmp_path):
    """The per-epoch dedup-rate audit stream: each tick lands a
    (batch_id, n_seen, n_survived, n_dropped) row via the same
    idempotent partition overwrite; the counts reconcile with the
    landed corpus; a restarted/replayed epoch overwrites its own
    metrics row instead of double-counting."""
    import json as _json

    from gdelt_extractor_spark.pipelines.incremental import (
        ingest_batch,
        run_incremental_dedup_stream,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus_dir = str(tmp_path / "corpus")
    metrics_dir = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")

    def drop(name, rows):
        (landing / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    drop("t1.jsonl", [
        {"doc_id": 1, "text": "alpha beta", "source": "s1"},
        {"doc_id": 2, "text": "Alpha  Beta", "source": "s1"},   # internal dup
        {"doc_id": 3, "text": "gamma delta", "source": "s2"},
    ])
    run_incremental_dedup_stream(spark, str(landing), corpus_dir, ckpt,
                                 max_files_per_trigger=1,
                                 metrics_dir=metrics_dir)
    drop("t2.jsonl", [
        {"doc_id": 10, "text": "alpha beta", "source": "s3"},   # cross-tick dup
        {"doc_id": 11, "text": "epsilon zeta", "source": "s3"},
    ])
    # SECOND invocation = restart from the same checkpoint: epoch 0's
    # metrics row must survive untouched, epoch 1 adds its own
    run_incremental_dedup_stream(spark, str(landing), corpus_dir, ckpt,
                                 max_files_per_trigger=1,
                                 metrics_dir=metrics_dir)

    m = {r.batch_id: r for r in spark.read.parquet(metrics_dir).collect()}
    assert set(m) == {0, 1}
    assert (m[0].n_seen, m[0].n_survived, m[0].n_dropped) == (3, 2, 1)
    assert (m[1].n_seen, m[1].n_survived, m[1].n_dropped) == (2, 1, 1)
    # metrics reconcile with the landed corpus, epoch by epoch
    corpus = spark.read.parquet(corpus_dir)
    for b, row in m.items():
        assert corpus.filter(corpus.batch_id == b).count() == row.n_survived
    assert sum(r.n_survived for r in m.values()) == corpus.count()

    # replay epoch 0 (same frame, same id): metrics row overwritten,
    # not duplicated — identical table afterwards
    batch1 = spark.createDataFrame(
        [(1, "alpha beta", "s1"), (2, "Alpha  Beta", "s1"),
         (3, "gamma delta", "s2")],
        "doc_id long, text string, source string",
    )
    before = sorted(map(tuple, spark.read.parquet(metrics_dir).collect()))
    ingest_batch(batch1, 0, corpus_dir, metrics_dir=metrics_dir)
    after = sorted(map(tuple, spark.read.parquet(metrics_dir).collect()))
    assert after == before
