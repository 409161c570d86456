"""Streaming incremental corpus ingestion with exactly-once dedup:
the live counterpart of ``operators.dedup.dedup_incremental``.

A file-source stream of document drops is deduplicated per
micro-batch against (a) itself and (b) the content hashes of
everything ALREADY IN the corpus, then appended — so the corpus
never holds two copies of a normalized text, no matter how often
crawls re-deliver the same page.

Exactly-once without a second ledger: survivors land via DYNAMIC
PARTITION OVERWRITE into a ``batch_id=<epoch>`` partition, and the
seen-index is simply the corpus's own hash column restricted to
EARLIER batch partitions.  A replayed epoch therefore (1) rebuilds
its seen-index identically — its own partial partition is excluded
by the ``batch_id < epoch`` predicate — and (2) overwrites its own
partition wholesale, converging to the same bytes.  The classic
two-sink atomicity problem (corpus written, index not) cannot occur
because there is no separate index to drift: one table carries both
roles, and tomorrow's batches read only its hash column
(column-pruned scan; keep the corpus hash-bucketed at real scale so
the anti join never reshuffles history).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..operators.dedup import (
    INDEX_BANDS,
    _expand_bands,
    dedup_incremental,
    dedup_incremental_minhash,
)
from ..sinks.files import upsert_partitions
from ..streaming.updates import run_foreach_batch

# Schema of the JSONL document drops both streams read.
DROP_SCHEMA = "doc_id LONG, text STRING, source STRING"
# MinHash-estimate threshold of the near-dup epoch.
NEAR_DUP_THRESHOLD = 0.5


def _committed(
    spark: SparkSession,
    corpus_dir: str,
    before_batch: int,
    cols: list,
    empty_schema: str,
) -> DataFrame:
    """``cols`` of everything committed by EARLIER epochs — an empty
    ``empty_schema`` frame on the very first batch, before the corpus
    exists.  The ``batch_id <`` predicate is partition pruning: a
    replayed epoch's own partial output is invisible to its
    recomputation."""
    try:
        corpus = spark.read.parquet(corpus_dir)
    except AnalysisException:  # first batch: corpus does not exist yet
        return spark.createDataFrame([], empty_schema)
    return corpus.filter(F.col("batch_id") < before_batch).select(*cols)


def _land(
    batch: DataFrame,
    survivors: DataFrame,
    batch_id: int,
    corpus_dir: str,
    metrics_dir: str | None,
) -> None:
    """Land one epoch's survivors by idempotent ``batch_id`` partition
    overwrite.  With ``metrics_dir``, a per-epoch dedup-rate audit row
    (batch_id, n_seen, n_survived, n_dropped) follows, derived from
    the LANDED partition (not the in-flight frame) so the metric can
    never disagree with the corpus, and landed by the same partition
    overwrite — a replayed epoch overwrites its own metrics row, so
    the audit stream inherits the pipeline's exactly-once story.
    ``n_seen`` costs one extra source scan; the file-source batch is
    replayable, so no cache is needed."""
    upsert_partitions(
        survivors.withColumn("batch_id", F.lit(int(batch_id))),
        corpus_dir,
        ["batch_id"],
    )
    if metrics_dir is None:
        return
    spark = batch.sparkSession
    n_seen = batch.count()
    n_survived = (
        spark.read.parquet(corpus_dir)
        .filter(F.col("batch_id") == int(batch_id))
        .count()
    )
    row = spark.createDataFrame(
        [(int(batch_id), n_seen, n_survived, n_seen - n_survived)],
        "batch_id long, n_seen long, n_survived long, n_dropped long",
    )
    upsert_partitions(row, metrics_dir, ["batch_id"])


def ingest_batch(
    batch: DataFrame,
    batch_id: int,
    corpus_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    metrics_dir: str | None = None,
) -> None:
    """One epoch: batch-internal keep-first + anti join against the
    committed hash index, then ``_land`` (idempotent partition
    overwrite, plus the audit row with ``metrics_dir`` set)."""
    seen = _committed(
        batch.sparkSession, corpus_dir, batch_id, ["content_hash"],
        "content_hash string",
    )
    survivors = dedup_incremental(batch, seen, text_col, id_col)
    _land(batch, survivors, batch_id, corpus_dir, metrics_dir)


def _run_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    ingest: Callable[[DataFrame, int], None],
) -> None:
    """Drive a JSONL file-source stream over ``landing_dir`` through
    ``ingest(batch, epoch)`` until the directory is drained."""
    stream = (
        spark.readStream.format("json")
        .schema(DROP_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(landing_dir)
    )
    run_foreach_batch(stream, ingest, checkpoint_dir)


def run_incremental_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    metrics_dir: str | None = None,
) -> None:
    """Drive the stream until the landing dir is drained (test mode;
    production drops ``processAllAvailable`` for a continuous
    trigger).  JSONL drops → per-epoch ``ingest_batch``."""
    _run_stream(
        spark, landing_dir, checkpoint_dir, max_files_per_trigger,
        lambda b, i: ingest_batch(b, i, corpus_dir, metrics_dir=metrics_dir),
    )


def _seen_band_index(
    spark: SparkSession, corpus_dir: str, before_batch: int, id_col: str
) -> DataFrame:
    """LSH band rows of everything committed by EARLIER epochs.

    The corpus persists each survivor's MinHash SIGNATURE as a
    column, so the index rebuilds from stored sigs with one
    column-pruned scan + a codegen band explode — historical text is
    never re-tokenized, and the one-table/no-second-ledger property
    of the exact pipeline carries over: the near-dup index cannot
    drift from the corpus because it IS the corpus.  The first
    batch's empty index goes through the same band expansion, so its
    schema is the real one by construction."""
    prior = _committed(
        spark, corpus_dir, before_batch, [F.col(id_col).alias("id"), "sig"],
        "id long, sig array<bigint>",
    )
    return _expand_bands(prior, INDEX_BANDS)


def ingest_batch_near_dup(
    batch: DataFrame,
    batch_id: int,
    corpus_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    metrics_dir: str | None = None,
) -> None:
    """One epoch of NEAR-dup incremental ingestion: the exact
    pipeline's shape with ``dedup_incremental_minhash`` in place of
    the hash anti join.  Survivors land with the signature column the
    operator verified them with (built once per batch; NULL for docs
    too short to shingle, which never enter the band index) via the
    same idempotent batch_id partition overwrite, so replays
    converge bytewise exactly as in the exact pipeline (the replayed
    epoch's own partial partition is pruned out of its index).

    The index family's banding (``INDEX_BANDS`` = 16 bands × 2 rows
    over 32 hashes) puts the LSH S-curve midpoint at (1/16)^(1/2) =
    0.25 — comfortably below the ``NEAR_DUP_THRESHOLD`` = 0.5
    verification threshold, so candidate recall is not the
    bottleneck."""
    idx = _seen_band_index(batch.sparkSession, corpus_dir, batch_id, id_col)
    survivors = dedup_incremental_minhash(
        batch, idx, text_col, id_col, threshold=NEAR_DUP_THRESHOLD
    )
    _land(batch, survivors, batch_id, corpus_dir, metrics_dir)


def run_incremental_near_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    metrics_dir: str | None = None,
) -> None:
    """Near-dup twin of ``run_incremental_dedup_stream``: JSONL
    drops → per-epoch ``ingest_batch_near_dup``."""
    _run_stream(
        spark, landing_dir, checkpoint_dir, max_files_per_trigger,
        lambda b, i: ingest_batch_near_dup(b, i, corpus_dir, metrics_dir=metrics_dir),
    )
