"""Structured-Streaming re-expression of the reference's 15-minute
update loop (reference/v2.py + cron: every tick, fetch the newest
export zip, clean it, replace the DB table).

Spark-first shape: a file-source stream watches a landing directory
(where a fetcher drops unzipped TSVs), the SAME batch transforms run
incrementally, keep-first URL dedup becomes watermarked
``dropDuplicates``, and the sink is ``foreachBatch`` (JDBC/parquet,
exactly-once per epoch) or a windowed aggregate for live rollups.

At 100 TB/day this is the architecture that replaces cron+replace:
incremental processing, late-data tolerance via watermark, no
re-truncating the target.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.gdelt import V2_EVENTS_SCHEMA, _clean, _parse

# Late-data tolerance of the event streams (two 15-minute GDELT drops),
# the rollup window, and the files one micro-batch takes.
WATERMARK = "30 minutes"
WINDOW = "15 minutes"
FILES_PER_TRIGGER = 8
# How long after an event a mention still joins it.
JOIN_MAX_DELAY = "15 minutes"
# Inactivity that closes a native session window, and its watermark.
SESSION_GAP = "30 minutes"
SESSION_WATERMARK = "1 hour"


def stream_gdelt_dir(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType = V2_EVENTS_SCHEMA,
) -> DataFrame:
    """File-source stream of GDELT TSV drops through the batch readers'
    parser (``sources.gdelt._parse``): clean rows flow on; each batch's
    progress counts the rest in ``observedMetrics[f"gdelt_rejects:
    {landing_dir}"]["rejects"]`` (per directory: Spark refuses two
    observations of one name in a query, e.g. events ⋈ mentions)."""
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
        .load(landing_dir)
        .toDF("line")
    )
    rejects = F.count_if(F.col("_reject").isNotNull()).alias("rejects")
    return _clean(_parse(lines, schema).observe(f"gdelt_rejects:{landing_dir}", rejects))


def with_event_time(df: DataFrame, col: str = "DATEADDED") -> DataFrame:
    """DATEADDED (yyyyMMddHHmmss integer) → event_time timestamp."""
    return df.withColumn(
        "event_time", F.to_timestamp(F.col(col).cast("string"), "yyyyMMddHHmmss")
    )


def dedup_stream(df: DataFrame, key: str = "SOURCEURL") -> DataFrame:
    """Streaming keep-first on ``key`` (the reference's
    drop_duplicates, made incremental and late-data-safe).

    Uses ``dropDuplicatesWithinWatermark``: plain
    ``dropDuplicates([key])`` only evicts state when the watermark
    column is part of the dedup subset, so keyed-only dedup would
    grow state forever — the silent unbounded-state trap at
    100 TB/day.  WithinWatermark keeps one state entry per key per
    watermark horizon and drops it once the watermark passes, at the
    (documented, reference-matching) cost that re-posts of a URL
    farther apart than the watermark count as new.
    """
    return df.withWatermark("event_time", WATERMARK).dropDuplicatesWithinWatermark(
        [key]
    )


def windowed_counts(df: DataFrame) -> DataFrame:
    """Per-``WINDOW`` event counts by root code — the live rollup the
    reference approximates by re-running its keyword/geom queries
    each tick."""
    return (
        df.withWatermark("event_time", WATERMARK)
        .groupBy(F.window("event_time", WINDOW), F.col("EventRootCode"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("NumArticles").cast("long")).alias("n_articles"),
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
) -> DataFrame:
    """Watermarked stream-stream inner join: right rows match left
    rows with the same key whose event time lies in
    [left_time, left_time + ``JOIN_MAX_DELAY``].

    Both sides are watermarked so the join state is bounded — Spark
    drops buffered rows once the watermark passes the time-range
    upper bound.  This is the streaming mentions⋈events shape: a
    mention (right) joins its event (left) only while the event is
    recent, with O(watermark window) state instead of O(stream).
    """
    l = left.withWatermark(left_time, WATERMARK)
    r = right.withWatermark(right_time, WATERMARK)
    cond = (
        (l[on] == r[on])
        & (r[right_time] >= l[left_time])
        & (r[right_time] <= l[left_time] + F.expr(f"INTERVAL {JOIN_MAX_DELAY}"))
    )
    return l.join(r, cond, "inner").drop(r[on])


def join_static_dim(
    stream_df: DataFrame, dim: DataFrame, on: str | list[str]
) -> DataFrame:
    """Stream-static broadcast join: enrich a stream with a (small)
    dimension table.  The dim is broadcast once per micro-batch —
    no stream state, no watermark needed; the standard lookup-join
    shape for code→label enrichment (e.g. CAMEO roots) in the live
    update loop."""
    return stream_df.join(F.broadcast(dim), on)


def run_to_memory_sink(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drive a streaming query over everything currently in the
    source and stop — the synchronous harness used by tests and
    local smoke runs."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_foreach_batch(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Exactly-once-per-epoch arbitrary sink (e.g. JDBC append) —
    the streaming replacement for the reference's replace-mode
    to_sql."""
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def rank_windows(
    windowed: DataFrame,
    k: int = 3,
    order_col: str = "n_events",
    key_col: str = "EventRootCode",
) -> DataFrame:
    """Per-window top-k over a windowed-count frame — the rank step
    of a live 'trending topics' board.  A window-function-over-
    aggregate is unsupported INSIDE a streaming plan, so this runs on
    FINALIZED batches (inside ``foreachBatch``, or over the memory/
    complete sink table) — the standard composition.  Deterministic
    tie-break by key."""
    w = Window.partitionBy("window").orderBy(
        F.col(order_col).desc(), F.col(key_col).asc()
    )
    return windowed.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def run_trending_topk(
    stream_df: DataFrame,
    sink: "Callable[[DataFrame, int], None]",
    checkpoint_dir: str,
    k: int = 3,
) -> None:
    """Live trending top-k pipeline: watermarked windowed counts
    (state bounded — evicted once the watermark passes the window),
    then each finalized micro-batch is ranked to per-window top-k
    before reaching the caller's sink.  Composes ``windowed_counts``
    → ``rank_windows`` → ``run_foreach_batch``; state stays bounded
    no matter how long the stream runs."""
    agg = windowed_counts(stream_df)
    run_foreach_batch(
        agg, lambda b, i: sink(rank_windows(b, k), i), checkpoint_dir
    )


def run_cdc_upsert(
    change_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str,
    attr_cols: list[str],
    op_col: str = "op",
    ts_col: str = "ts",
) -> None:
    """Streaming MERGE INTO: apply a CDC change stream to a parquet
    snapshot table, one micro-batch at a time — the live tail of the
    batch ``apply_cdc`` operator, i.e. what a lakehouse table looks
    like between nightly rewrites.

    Each micro-batch runs ``apply_cdc(snapshot, batch)`` (latest op
    per key wins, D > U > I on ties) and atomically swaps the result
    in via the crash-safe ``compact``-style rename discipline: write
    to ``<path>__merging``, rename the live dir aside, promote,
    drop the old.  foreachBatch + the checkpoint give exactly-once
    PER EPOCH: a replayed batch re-merges idempotently because
    apply_cdc is a deterministic function of (snapshot, batch) and
    upserts by key — re-applying the same change log is a no-op.

    Scale note: per-batch the snapshot pays one join shuffle against
    the (small) batch — the apply_cdc contract.  A real lakehouse
    bounds the rewrite with partition pruning or deletion vectors;
    here the full-snapshot rewrite IS the honest local-parquet
    equivalent, and the swap keeps readers consistent.
    """
    import os
    import shutil

    from ..operators.temporal import apply_cdc

    if "://" in table_path and not table_path.startswith("file://"):
        raise NotImplementedError(
            "run_cdc_upsert's rename swap is local-filesystem only; "
            "object stores need a manifest/table-format commit"
        )
    if table_path.startswith("file://"):
        # os.path/os.rename below never understand URIs
        table_path = table_path[len("file://"):]

    def merge(batch: DataFrame, epoch: int) -> None:
        if not batch.take(1):
            return
        # crash recovery (the compact_parquet discipline): a backup
        # with no live dir means a mid-swap crash — restore it; a
        # stale backup next to a live dir lost the race — drop it
        backup0 = table_path + "__premerge"
        if os.path.exists(backup0):
            if not os.path.exists(table_path):
                os.rename(backup0, table_path)
            else:
                shutil.rmtree(backup0)
        spark = batch.sparkSession
        snapshot = spark.read.parquet(table_path)
        merged = apply_cdc(
            snapshot, batch, key_col, attr_cols, op_col=op_col, ts_col=ts_col
        )
        staging = table_path + "__merging"
        backup = table_path + "__premerge"
        merged.write.mode("overwrite").parquet(staging)
        os.rename(table_path, backup)
        os.rename(staging, table_path)
        shutil.rmtree(backup)

    run_foreach_batch(change_stream, merge, checkpoint_dir)


def run_sketch_maintenance(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    value_col: str,
) -> None:
    """Streaming maintenance of a mergeable HLL sketch table: each
    micro-batch's (key, value) rows become per-key sketches
    (``sketches.hll_sketch_table``) and union into the persisted
    (key, hll_sketch) parquet table — live distinct-count monitoring
    whose state is the sketch table itself, never the raw values.

    Replay-convergent BY ALGEBRA, stronger than the CDC sink's
    by-construction idempotency: HLL union is a register-wise max, so
    re-unioning a replayed batch (or any subset of already-absorbed
    values) is a mathematical no-op — crash/retry can only converge
    the table, never double-count.  The atomic swap keeps readers
    consistent mid-merge (same stage→backup→promote discipline and
    recovery as ``run_cdc_upsert``).

    Scale note: per batch the stored table pays one groupBy shuffle
    over (stored ∪ batch) SKETCH rows — bounded by key cardinality ×
    2^``sketches.HLL_LG_K`` bytes, independent of the batch's raw row count.
    """
    import os
    import shutil

    from ..operators.sketches import hll_sketch_table

    if "://" in table_path and not table_path.startswith("file://"):
        raise NotImplementedError(
            "run_sketch_maintenance's rename swap is local-filesystem only; "
            "object stores need a manifest/table-format commit"
        )
    if table_path.startswith("file://"):
        # os.path/os.rename below never understand URIs
        table_path = table_path[len("file://"):]

    def merge(batch: DataFrame, epoch: int) -> None:
        if not batch.take(1):
            return
        backup = table_path + "__premerge"
        if os.path.exists(backup):
            if not os.path.exists(table_path):
                os.rename(backup, table_path)
            else:
                shutil.rmtree(backup)
        spark = batch.sparkSession
        batch_sk = hll_sketch_table(batch, key_cols, value_col)
        if os.path.exists(table_path):
            stored = spark.read.parquet(table_path)
            merged = (
                stored.unionByName(batch_sk)
                .groupBy(*key_cols)
                .agg(F.hll_union_agg("hll_sketch").alias("hll_sketch"))
            )
        else:
            merged = batch_sk
        staging = table_path + "__merging"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.exists(table_path):
            os.rename(table_path, backup)
        os.rename(staging, table_path)
        if os.path.exists(backup):
            shutil.rmtree(backup)

    run_foreach_batch(stream, merge, checkpoint_dir)


def session_window_counts(
    df: DataFrame,
    key_col: str,
    time_col: str = "event_time",
) -> DataFrame:
    """Per-key session aggregation via Spark's NATIVE
    ``session_window`` (dynamic gap-closed windows) — the engine-
    managed counterpart to the custom ``applyInPandasWithState``
    sessionizer in streaming/sessions.py: state store, gap merging,
    and watermark eviction all handled by the built-in operator, at
    the cost of fixed semantics (gap timeout only, no custom
    per-session logic).  Prefer this whenever plain
    start/end/count-per-session is enough; reach for the custom
    stateful operator only when the session carries bespoke state.

    Output per closed session (``SESSION_GAP`` of inactivity): (key,
    session_start, session_end, n_events).  ``SESSION_WATERMARK``
    bounds state exactly as the windowed rollups do.
    """
    return (
        df.withWatermark(time_col, SESSION_WATERMARK)
        .groupBy(F.session_window(F.col(time_col), SESSION_GAP), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def run_drift_monitor(
    stream: DataFrame,
    baseline: DataFrame,
    value_col: str,
    metrics_dir: str,
    checkpoint_dir: str,
    lo: float | None = None,
    hi: float | None = None,
) -> "StreamingQuery":
    """Live distribution-drift monitoring: every micro-batch's
    ``value_col`` is scored against a FROZEN baseline with the PSI
    gate (``profiling.psi_drift`` — its default 10 bins, same ε, same
    reading: <0.1 stable, >0.25 shifted) and one
    (epoch, n_rows, psi) row lands in ``metrics_dir`` — the
    streaming sibling of the batch drift audits, and the alarm feed
    a curation pipeline watches while ingesting a new crawl.

    The baseline's bin edges are computed ONCE before the query
    starts (or passed as ``lo``/``hi`` literals — the monitoring
    posture: freeze edges with the baseline) and the per-bin
    baseline fractions are precomputed and reused, so each epoch
    pays ONE aggregate over its own batch plus a tiny join of two
    ≤ 10-row count tables.  Append-only metrics keyed by epoch id:
    a replayed batch overwrites its own epoch row idempotently
    (same last-write-wins discipline as the incremental pipelines'
    dedup-rate metrics)."""
    from ..operators.profiling import psi_drift

    if lo is None or hi is None:
        mm = baseline.agg(
            F.min(F.col(value_col).cast("double")),
            F.max(F.col(value_col).cast("double")),
        ).first()
        lo = float(mm[0]) if lo is None else lo
        hi = float(mm[1]) if hi is None else hi
    frozen = baseline.select(F.col(value_col).cast("double").alias("v")).cache()
    frozen.count()  # materialize once; epochs only re-read the cache

    def score(batch: DataFrame, epoch: int) -> None:
        if not batch.take(1):
            return
        spark = batch.sparkSession
        b = batch.select(F.col(value_col).cast("double").alias("v"))
        out = psi_drift(frozen, b, "v", lo=lo, hi=hi)
        psi = out.select(F.max("psi")).first()[0]
        n = batch.count()
        row = spark.createDataFrame(
            [(int(epoch), int(n), float(psi))], "epoch long, n_rows long, psi double"
        )
        # idempotent per-epoch partition overwrite — a replayed batch
        # rewrites its own row (the incremental pipelines' metrics
        # discipline), not an append duplicate
        from ..sinks.files import upsert_partitions

        upsert_partitions(row, metrics_dir, ["epoch"])

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(score)
        .start()
    )
