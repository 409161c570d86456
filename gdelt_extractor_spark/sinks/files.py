"""File sinks: partitioned parquet (the 100 TB default) and csv.

At scale the load target is partitioned columnar storage, not a
row-store — the JDBC sink exists for reference parity, these are
what a Spark pipeline actually writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import _md5_int


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """Tab-separated csv with a header, overwriting ``path``."""
    df.write.mode("overwrite").option("sep", "\t").option("header", "true").csv(path)


# Target size of a file written by ``compact_parquet``.
COMPACT_TARGET_MB = 256


def compact_parquet(
    spark, path: str, partition_by: list[str] | None = None
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``COMPACT_TARGET_MB`` based on its current on-disk size.

    Streaming sinks and 15-minute ticks accrete thousands of small
    files; at 100 TB unmanaged small files dominate scan cost
    (driver-side file listing + per-file open overhead).  This is the
    maintenance pass: size-based repartition, then a crash-safe swap
    — write to a temp dir, rename the live dir aside as a backup,
    rename the temp dir in, delete the backup.  A crash at any point
    leaves the full dataset in either ``path`` or the backup (never
    only in a temp dir), and a prior interrupted swap is recovered on
    the next call.  Pass ``partition_by`` for a hive-partitioned
    dataset — the rewrite keeps the layout (and the repartition keys
    on the partition columns, so each output partition dir gets
    coalesced files, not a shard of every task).  Returns the new
    file count.

    LOCAL-FILESYSTEM ONLY (guarded): the size scan and the rename
    swap use POSIX APIs.  On an object store, compaction belongs to a
    table format (Iceberg/Delta rewrite-data-files) whose metadata
    commit IS the atomic swap; a bare-parquet rename "swap" on S3 is
    a copy and is not atomic.
    """
    import math
    import shutil
    import os

    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            "compact_parquet is local-filesystem-only; use a table format's "
            "compaction (e.g. Iceberg rewrite_data_files) on object stores"
        )
    path = path.rstrip("/")
    tmp = path + "__compacting"
    backup = path + "__precompact"
    recover_interrupted_compaction(path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # stale partial write from a crashed run

    df = spark.read.parquet(path)
    size_b = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size_b / (COMPACT_TARGET_MB * 1024 * 1024)))
    if partition_by:
        out = df.repartition(n_files, *[F.col(c) for c in partition_by])
        out.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    os.rename(path, backup)
    os.rename(tmp, path)
    shutil.rmtree(backup)
    return n_files


def recover_interrupted_compaction(path: str) -> None:
    """Recover a ``compact_parquet`` swap that crashed between its two
    renames: the ``__precompact`` backup is authoritative when the
    live dir vanished mid-swap, stale otherwise.

    Callers that read ``path`` and treat absence as "first write"
    MUST call this first — otherwise a crashed compaction reads as an
    empty dataset and the backup holding the real data gets deleted
    as "stale" on the next compaction (ADVICE r3).
    """
    import os
    import shutil

    backup = path.rstrip("/") + "__precompact"
    if os.path.exists(backup):
        if not os.path.exists(path.rstrip("/")):
            os.rename(backup, path.rstrip("/"))
        else:
            shutil.rmtree(backup)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int,
) -> None:
    """Range-clustered parquet write: ``repartitionByRange`` +
    ``sortWithinPartitions`` on ``cluster_col`` so each output file
    covers a disjoint key range.

    Point/range predicates on the cluster key then prune to O(1)
    files via parquet column min/max statistics instead of scanning
    the dataset — the single highest-leverage layout choice for a
    100 TB table queried by key (the poor man's Z-order; for one key
    column it is exactly optimal).  Range boundaries come from
    Spark's reservoir sampling of the key distribution, so files are
    balanced even when the key is skewed.
    """
    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


# Rank-bucket bits per column of the Morton code (256 buckets).
ZORDER_BITS = 8


def _zorder_key(df: DataFrame, cols: list[str]) -> F.Column:
    """Z-value column: interleave the ``ZORDER_BITS``-bit rank-bucket ids of
    each clustering column (Morton code).  Buckets come from
    approxQuantile boundaries so skewed columns still fill the code
    space evenly; the per-row assignment is a bounded JVM ``aggregate``
    over the (2^ZORDER_BITS − 1)-element boundary array — no UDF, no
    window.
    """
    n_buckets = 1 << ZORDER_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        # driver-side, bounded: (2^ZORDER_BITS − 1) doubles per column
        bounds = df.approxQuantile(c, probs, 0.001)
        bucket = F.aggregate(
            F.array(*[F.lit(b) for b in bounds]),
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(F.col(c).cast("double") >= b, 1).otherwise(0),
        )
        # spread column ci's bit j to interleaved position j*d + ci
        d = len(cols)
        for j in range(ZORDER_BITS):
            bit = F.shiftright(bucket, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * d + ci))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
) -> None:
    """Z-order (Morton-curve) clustered parquet write: multi-column
    generalization of ``write_clustered``.

    Range clustering on one column makes that column's min/max file
    statistics disjoint but leaves every other column's range spanning
    the whole domain — a filter on the second key scans everything.
    Interleaving the bit-ranks of all ``cols`` into one Morton code
    and range-partitioning + sorting on IT gives every clustering
    column locality: a selective predicate on ANY of them prunes to
    ~n_files^((d−1)/d) files via footer min/max stats (the Delta/
    Iceberg OPTIMIZE ZORDER recipe, done with plain DataFrame ops).

    Driver-side state is one bounded approxQuantile boundary array
    per column (2^ZORDER_BITS − 1 doubles); everything else is a per-row
    codegen expression, one range exchange, and a within-partition
    sort — the identical shuffle shape as ``write_clustered``.
    Columns must be numeric (cast to double for bucketing); hash
    non-numeric keys to a long first, which preserves equality
    clustering though not range locality.
    """
    if len(cols) < 2:
        raise ValueError("z-ordering needs ≥2 columns; use write_clustered")
    z = _zorder_key(df, cols)
    # Partition on the ALIGNED Morton block (the top ⌈log2 n_files⌉
    # bits of z), not the raw z-value: range boundaries sampled from
    # raw z land mid-block, and an unaligned chunk of the curve spans
    # two blocks' worth of every dimension — measured ~2× more
    # surviving files per point predicate.  Block-aligned chunks are
    # exactly the d-dimensional grid cells of the curve.  Files stay
    # balanced because quantile bucketing already equalizes block
    # populations.
    block_bits = max(1, (n_files - 1).bit_length())
    shift = max(0, len(cols) * ZORDER_BITS - block_bits)
    (
        df.withColumn("_z", z)
        .withColumn("_zblock", F.shiftright(F.col("_z"), shift))
        # range-partition on the block ALONE: rows equal on the range
        # key can never split across partitions, so every block lands
        # whole in one file (a boundary sampled from a composite
        # (block, z) key could cut a block mid-curve)
        .repartitionByRange(n_files, F.col("_zblock"))
        .sortWithinPartitions("_z")
        .drop("_z", "_zblock")
        .write.mode("overwrite")
        .parquet(path)
    )


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Incremental partition upsert: overwrite ONLY the partitions
    present in ``df``, leaving the rest of the dataset untouched
    (dynamic partition overwrite).

    This is the scale-correct version of the reference's
    replace-mode ``to_sql`` (reference/extractor/extractor.py:
    408-457): a 15-minute GDELT tick rewrites its own date
    partition(s) idempotently instead of truncating the table —
    re-running a tick converges, and readers never see a dropped
    dataset.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sort-within-bucket)
    parquet table, overwriting ``table``.

    Bucketing is THE shuffle-elimination lever for repeated big-big
    joins: two tables bucketed on the join key with the same bucket
    count join with NO Exchange on either side (asserted in
    tests/test_bucketed.py), and sorted buckets skip the sort of a
    sort-merge join.  At 100 TB, bucketing lineitem+orders on the
    order key turns every subsequent join into a zip of co-located
    files.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


# Salt of the training-shard layout.  One constant, not a per-call
# option: the manifest, the parquet shards and the jsonl/webdataset
# exports must agree on every row's shard, and a new value re-lays out
# data already on disk.  The DuckDB oracle interpolates this value.
SHARD_SALT = "shards-v1"


def shard_assignment(id_col: str, n_shards: int) -> F.Column:
    """Deterministic shard id for a row: first 8 hex digits of
    md5(SHARD_SALT:id) mod ``n_shards``.  Content-stable (identical
    across runs, engines, partitionings — unlike round-robin
    repartition) and uniform by construction.  Pure expression —
    usable in queries (manifests) and writes alike."""
    h = _md5_int(SHARD_SALT, 8, F.col(id_col).cast("string")).cast("long")
    return (h % n_shards).cast("int")


def shard_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Per-shard accounting for a training export: (shard, n_docs,
    n_tokens, n_chars) under the deterministic ``shard_assignment``.
    The manifest every training job reads before consuming shards —
    and the pre-flight check that shard sizes are balanced BEFORE
    paying for the write.  One partial-aggregated shuffle on the
    (small-cardinality, uniform) shard key."""
    from ..functions.text import tokens

    out = df.select(
        shard_assignment(id_col, n_shards).alias("shard"),
        *( [F.size(tokens(text_col)).alias("_nt"), F.length(text_col).alias("_nc")]
           if text_col else [] ),
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if text_col:
        aggs += [
            F.sum(F.col("_nt").cast("long")).alias("n_tokens"),
            F.sum(F.col("_nc").cast("long")).alias("n_chars"),
        ]
    return out.groupBy("shard").agg(*aggs)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 16,
) -> None:
    """Deterministic sharded export — the last step of a curation
    pipeline: rows land in shard=<k>/ directories keyed by
    ``shard_assignment``, so a re-run reproduces the
    exact same layout and per-shard consumers (one training worker
    per shard) see a stable assignment.

    Plan: ONE shuffle — repartition on the shard column so each
    shard is written by one task as one file run, then
    ``partitionBy`` routes rows to their directory without a second
    exchange.  At 100 TB pick n_shards ≈ total_size /
    desired_file_size and the write stays a single wide stage."""
    out = df.withColumn("shard", shard_assignment(id_col, n_shards))
    (
        out.repartition(n_shards, F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


_EXPORT_FORMATS = ("parquet", "orc", "json", "csv")


def export_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """Uniform export across the columnar/row formats Spark ships
    natively — parquet and ORC (columnar, splittable, predicate-
    pushdown targets) plus json-lines and csv (interchange with
    non-Spark consumers).  One writer path so every format gets the
    same partitioning and compression handling; downstream engines
    read the ORC/parquet output with pushdown intact.

    csv exports get headers and explicit escaping defaults (quote-
    in-field data round-trips); json is JSON Lines (one object per
    line — the ingest-friendly shape).  Complex columns (arrays,
    structs) are rejected for csv loudly instead of Spark's opaque
    AnalysisException path.
    """
    if fmt not in _EXPORT_FORMATS:
        raise ValueError(
            f"export_table: fmt must be one of {_EXPORT_FORMATS}, got {fmt!r}"
        )
    if fmt == "csv":
        complex_cols = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            raise ValueError(
                "export_table: csv cannot represent complex columns "
                f"{complex_cols}; export as parquet/orc/json or flatten first"
            )
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if compression:
        w = w.option("compression", compression)
    if fmt == "csv":
        w = w.option("header", "true").option("escape", '"')
    w.save(path)
