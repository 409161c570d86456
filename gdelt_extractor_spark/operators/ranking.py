"""Scalable global ranking — total-order row numbers and ntile
without a single-partition window.

``F.row_number().over(Window.orderBy(...))`` (no partitionBy) moves
the ENTIRE dataset through one partition — the textbook 100 TB
scale-killer (Spark itself warns ``WindowExec: No Partition
Defined``).  This module implements the standard two-phase global
rank instead:

1. ``repartitionByRange`` on the order columns — the range
   partitioner guarantees every row in partition *i* sorts before
   every row in partition *i+1*, so global order is the concatenation
   of per-partition orders.
2. One bounded driver collect of the per-partition row COUNTS (one
   row per partition, never per data row) → cumulative offsets.
3. Per-partition ``row_number`` (window partitioned by
   ``spark_partition_id()`` — parallel) plus the broadcast offset.

The count job materializes the range shuffle; the rank job reuses the
same shuffle files (same ShuffleDependency), so the data is shuffled
once.  Output is deterministic whenever the order is TOTAL (pass a
unique tiebreak column) — partition boundaries may vary with
sampling, but rank(row) does not depend on where the boundary falls.

``global_ntile`` derives the SQL-standard ntile bucket from the
global rank arithmetically (larger buckets first), matching
``F.ntile``/DuckDB ``ntile`` exactly — used by the curriculum
mixture entry so quality quartiles stay engine-portable AND
shuffle-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__gr_pid"
_OFF = "__gr_off"


def _order_cols(order_by: list[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def _ranked_with_total(
    df: DataFrame,
    order_by: list[str | Column],
    rank_col: str,
) -> tuple[DataFrame, int]:
    cols = _order_cols(order_by)
    # default parallelism: spark.sql.shuffle.partitions
    tagged = df.repartitionByRange(*cols).withColumn(_PID, F.spark_partition_id())

    # Bounded collect: one row per partition.  This job writes the
    # range-shuffle map outputs; the rank job below reuses them.
    counts = sorted(
        tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, running = [], 0
    for row in counts:
        offsets.append((row[_PID], running))
        running += row["n"]

    spark = df.sparkSession
    off_df = spark.createDataFrame(
        offsets or [(0, 0)], schema=f"{_PID} int, {_OFF} long"
    )
    w = Window.partitionBy(_PID).orderBy(*cols)
    ranked = (
        tagged.join(F.broadcast(off_df), _PID)
        .withColumn(rank_col, F.row_number().over(w) + F.col(_OFF))
        .drop(_PID, _OFF)
    )
    return ranked, running


def global_row_number(
    df: DataFrame,
    order_by: list[str | Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Add ``rank_col`` = 1-based global row number under
    ``order_by``, with no single-partition stage.

    ``order_by`` must be a TOTAL order (include a unique tiebreak
    column) for the ranks to be deterministic.  The driver holds one
    (partition_id, count) pair per shuffle partition — bounded by the
    partition count, independent of data size.
    """
    ranked, _ = _ranked_with_total(df, order_by, rank_col)
    return ranked


def ntile_from_rank(rank: Column, n_rows: int, n_buckets: int) -> Column:
    """SQL-standard ntile bucket from a 1-based global rank.

    With ``q, r = divmod(n_rows, n_buckets)`` the first ``r`` buckets
    hold ``q + 1`` rows and the rest hold ``q`` — identical to
    ``F.ntile`` and DuckDB ``ntile``.
    """
    q, r = divmod(n_rows, n_buckets)
    big = r * (q + 1)  # rows covered by the size-(q+1) buckets
    in_big = F.floor((rank - 1) / F.lit(q + 1)) + 1
    if q == 0:  # fewer rows than buckets: bucket == rank
        return in_big.cast("int")
    in_small = F.lit(r) + F.floor((rank - F.lit(big) - 1) / F.lit(q)) + 1
    return F.when(rank <= F.lit(big), in_big).otherwise(in_small).cast("int")


def global_ntile(
    df: DataFrame,
    n_buckets: int,
    order_by: list[str | Column],
    bucket_col: str = "bucket",
) -> DataFrame:
    """``F.ntile(n_buckets)`` over a GLOBAL order, computed without a
    single-partition window: two-phase global rank + arithmetic
    bucket assignment.  Total row count comes from the same bounded
    per-partition counts the rank pass already collects (via an
    internal rank column, dropped on return)."""
    tmp = "__gr_rank"
    ranked, n_rows = _ranked_with_total(df, order_by, tmp)
    if n_rows == 0:
        return df.withColumn(bucket_col, F.lit(None).cast("int"))
    return ranked.withColumn(
        bucket_col, ntile_from_rank(F.col(tmp), n_rows, n_buckets)
    ).drop(tmp)


def global_running_sum(
    df: DataFrame,
    order_by: list[str | Column],
    weight_col: str | list[str],
    out_col: str | list[str] = "running_sum",
    exclusive: bool = False,
) -> DataFrame:
    """Weighted generalization of ``global_row_number``: add
    ``out_col`` = cumulative sum of ``weight_col`` under the global
    ``order_by``, with no single-partition window.

    Same two-phase shape: range-partition on the order columns, one
    bounded driver collect of per-PARTITION weight totals (one row
    per partition) → broadcast offsets, then a per-partition window
    sum plus the offset.  ``exclusive=True`` sums strictly-preceding
    rows only (0 for the global first row).  ``order_by`` must be a
    TOTAL order for per-row determinism.

    ``weight_col`` must be INTEGER column(s) (counts/weights in every
    engine use) — sums stay exact through decimal(38,0) and the
    output is long; fractional weights are rejected loudly instead of
    silently rounding through the decimal cast.  NULL weights count
    as 0.  Pass LISTS of weight/out columns to compute several
    cumulative sums in the SAME range shuffle + offset collect
    (pr_curve needs tp and fp together — one pass, not two).
    """
    weights = [weight_col] if isinstance(weight_col, str) else list(weight_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(weights) != len(outs):
        raise ValueError("global_running_sum: len(weight_col) != len(out_col)")
    for wc in weights:
        wt = df.schema[wc].dataType.typeName()
        if wt not in ("byte", "short", "integer", "long"):
            raise ValueError(
                f"global_running_sum: weight_col must be integral, got {wt} "
                f"for {wc!r} — scale fractional weights to integer units first"
            )
    cols = _order_cols(order_by)
    tagged = df.repartitionByRange(*cols).withColumn(_PID, F.spark_partition_id())

    totals = sorted(
        tagged.groupBy(_PID)
        .agg(
            *[
                F.sum(
                    F.coalesce(F.col(wc), F.lit(0)).cast("decimal(38,0)")
                ).alias(f"t{i}")
                for i, wc in enumerate(weights)
            ]
        )
        .collect()
    )
    offsets, running = [], [0] * len(weights)
    for row in totals:
        offsets.append((row[_PID], *[int(r) for r in running]))
        for i in range(len(weights)):
            running[i] += int(row[f"t{i}"] or 0)

    spark = df.sparkSession
    # offsets are exact Python ints; int64 bounds them in practice
    # (cumulative WEIGHT totals — counts in every engine use)
    off_cols = ", ".join(f"{_OFF}{i} long" for i in range(len(weights)))
    off_df = spark.createDataFrame(
        offsets or [tuple([0] + [0] * len(weights))],
        schema=f"{_PID} int, {off_cols}",
    )
    hi = -1 if exclusive else Window.currentRow
    w = (
        Window.partitionBy(_PID)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    out = tagged.join(F.broadcast(off_df), _PID)
    for i, (wc, oc) in enumerate(zip(weights, outs)):
        out = out.withColumn(
            oc,
            (
                F.coalesce(
                    F.sum(
                        F.coalesce(F.col(wc), F.lit(0)).cast("decimal(38,0)")
                    ).over(w),
                    F.lit(0).cast("decimal(38,0)"),
                )
                + F.col(f"{_OFF}{i}")
            ).cast("long"),
        )
    return out.drop(_PID, *[f"{_OFF}{i}" for i in range(len(weights))])
