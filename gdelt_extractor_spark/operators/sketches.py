"""Frequent-items sketch: distributed Misra-Gries heavy hitters.

Completes the sketch trio next to HLL++ distinct counts
(plans/queries.py approx_distinct_users) and the KLL-style quantile
sketch (approx_value_quantiles): frequency estimation whose memory is
O(m) per partition REGARDLESS of key cardinality — the regime where
the exact groupBy top-k (keywords.py, textstats.py tfidf) would blow
the hash aggregate at 100 TB key cardinalities.

Two-level shape (Misra-Gries 1982; merge property per Agarwal et al.
2013, "Mergeable Summaries"):
  stage 1 — ``mapInPandas`` keeps at most ``m`` weighted counters per
    PARTITION.  Batched decrement: after absorbing an Arrow batch's
    value_counts, if more than m counters live, subtract the
    (n_live − m)-th smallest weight from every counter and drop the
    non-positive ones.  Per-partition guarantee:
    true_count − D_p ≤ weight ≤ true_count, with D_p the partition's
    cumulative decrement (D_p ≤ partition_rows / (m+1)).
  stage 2 — the ≤ m×P summary rows (P = partitions) roll up exactly:
    sum weights per key, global top-k with the key as deterministic
    tie-break.  Summed weights keep the one-sided bound:
    true_total − ΣD_p ≤ est ≤ true_total, so any key with
    true_total > N/(m+1) is guaranteed to surface.

When ``m`` exceeds every partition's distinct-key count no decrement
ever fires and the sketch is EXACT — the entry-level query runs in
that regime so its DuckDB oracle applies verbatim; the approximation
contract under forced decrements is property-tested instead
(tests/test_sketches.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_topk(
    df: DataFrame,
    key_col: str,
    k: int = 10,
    m: int = 256,
) -> DataFrame:
    """Top-k heavy hitters of a string column by estimated count.

    Returns (key, est_count) with est_count a lower bound within
    N/(m+1) of the true count (exact when no partition ever held more
    than ``m`` live counters).  NULL keys are ignored.
    """
    if k < 1 or m < 1:
        raise ValueError("k and m must be positive")

    def summarize(batches):
        acc = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf[key_col].dropna().value_counts()
            if vc.empty:
                continue
            acc = acc.add(vc, fill_value=0).astype("int64")
            n_live = len(acc)
            if n_live > m:
                vals = acc.to_numpy()
                d = int(np.partition(vals, n_live - m - 1)[n_live - m - 1])
                acc = acc[acc > d] - d
        yield pd.DataFrame(
            {"key": acc.index.astype(str), "weight": acc.to_numpy()}
        )

    summaries = df.select(F.col(key_col).cast("string").alias(key_col)).mapInPandas(
        summarize, schema="key string, weight long"
    )
    return (
        summaries.groupBy("key")
        .agg(F.sum("weight").alias("est_count"))
        .orderBy(F.col("est_count").desc(), F.col("key").asc())
        .limit(k)
    )


# log2 of the HLL register count: one value, so every stored sketch
# has the same size and precision.
HLL_LG_K = 12


def hll_sketch_table(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Materialize a MERGEABLE distinct-count sketch table: one
    Apache DataSketches HLL sketch (binary) per key group.

    This is the pre-aggregation pattern that makes 100 TB distinct
    counting cheap: build (key, sketch) once per ingest partition
    (e.g. per day), persist the ≤ 2^HLL_LG_K-byte sketches, and answer
    any coarser rollup later by UNIONING sketches instead of
    re-scanning raw data — ``approx_count_distinct`` alone can't do
    that because its result is a scalar, not a reusable summary.
    Register-wise max-merge makes the sketch deterministic for a
    given value set: independent of partitioning, input order, and
    pre-aggregation grouping (property-tested).
    """
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(HLL_LG_K)).alias("hll_sketch")
    )


def hll_rollup(
    sketches: DataFrame,
    group_cols: list[str],
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Roll a sketch table up to coarser keys: union the HLL sketches
    per group and estimate.  Returns (group_cols..., n_sketches,
    approx_distinct).  Never touches raw data — the whole rollup
    moves only ≤ 2^HLL_LG_K-byte summaries through the shuffle.
    """
    return sketches.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(
            "approx_distinct"
        ),
    )
