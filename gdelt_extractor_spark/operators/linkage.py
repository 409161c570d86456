"""Probabilistic record linkage — Fellegi & Sunter 1969 ("A theory
for record linkage"), the decision-theoretic layer ABOVE candidate
generation: given blocked candidate pairs and per-field agreement
patterns, score each pair with the sum of field log-likelihood
ratios and classify match / possible / non-match.

Complements ``similarity.fuzzy_join`` (token-Jaccard candidate
generation, one similarity number) with the classical weighted-field
model every MDM/entity-resolution stack uses: a field that rarely
agrees by chance (name) moves the score far more than one that often
does (segment), and DISAGREEMENT carries negative evidence.

Reference parity: none — beyond the reference (its pipeline has no
linkage); standard published method.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Fellegi-Sunter score cuts: at or above FS_MATCH a pair is a match,
# at or below FS_NON_MATCH a non-match.  The DuckDB oracle
# interpolates them.
FS_MATCH = 4.0
FS_NON_MATCH = 0.0


def linkage_score(
    a: DataFrame,
    b: DataFrame,
    block_on: list[str],
    id_a: str,
    id_b: str,
    comparators: dict[str, Column],
    m: dict[str, float],
    u: dict[str, float],
) -> DataFrame:
    """Fellegi-Sunter linkage over blocked pairs.

    ``a``/``b`` are joined on the ``block_on`` key columns (equi-join
    — never a cartesian; blocking recall is the caller's tradeoff,
    exactly as in ``dedup_*``).  Inside each candidate pair, every
    ``comparators[field]`` is a BOOLEAN Column over the aliased
    frames ``a`` and ``b`` (write ``F.col("a.name") ==
    F.col("b.name")``); its agreement contributes ``ln(m/u)``, its
    disagreement ``ln((1-m)/(1-u))``, with ``m[field]`` = P(agree |
    true match) and ``u[field]`` = P(agree | non-match) supplied by the
    caller (estimated offline or via EM — out of scope here, as in
    most production configs where m/u are reviewed constants).
    A NULL comparator result counts as disagreement (three-valued
    logic would silently skip the field's evidence).

    Returns one row per candidate pair: the ids, each field's
    agreement flag, ``fs_score`` (rounded 6, decimal-exact: the
    per-field weights are CONSTANTS folded at plan time, so the sum
    is a fixed-length chain — engine-portable) and ``decision`` ∈
    {'match', 'possible', 'non_match'} by the two thresholds
    ``FS_MATCH``/``FS_NON_MATCH`` (the Fellegi-Sunter upper/lower
    cut).

    Scale shape: ONE equi-join shuffle on the block key; every weight
    is a literal, so scoring is pure codegen projection; output is
    candidate-pair sized.  Skewed blocks are AQE's case, or pre-salt
    with ``skew.salted_join`` when one block dominates."""
    if set(comparators) != set(m) or set(comparators) != set(u):
        raise ValueError("comparators, m, u must share the same field keys")
    for f_, (mv, uv) in ((k, (m[k], u[k])) for k in comparators):
        if not (0.0 < uv < mv < 1.0):
            raise ValueError(
                f"field {f_!r}: need 0 < u < m < 1 (got m={mv}, u={uv})"
            )
    fa, fb = a.alias("a"), b.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_on]
    pairs = fa.join(fb, cond)
    cols = [
        F.col(f"a.{id_a}").alias("id_a"),
        F.col(f"b.{id_b}").alias("id_b"),
    ]
    score = F.lit(0.0)
    for field, comp in comparators.items():
        agree = F.coalesce(comp, F.lit(False))
        w_agree = math.log(m[field] / u[field])
        w_dis = math.log((1.0 - m[field]) / (1.0 - u[field]))
        cols.append(agree.alias(f"agree_{field}"))
        score = score + F.when(agree, F.lit(w_agree)).otherwise(F.lit(w_dis))
    return pairs.select(
        *cols,
        F.round(score, 6).alias("fs_score"),
    ).withColumn(
        "decision",
        F.when(F.col("fs_score") >= FS_MATCH, F.lit("match"))
        .when(F.col("fs_score") <= FS_NON_MATCH, F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )


def golden_record(
    df: DataFrame,
    cluster_col: str,
    priority_col: str,
    fields: list[str],
    id_col: str | None = None,
) -> DataFrame:
    """Survivorship — the step AFTER linkage clusters duplicates:
    merge every cluster into one golden record, each field taking its
    FIRST NON-NULL value in (priority DESC, id ASC) order (the
    standard most-trusted-source / most-recent rule; per-field, so a
    record missing one attribute still donates the others).  Output:
    one row per cluster with the merged fields plus n_members and
    the donor id of the highest-priority row (``primary_id``).

    One window pass partitioned by the cluster (per-cluster sort,
    never global) + one dedup projection — no joins, no UDFs, and
    the merge is deterministic for any input partitioning because
    the order key is totalized by the id tie-break."""
    order = [F.col(priority_col).desc()]
    if id_col:
        order.append(F.col(id_col).asc())
    w = (
        Window.partitionBy(cluster_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rank = Window.partitionBy(cluster_col).orderBy(*order)
    cols = [F.col(cluster_col).alias("cluster")]
    if id_col:
        cols.append(F.first(F.col(id_col)).over(w).alias("primary_id"))
    for f_ in fields:
        cols.append(F.first(F.col(f_), ignorenulls=True).over(w).alias(f_))
    cols.append(F.count(F.lit(1)).over(w).alias("n_members"))
    return (
        df.withColumn("_rn", F.row_number().over(w_rank))
        .select(*cols, "_rn")
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
