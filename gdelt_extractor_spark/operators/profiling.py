"""Data-quality profiling — the Deequ/expectations-style audit every
pipeline runs before trusting a new drop: per-column row/null/
distinct counts plus numeric min/max/mean, in ONE pass.

Scale shape: all columns' aggregates compute in a single aggregate
job (count_distinct expands to Spark's standard Expand-based
multi-distinct — still one scan); the per-column layout comes from a
``stack()`` unpivot of the 1-row aggregate, which is a zero-cost
projection.  Nothing collects to the driver; the result is
|columns| rows.

Numeric stats stay typed DOUBLE (never stringified — engine float
formatting differs, values don't); non-numeric columns report NULL
for min/max/mean.  The mean uses the decimal-sum convention
(plans/queries.py) so it is partition-order independent.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One row per column: (col_name, n_rows, n_null, n_distinct,
    min_num, max_num, mean_num)."""
    cols = cols or df.columns
    dtypes = dict((f.name, f.dataType) for f in df.schema.fields)
    aggs = []
    for c in cols:
        aggs.append(F.count(F.lit(1)).alias(f"_n_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
        if isinstance(dtypes[c], _NUMERIC):
            num = F.col(c).cast("double")
            aggs.append(F.min(num).alias(f"_mi_{c}"))
            aggs.append(F.max(num).alias(f"_ma_{c}"))
            aggs.append(
                (F.sum(num.cast("decimal(25,6)")).cast("double") / F.count(num))
                .alias(f"_me_{c}")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"_mi_{c}"))
            aggs.append(F.lit(None).cast("double").alias(f"_ma_{c}"))
            aggs.append(F.lit(None).cast("double").alias(f"_me_{c}"))
    one = df.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args.append(f"'{c}'")
        for p in ("_n_", "_nn_", "_nd_", "_mi_", "_ma_", "_me_"):
            stack_args.append(f"`{p}{c}`")
    expr = (
        f"stack({len(cols)}, {', '.join(stack_args)}) as "
        "(col_name, n_rows, n_null, n_distinct, min_num, max_num, mean_num)"
    )
    return one.select(F.expr(expr)).orderBy("col_name")


def schema_drift(
    old: DataFrame,
    new: DataFrame,
    cols_old: list[str] | None = None,
    cols_new: list[str] | None = None,
) -> DataFrame:
    """Profile-level drift between two snapshots of a table — the
    did-the-new-drop-change-shape audit run before promoting a crawl:
    per column, presence (added/removed/common), null-fraction on
    each side, the distinct-count ratio, and the numeric mean shift.

    Plan: each side is ONE ``profile_table`` aggregate pass (single
    scan, Expand-shared multi-distinct); the drift join touches
    |columns| rows.  Nothing scales with row count beyond the two
    profile scans.
    """
    def side(df: DataFrame, cols, prefix: str) -> DataFrame:
        p = profile_table(df, cols)
        return p.select(
            "col_name",
            F.col("n_rows").alias(f"{prefix}_rows"),
            F.col("n_null").alias(f"{prefix}_null"),
            F.col("n_distinct").alias(f"{prefix}_distinct"),
            F.col("mean_num").alias(f"{prefix}_mean"),
        )

    j = side(old, cols_old, "o").join(side(new, cols_new, "n"), "col_name", "full")
    status = (
        F.when(F.col("o_rows").isNull(), "added")
        .when(F.col("n_rows").isNull(), "removed")
        .otherwise("common")
    )
    return j.select(
        "col_name",
        status.alias("status"),
        F.round(F.col("o_null") / F.col("o_rows"), 6).alias("null_frac_old"),
        F.round(F.col("n_null") / F.col("n_rows"), 6).alias("null_frac_new"),
        F.col("o_distinct").alias("distinct_old"),
        F.col("n_distinct").alias("distinct_new"),
        F.when(
            F.col("o_distinct") > 0,
            F.round(F.col("n_distinct") / F.col("o_distinct"), 6),
        ).alias("distinct_ratio"),
        F.round(F.col("n_mean") - F.col("o_mean"), 6).alias("mean_shift"),
    ).orderBy("col_name")


def check_expectations(
    df: DataFrame, rules: dict[str, "F.Column"]
) -> DataFrame:
    """Rule-based expectations audit (the Deequ/Great-Expectations
    check suite shape): each rule is a per-row boolean Column that
    must hold; the result is one row per rule with
    (rule, n_rows, n_violations, violation_rate, passed).

    ONE aggregate pass over the data — every rule becomes a
    conditional SUM in the same projection (map-side combined, no
    extra scans, no shuffle beyond the single global aggregate of
    |rules| longs) — then a stack() unpivot of the 1-row result.
    A NULL rule result counts as a violation (SQL three-valued
    logic would otherwise silently pass nulls).
    """
    if not rules:
        raise ValueError("check_expectations: at least one rule")
    for name in rules:  # names are spliced into stack() SQL
        if not name.replace("_", "").isalnum():
            raise ValueError(f"rule name must be alphanumeric_: {name!r}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(
                F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)
            ).alias(f"__v_{name}")
        )
    one = df.agg(*aggs)
    pairs = ", ".join(
        f"'{name}', __v_{name}" for name in rules
    )
    return (
        one.select(
            F.col("__n"),
            F.expr(f"stack({len(rules)}, {pairs}) AS (rule, n_violations)"),
        )
        .select(
            "rule",
            F.col("__n").alias("n_rows"),
            "n_violations",
            F.round(F.col("n_violations") / F.col("__n"), 6)
            .alias("violation_rate"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("rule")
    )


# Smoothing that keeps an empty PSI bin's log finite.
PSI_EPS = 1e-6


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    n_bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the distribution-shape drift gate that complements
    ``schema_drift``'s mean/null checks: equal-width bins over a
    fixed range, per-bin population fractions p (old) and q (new),

        psi_term_i = (q_i − p_i) · ln((q_i + ε) / (p_i + ε))
        psi        = Σ_i psi_term_i

    (ε = ``PSI_EPS`` keeps empty bins finite; the classic reading: psi < 0.1
    stable, 0.1–0.25 drifting, > 0.25 shifted).  Values outside
    [lo, hi) clamp into the edge bins so both snapshots always
    account for their full mass.

    ``lo``/``hi`` default to the OLD snapshot's min/max — one
    bounded 2-value aggregate; pass literals to skip that scan and
    make the binning reproducible across rounds (the monitoring
    posture: freeze the bin edges with the baseline).

    Scale shape: one bin-count aggregate per side (≤ ``n_bins``
    result rows each), a full outer join of the two tiny count
    tables, and the 1-row total broadcast back onto the per-bin
    frame.  Output: (bin, lo_edge, hi_edge, p_old, q_new, psi_term,
    psi) — per-bin terms localize WHERE the mass moved, psi repeats
    the headline number on every row.  Output is SPARSE: a bin empty
    in BOTH snapshots contributes exactly 0 to psi and emits no row.
    """
    if lo is None or hi is None:
        row = old.agg(
            F.min(F.col(value_col).cast("double")).alias("_lo"),
            F.max(F.col(value_col).cast("double")).alias("_hi"),
        ).first()
        lo = float(row["_lo"]) if lo is None else lo
        hi = float(row["_hi"]) if hi is None else hi
    if not hi > lo:
        raise ValueError(f"psi_drift: need hi > lo, got [{lo}, {hi})")
    width = (hi - lo) / n_bins

    def binned(df: DataFrame, side: str) -> DataFrame:
        b = F.floor((F.col(value_col).cast("double") - lo) / width)
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
        return (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(b.cast("long").alias("bin"))
            .agg(F.count(F.lit(1)).alias(f"c_{side}"))
        )

    j = binned(old, "old").join(binned(new, "new"), "bin", "full")
    # j is ≤ n_bins rows but carries both sides' scan lineage; the
    # totals, the per-bin projection and the psi rollup would each
    # re-evaluate it (8 scans in the static plan) — one eager
    # materialization scans each side once (r12, guide §5)
    j = j.localCheckpoint(eager=True)
    tot = j.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new")
    )
    per = (
        j.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * width).alias("lo_edge"),
            (F.lit(lo) + (F.col("bin") + 1) * width).alias("hi_edge"),
            (F.coalesce("c_old", F.lit(0)) / F.col("n_old")).alias("_p"),
            (F.coalesce("c_new", F.lit(0)) / F.col("n_new")).alias("_q"),
        )
        .withColumn(
            "_term",
            (F.col("_q") - F.col("_p"))
            * F.log((F.col("_q") + PSI_EPS) / (F.col("_p") + PSI_EPS)),
        )
    )
    total = per.agg(
        F.sum(F.col("_term").cast("decimal(30,15)"))
        .cast("double")
        .alias("_psi")
    )
    return per.crossJoin(F.broadcast(total)).select(
        "bin",
        F.round("lo_edge", 6).alias("lo_edge"),
        F.round("hi_edge", 6).alias("hi_edge"),
        F.round("_p", 6).alias("p_old"),
        F.round("_q", 6).alias("q_new"),
        F.round("_term", 6).alias("psi_term"),
        F.round("_psi", 6).alias("psi"),
    )


def mutual_information(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Mutual information between two categorical columns, with the
    per-cell PMI decomposition — the dependence audit behind feature
    selection and leakage checks ("does `source` already determine
    `label`?").  Natural-log units.

    Output: one row per observed (x, y) cell —
    (x, y, n_xy, p_xy, pmi, mi_term) — plus the headline numbers
    repeated on every row: ``mi`` = Σ mi_term, ``h_x``/``h_y`` =
    marginal entropies, ``nmi`` = mi / sqrt(h_x·h_y) (0 when either
    entropy is 0).  All floats rounded to 6 decimals.

    Scale shape: ONE aggregate over the scan builds the joint table
    (≤ |X|·|Y| rows — tiny after aggregation); marginals and totals
    derive from the joint frame, never from a rescan; the 1-row
    totals broadcast back.  Term sums go through decimal(30,15) so
    the result is partition-order-insensitive (same recipe as
    ``psi_drift``).
    """
    joint = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).cast("string").alias("x"),
            F.col(y_col).cast("string").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    # the joint table is ≤ |X|·|Y| rows but its lineage is the full
    # scan: every consumer (nx, ny, tot, the per-cell join) would
    # re-evaluate it — eager materialization scans the data ONCE
    # (r12, guide §5; 12 scans → 1 in the static plan)
    joint = joint.localCheckpoint(eager=True)
    nx = joint.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    ny = joint.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").alias("n"))

    def _entropy(cnt: str) -> Column:
        p = F.col(cnt) / F.col("n")
        return (
            F.sum((-p * F.log(p)).cast("decimal(30,15)"))
            .cast("double")
        )

    hx = nx.crossJoin(F.broadcast(tot)).agg(_entropy("n_x").alias("h_x"))
    hy = ny.crossJoin(F.broadcast(tot)).agg(_entropy("n_y").alias("h_y"))

    per = (
        joint.join(nx, "x")
        .join(ny, "y")
        .crossJoin(F.broadcast(tot))
        .withColumn("_p_xy", F.col("n_xy") / F.col("n"))
        .withColumn(
            "_pmi",
            # ratio in doubles (never long×long — overflow-safe at any N)
            F.log(
                (F.col("n_xy").cast("double") * F.col("n"))
                / (F.col("n_x").cast("double") * F.col("n_y"))
            ),
        )
        .withColumn("_term", F.col("_p_xy") * F.col("_pmi"))
    )
    mi = per.agg(
        F.sum(F.col("_term").cast("decimal(30,15)")).cast("double").alias("_mi")
    )
    head = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy)).select(
        "_mi",
        "h_x",
        "h_y",
        F.when(
            (F.col("h_x") > 0) & (F.col("h_y") > 0),
            F.col("_mi") / F.sqrt(F.col("h_x") * F.col("h_y")),
        ).otherwise(F.lit(0.0)).alias("_nmi"),
    )
    return per.crossJoin(F.broadcast(head)).select(
        "x",
        "y",
        "n_xy",
        F.round("_p_xy", 6).alias("p_xy"),
        F.round("_pmi", 6).alias("pmi"),
        F.round("_term", 6).alias("mi_term"),
        F.round("_mi", 6).alias("mi"),
        F.round("h_x", 6).alias("h_x"),
        F.round("h_y", 6).alias("h_y"),
        F.round("_nmi", 6).alias("nmi"),
    )


def auc_score(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """ROC-AUC of a numeric score against a boolean label by the
    rank-sum (Mann-Whitney U) identity, with exact tie handling —
    the standard eval for any scorer this engine trains or applies
    (NB domain classifier, quality/LM scores, dedup thresholds):

        AUC = [ Σ_s n_pos(s)·n_neg_below(s) + ½ Σ_s n_pos(s)·n_neg(s) ]
              / (P·N)

    summed over DISTINCT score values s.  Exactly the probability a
    random positive outranks a random negative (ties count ½) — no
    curve interpolation, no binning.

    Scale shape: one groupBy shuffle reduces the data to per-distinct-
    score counts; the cumulative negatives-below count uses
    ``ranking.global_running_sum`` (range partition + bounded offset
    collect — never a single-partition window); a 1-row aggregate
    finishes.  All arithmetic is integer (decimal-38 sums) until the
    final division, so the result is partition-order-exact.

    Output: one row (n_pos, n_neg, n_scores, auc) — auc NULL when
    either class is empty, rounded to 6 decimals.
    """
    from .ranking import global_running_sum

    lab = F.col(label_col).cast("boolean")
    g = (
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .groupBy(F.col(score_col).cast("double").alias("s"))
        .agg(
            F.sum(F.when(lab, 1).otherwise(0)).alias("n_pos"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("n_neg", F.col("n") - F.col("n_pos"))
    )
    r = global_running_sum(
        g, ["s"], "n_neg", out_col="neg_below", exclusive=True
    )
    tot = r.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.sum(
            (F.col("n_pos") * F.col("neg_below")).cast("decimal(38,0)")
        ).alias("_wins"),
        F.sum((F.col("n_pos") * F.col("n_neg")).cast("decimal(38,0)")).alias(
            "_ties"
        ),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        "n_scores",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (
                    F.col("_wins").cast("double")
                    + F.lit(0.5) * F.col("_ties").cast("double")
                )
                / (F.col("n_pos").cast("double") * F.col("n_neg")),
                6,
            ),
        ).alias("auc"),
    )


def chi_square(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Pearson chi-square independence test between two categorical
    columns, plus Cramér's V — the frequentist companion to
    ``mutual_information`` (same contingency table, test-statistic
    view): V = sqrt(chi2 / (n · min(|X|−1, |Y|−1))) ∈ [0, 1].

    Output: ONE row (n, n_x, n_y, dof, chi2, cramers_v), floats
    rounded to 6 decimals.  The p-value needs the chi-square CDF
    (not SQL-expressible); downstream callers threshold the statistic
    against their critical value.

    Scale shape: identical to ``mutual_information`` — one aggregate
    builds the joint table, marginals derive from it, terms sum
    through decimal(30,15) for partition-order exactness.  Cells with
    zero observed count still contribute e = nx·ny/n to chi2 — the
    missing-cell mass is added in closed form (Σ over missing cells
    of e = n − Σ over present cells of e), never by materializing the
    |X|·|Y| cross join.
    """
    joint = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).cast("string").alias("x"),
            F.col(y_col).cast("string").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    # the joint table is ≤ |X|·|Y| rows but its lineage is the full
    # scan: every consumer (nx, ny, tot, the per-cell join) would
    # re-evaluate it — eager materialization scans the data ONCE
    # (r12, guide §5; 12 scans → 1 in the static plan)
    joint = joint.localCheckpoint(eager=True)
    nx = joint.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    ny = joint.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.agg(
        F.sum("n_xy").alias("n"),
        F.count_distinct("x").alias("card_x"),
        F.count_distinct("y").alias("card_y"),
    )
    per = (
        joint.join(nx, "x")
        .join(ny, "y")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_e",
            (F.col("n_x").cast("double") * F.col("n_y")) / F.col("n"),
        )
        .withColumn(
            "_term",
            (F.col("n_xy") - F.col("_e")) * (F.col("n_xy") - F.col("_e"))
            / F.col("_e"),
        )
    )
    # observed cells: Σ (o−e)²/e; absent cells (o=0): Σ e, computed
    # as n − Σ_present e  (both sums decimal-exact)
    agg = per.agg(
        F.sum(F.col("_term").cast("decimal(30,15)")).cast("double").alias("_t"),
        F.sum(F.col("_e").cast("decimal(30,15)")).cast("double").alias("_e_sum"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("card_x").cast("long").alias("n_x"),
            F.col("card_y").cast("long").alias("n_y"),
            ((F.col("card_x") - 1) * (F.col("card_y") - 1))
            .cast("long")
            .alias("dof"),
            (F.col("_t") + (F.col("n") - F.col("_e_sum"))).alias("_chi2"),
            F.least(F.col("card_x"), F.col("card_y")).alias("_mincard"),
        )
        .select(
            "n",
            "n_x",
            "n_y",
            "dof",
            F.round("_chi2", 6).alias("chi2"),
            F.when(
                (F.col("dof") > 0) & (F.col("_chi2") >= 0),
                F.round(
                    F.sqrt(
                        F.col("_chi2")
                        / (F.col("n") * (F.col("_mincard") - 1))
                    ),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("cramers_v"),
        )
    )


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford first-digit conformity audit — the data-forensics
    check for fabricated or truncated numeric columns: naturally
    occurring multi-scale magnitudes follow P(d) = log10(1 + 1/d);
    invoice fraud, unit mix-ups, and synthetic fills don't.

    First significant digit of |v| is floor(|v| / 10^floor(log10|v|))
    (zeros and NULLs excluded; both engines' log10 is exact at powers
    of ten, and the entry's oracle applies the identical expression).
    Output: one row per digit 1-9 — (digit, n, obs_frac,
    expected_frac, diff) — with the corpus-level MAD (mean absolute
    deviation, the standard Benford conformity score: < 0.006 close,
    > 0.015 nonconformity) repeated on every row.

    One aggregate over the scan (≤ 9 groups), 1-row totals broadcast
    back; decimal-exact fraction sums.
    """
    v = F.abs(F.col(value_col).cast("double"))
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("long")
    counts = (
        df.filter(F.col(value_col).isNotNull() & (v > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    digits = df.sparkSession.range(1, 10).select(F.col("id").alias("digit"))
    full = digits.join(counts, "digit", "left").select(
        "digit", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    tot = full.agg(F.sum("n").alias("_t"))
    per = (
        full.crossJoin(F.broadcast(tot))
        .withColumn("obs_frac", F.col("n") / F.col("_t"))
        .withColumn(
            "expected_frac",
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")),
        )
        .withColumn("_ad", F.abs(F.col("obs_frac") - F.col("expected_frac")))
    )
    mad = per.agg(
        (
            F.sum(F.col("_ad").cast("decimal(30,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_mad")
    )
    return per.crossJoin(F.broadcast(mad)).select(
        "digit",
        "n",
        F.round("obs_frac", 6).alias("obs_frac"),
        F.round("expected_frac", 6).alias("expected_frac"),
        F.round(F.col("obs_frac") - F.col("expected_frac"), 6).alias("diff"),
        F.round("_mad", 6).alias("mad"),
    )


def gini(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Gini concentration coefficient of a nonnegative value column —
    the corpus-concentration headline ("how skewed is token mass
    across sources / engagement across users"): 0 = perfectly even,
    → 1 = one entity holds everything.  Rank-sum identity over the
    ascending sort (x₁ ≤ … ≤ x_n):

        G = 2·Σ i·xᵢ / (n·Σ xᵢ) − (n + 1)/n

    ``tiebreak_col`` (unique) totalizes the order so ranks — and the
    result — are deterministic and engine-portable.  (Equal values
    permuted among tied ranks leave Σ i·xᵢ unchanged, so the tiebreak
    affects nothing but determinism of intermediate frames.)

    Scale shape: ranks come from ``ranking.global_row_number`` (range
    partition + bounded offset collect — no single-partition sort);
    one decimal-summed aggregate finishes.  Callers pass PRE-
    AGGREGATED per-entity values (e.g. one row per user), so n is
    entity count.  Output: one row (n, total, gini).
    """
    from .ranking import global_row_number

    v = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(value_col).cast("double").alias("x"),
            F.col(tiebreak_col).alias("_tb"),
        )
    )
    ranked = global_row_number(v, ["x", "_tb"], rank_col="_i")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(30,15)")).cast("double").alias("total"),
        F.sum((F.col("_i") * F.col("x")).cast("decimal(30,15)"))
        .cast("double")
        .alias("_ws"),
    )
    return agg.select(
        "n",
        F.round("total", 6).alias("total"),
        F.when(
            (F.col("n") > 0) & (F.col("total") > 0),
            F.round(
                F.lit(2.0) * F.col("_ws") / (F.col("n") * F.col("total"))
                - (F.col("n") + F.lit(1.0)) / F.col("n"),
                6,
            ),
        ).alias("gini"),
    )


def key_skew_profile(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Join/shuffle-key skew audit — the measurement that decides
    between a plain shuffle, ``skew.salted_join``, and AQE skew
    handling BEFORE the job runs at scale: for each candidate key
    column, one row with

      (key_col, n_rows, n_nulls, n_keys, top1_share, top10_share,
       gini)

    where the shares are the heaviest key's (and heaviest 10 keys')
    fraction of non-null rows and ``gini`` is the concentration of
    the per-key count distribution (the ``gini`` operator's rank-sum
    identity over counts, tie-broken by key for determinism).
    top1_share near 1 → one hot key (salt it); high gini with low
    top1 → broad skew (AQE handles it); gini near 0 → uniform keys.

    Edge contract (ADVICE r8): an ALL-NULL key column still emits a
    row — n_keys=0 with NULL shares/gini (global aggregates always
    return one row) — whereas a GROUP-BY-based SQL twin would emit
    none; oracle-gated uses must either profile columns with at
    least one non-null value or left-join the twin's CTEs from the
    totals frame.

    Scale shape, per column: ONE partial-aggregated shuffle on the
    key for the count frame; top-10 via TakeOrderedAndProject (never
    a global sort); gini ranks via ``ranking.global_row_number``
    (range partition + bounded offset collect).  The per-column
    result frames are one row each and union driver-free; column
    count bounds the plan, not data size."""
    from .ranking import global_row_number

    outs: list[DataFrame] = []
    for key in key_cols:
        base = df.select(F.col(key).cast("string").alias("_k"))
        totals = base.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("_k").isNull()).alias("n_nulls"),
        )
        counts = (
            base.filter(F.col("_k").isNotNull())
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_c"))
            # lazy checkpoint: three consumers (stats, top-10, gini
            # ranks) would otherwise each re-run the corpus-wide
            # count shuffle; materialized once, the frame is
            # n_keys-sized — the thing being measured, not the corpus
            .localCheckpoint(eager=False)
        )
        stats = counts.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("_c").alias("_nn"),
            F.max("_c").alias("_max_c"),
        )
        top10 = (
            counts.orderBy(F.col("_c").desc(), F.col("_k").asc())
            .limit(10)
            .agg(F.sum("_c").alias("_top10"))
        )
        ranked = global_row_number(
            counts.select(F.col("_c").cast("double").alias("x"), F.col("_k").alias("_tb")),
            ["x", "_tb"],
            rank_col="_i",
        )
        g = ranked.agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum(F.col("x").cast("decimal(30,15)")).cast("double").alias("_tot"),
            F.sum((F.col("_i") * F.col("x")).cast("decimal(30,15)"))
            .cast("double")
            .alias("_ws"),
        )
        row = (
            totals.crossJoin(stats)
            .crossJoin(top10)
            .crossJoin(g)
            .select(
                F.lit(key).alias("key_col"),
                "n_rows",
                "n_nulls",
                "n_keys",
                F.round(F.col("_max_c") / F.col("_nn"), 6).alias("top1_share"),
                F.round(F.col("_top10") / F.col("_nn"), 6).alias("top10_share"),
                F.when(
                    (F.col("_n") > 0) & (F.col("_tot") > 0),
                    F.round(
                        F.lit(2.0) * F.col("_ws") / (F.col("_n") * F.col("_tot"))
                        - (F.col("_n") + F.lit(1.0)) / F.col("_n"),
                        6,
                    ),
                ).alias("gini"),
            )
        )
        outs.append(row)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def pr_curve(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Precision-recall curve points — the threshold-picking companion
    to ``auc_score`` (one number says WHETHER the scorer ranks well;
    the curve says WHERE to cut): one row per DISTINCT score s,
    scoring the classifier "predict positive iff score ≥ s":

        tp(s) = positives with score ≥ s     fp(s) = negatives ≥ s
        precision = tp/(tp+fp)   recall = tp/P   f1 = 2PR/(P+R)

    Scale shape: the same reduction as auc_score — one groupBy to
    per-distinct-score counts, then INCLUSIVE running sums under the
    DESCENDING score order via ``ranking.global_running_sum`` (the
    range partitioner handles descending order columns; still no
    single-partition window).  All counts integer-exact; ratios
    round to 6.

    Output: (score, tp, fp, fn, precision, recall, f1) ordered by
    descending score — recall is non-decreasing down the frame.
    """
    from .ranking import global_running_sum

    lab = F.col(label_col).cast("boolean")
    g = (
        df.filter(F.col(score_col).isNotNull() & lab.isNotNull())
        .groupBy(F.col(score_col).cast("double").alias("score"))
        .agg(
            F.sum(F.when(lab, 1).otherwise(0)).cast("long").alias("n_pos"),
            F.sum(F.when(lab, 0).otherwise(1)).cast("long").alias("n_neg"),
        )
    )
    # g (one row per distinct score) feeds global_running_sum AND
    # the totals aggregate — two static evaluations of the scan
    # lineage (the ks_test shape); one eager materialization runs it
    # once (r12, guide §5; A/B flat at sf0.1).
    g = g.localCheckpoint(eager=True)
    with_fp = global_running_sum(
        g,
        [F.col("score").desc()],
        ["n_pos", "n_neg"],
        out_col=["tp", "fp"],
    )
    totals = g.agg(F.sum("n_pos").cast("long").alias("_p"))
    prec = F.when(
        (F.col("tp") + F.col("fp")) > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    )
    rec = F.when(F.col("_p") > 0, F.col("tp") / F.col("_p"))
    return (
        with_fp.crossJoin(F.broadcast(totals))
        .select(
            "score",
            "tp",
            "fp",
            (F.col("_p") - F.col("tp")).cast("long").alias("fn"),
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(
                F.when(
                    (F.col("tp") > 0),
                    2.0 * prec * rec / (prec + rec),
                ).when((F.col("_p") > 0) & ((F.col("tp") + F.col("fp")) > 0), F.lit(0.0)),
                6,
            ).alias("f1"),
        )
        .orderBy(F.col("score").desc())
    )


def poisson1_thresholds_48() -> list[int]:
    """CDF of Poisson(λ=1) at k = 0..8, scaled to 48-bit integer
    thresholds: a uniform 48-bit draw u maps to count
    #{k : u ≥ T_k} — the inverse-CDF step of the deterministic
    Poisson bootstrap.  Shared verbatim with the DuckDB oracle twins
    (integer literals — no float rounding can diverge).  The k > 8
    tail mass is ~1.1e-6 (truncated identically in both engines)."""
    import math

    out: list[int] = []
    cdf, term = 0.0, math.exp(-1.0)
    for k in range(9):
        cdf += term
        out.append(math.floor(cdf * (1 << 48)))
        term /= k + 1
    return out


def poisson1_thresholds_hex() -> list[str]:
    """The same thresholds as 12-char lowercase hex strings: the
    first-12-hex md5 substring compares LEXICOGRAPHICALLY equal to
    its numeric order (fixed width, lowercase, binary collation in
    both Spark and DuckDB), so the count chain never needs the
    hex→BIGINT conv at all — measured 1.6× faster than conv on the
    1M-row draw frame at sf0.1."""
    return [format(t, "012x") for t in poisson1_thresholds_48()]


# ``bootstrap_ci`` reports the (1 − BOOT_ALPHA) = 95% interval.
BOOT_ALPHA = 0.05


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_resamples: int = 200,
    salt: str = "boot-v1",
) -> DataFrame:
    """Deterministic bootstrap confidence interval for the MEAN of a
    value column — the error bar every eval/quality headline number
    should carry ("quality went 0.62 → 0.64" means nothing without
    one).  Returns ONE row: (n, mean, ci_lo, ci_hi, n_resamples).

    Resampling is the POISSON BOOTSTRAP (Chamandy et al. 2012, "The
    estimation of uncertainty at Google-scale" formulation): row i's
    multiplicity in resample b is an independent Poisson(1) count
    derived from md5(salt:b:id) — the first 12 hex digits as a
    48-bit uniform, inverted through integer CDF thresholds
    (``poisson1_thresholds_48``).  Resample b's mean is
    Σ cnt·x / Σ cnt (the standard ratio normalization — resample
    size is ~Poisson(n), not exactly n).  The interval is a pure
    function of (data, salt): reproducible across runs, engines and
    partitionings, and value-level oracle-checkable (no RNG state,
    no row indexing).  ``id_col`` must be unique per row (duplicate
    ids would draw identical counts).  Percentile bounds use the
    nearest-rank convention on the sorted resample means
    (floor(q·(B−1)) zero-based — exact, no interpolation).

    Cross-engine exactness: values are carried as integer
    MICRO-UNITS (floor(x·1e6 + 0.5)) and every mean is an integer
    half-up division ((2·Σu + w) div (2·w) on the positive
    magnitude) — no float rounding anywhere, so integer-valued
    inputs (token counts) can never land on the 6-decimal midpoints
    where Spark round and binary-double round diverge (the r8
    seasonal_decompose lesson).

    Scale shape (r9 — VERDICT r8 item 4): ONE corpus pass — explode
    B counts per row (codegen md5 + threshold chain, no Python) into
    a map-side-combined aggregate on the B resample keys; the only
    shuffle is B·n_partitions partial rows down to B rows.  No
    global row-number machinery, no indexed broadcast, no B·n join
    frame — the former plan broadcast the whole value frame onto the
    draws, which capped it at broadcast size.  This shape runs on
    any corpus the scan itself can handle."""
    thresholds = poisson1_thresholds_hex()
    b_col = F.explode(
        F.sequence(F.lit(0), F.lit(n_resamples - 1))
    ).alias("b")
    v = df.filter(F.col(value_col).isNotNull()).select(
        F.floor(F.col(value_col).cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("xu"),
        F.col(id_col).cast("string").alias("_id"),
    )
    # v feeds BOTH the B-resample explode and the n/Σx stats
    # aggregate — two static evaluations of the value lineage (a
    # tokenize scan in the doc-length entry); the frame is narrow
    # (n_rows × (long, string)), so one eager materialization runs
    # the corpus pass once (r12, guide §5; A/B flat at sf0.1 where
    # the ×B explode dominates).
    v = v.localCheckpoint(eager=True)
    # 12 lowercase hex chars compare lexicographically == numerically;
    # codegen CSE evaluates the md5 subtree once per row despite the
    # nine comparisons (measured: inline chain == single-md5 cost)
    u_hex = F.substring(
        F.md5(
            F.concat(
                F.lit(salt + ":"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("_id"),
            )
        ),
        1,
        12,
    )
    cnt = functools.reduce(
        lambda a, t: a + (u_hex >= F.lit(t)).cast("int"),
        thresholds,
        F.lit(0),
    )
    per_b = (
        v.select("xu", "_id", b_col)
        .select("b", (cnt.cast("long") * F.col("xu")).alias("_cxu"), cnt.alias("_c"))
        .groupBy("b")
        .agg(
            F.sum(F.col("_cxu").cast("decimal(38,0)")).alias("_su"),
            F.sum("_c").cast("long").alias("_w"),
        )
        .filter(F.col("_w") > 0)
    )
    m_u = (
        F.when(
            F.col("_su") >= 0,
            F.expr(
                "CAST((2 * _su + _w) AS DECIMAL(38,0)) "
                "div CAST(2 * _w AS DECIMAL(38,0))"
            ),
        )
        .otherwise(
            -F.expr(
                "CAST((2 * -_su + _w) AS DECIMAL(38,0)) "
                "div CAST(2 * _w AS DECIMAL(38,0))"
            )
        )
        .cast("long")
    )
    means = per_b.select(m_u.alias("mu"))
    lo_rank = int((BOOT_ALPHA / 2) * (n_resamples - 1)) + 1
    hi_rank = int((1 - BOOT_ALPHA / 2) * (n_resamples - 1)) + 1
    from pyspark.sql import Window as _W

    ranked = means.withColumn(
        "_r", F.row_number().over(_W.orderBy(F.col("mu").asc()))
    )
    bounds = ranked.agg(
        (F.max(F.when(F.col("_r") == lo_rank, F.col("mu"))) / 1e6).alias("ci_lo"),
        (F.max(F.when(F.col("_r") == hi_rank, F.col("mu"))) / 1e6).alias("ci_hi"),
    )
    mean_u = (
        F.when(
            F.col("_sxu") >= 0,
            F.expr(
                "CAST((2 * _sxu + n) AS DECIMAL(38,0)) "
                "div CAST(2 * n AS DECIMAL(38,0))"
            ),
        )
        .otherwise(
            -F.expr(
                "CAST((2 * -_sxu + n) AS DECIMAL(38,0)) "
                "div CAST(2 * n AS DECIMAL(38,0))"
            )
        )
        .cast("long")
    )
    stats = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("_sxu"),
    ).select(
        "n",
        F.when(F.col("n") > 0, mean_u / 1e6).alias("mean"),
    )
    return stats.crossJoin(bounds).select(
        "n", "mean", "ci_lo", "ci_hi", F.lit(n_resamples).alias("n_resamples")
    )


def calibration_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected calibration error — the
    complement to ``auc_score`` (ranking) and ``pr_curve``
    (thresholding): a well-RANKED scorer can still be badly
    CALIBRATED, and mixture/curriculum weights built on raw scores
    inherit that bias.  Scores are cut into ``n_bins`` equal-width
    bins over [0, 1] (clamped; the probability convention), and each
    bin reports observed positive rate vs mean score, plus the
    bin's |gap| contribution to

        ECE = Σ_bins (n_bin / n) · |obs_rate − mean_score|

    repeated on every row (the standard one-number summary).
    Output: (bin, lo_edge, hi_edge, n, mean_score, obs_rate, gap,
    ece) per non-empty bin.

    Cross-engine exactness: mean_score/obs_rate are decimal-summed
    ratios rounded 6; the ECE sums |gap|-weighted integer counts in
    one final 1-row aggregate (decimal) — no float-order sensitivity
    anywhere.  Scale: ONE partial-aggregated shuffle on the bin id
    (≤ n_bins result rows), one broadcast total."""
    b = (
        F.when(F.col("_s") >= 1.0, F.lit(n_bins - 1))
        .otherwise(F.floor(F.col("_s") * n_bins))
        .cast("int")
    )
    base = df.select(
        F.greatest(F.least(F.col(score_col).cast("double"), F.lit(1.0)), F.lit(0.0)).alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    bins = (
        base.withColumn("bin", b)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_s").cast("decimal(30,15)")).alias("_ss"),
            F.sum("_y").alias("_sy"),
        )
        .select(
            "bin",
            F.round(F.col("bin") / F.lit(float(n_bins)), 6).alias("lo_edge"),
            F.round((F.col("bin") + 1) / F.lit(float(n_bins)), 6).alias("hi_edge"),
            "n",
            F.round(F.col("_ss").cast("double") / F.col("n"), 6).alias("mean_score"),
            F.round(F.col("_sy") / F.col("n").cast("double"), 6).alias("obs_rate"),
        )
        .withColumn("gap", F.round(F.abs(F.col("obs_rate") - F.col("mean_score")), 6))
    )
    tot = bins.agg(
        F.sum("n").alias("_n"),
        F.sum((F.col("gap") * F.col("n")).cast("decimal(30,15)")).alias("_wg"),
    ).select(
        F.round(F.col("_wg").cast("double") / F.col("_n"), 6).alias("ece")
    )
    return bins.crossJoin(F.broadcast(tot))


def ks_test(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — the exact
    distribution-shift gate next to ``psi_drift``'s binned
    approximation: D = sup_x |ECDF_old(x) − ECDF_new(x)| computed at
    EVERY distinct observed value (where the supremum is attained),
    plus the classic large-sample significance scale
    c = D·√(n·m/(n+m)) (reject at α=0.05 when c > 1.358, α=0.01 when
    c > 1.628 — reported as the scaled statistic, the caller picks
    the cut).  One row: (n_old, n_new, ks_d, ks_scaled).

    Exactness: counts per distinct value from ONE union + pivot-style
    conditional aggregate; ECDFs via the range-partitioned
    ``global_running_sum`` (no single-partition window); D is a max
    over exact integer-ratio differences — no float-order
    sensitivity (the ratio difference is computed as a single
    expression |co·m − cn·n| / (n·m) in INTEGER numerators).
    """
    from .ranking import global_running_sum

    o = old.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    nw = new.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    per_v = (
        o.withColumn("_o", F.lit(1))
        .withColumn("_n", F.lit(0))
        .unionByName(nw.withColumn("_o", F.lit(0)).withColumn("_n", F.lit(1)))
        .groupBy("v")
        .agg(F.sum("_o").alias("co"), F.sum("_n").alias("cn"))
    )
    # per_v (narrow: one row per distinct value) feeds the running-sum
    # machinery AND the totals aggregate as separate jobs/subtrees —
    # eager materialization runs the two-scan union lineage once
    # (r12, guide §5; A/B 1.61s → 1.48s at sf0.1)
    per_v = per_v.localCheckpoint(eager=True)
    run = global_running_sum(
        per_v, order_by=["v"], weight_col=["co", "cn"], out_col=["ro", "rn"]
    )
    tot = per_v.agg(
        F.sum("co").cast("long").alias("n_old"),
        F.sum("cn").cast("long").alias("n_new"),
    )
    d = (
        run.crossJoin(F.broadcast(tot))
        .select(
            "n_old",
            "n_new",
            (
                F.abs(
                    F.col("ro").cast("decimal(30,0)") * F.col("n_new")
                    - F.col("rn").cast("decimal(30,0)") * F.col("n_old")
                )
            ).alias("_num"),
        )
        .groupBy("n_old", "n_new")
        .agg(F.max("_num").alias("_dnum"))
    )
    return d.select(
        "n_old",
        "n_new",
        F.round(
            F.col("_dnum").cast("double") / (F.col("n_old") * F.col("n_new")).cast("double"),
            6,
        ).alias("ks_d"),
        F.round(
            (F.col("_dnum").cast("double") / (F.col("n_old") * F.col("n_new")).cast("double"))
            * F.sqrt(
                (F.col("n_old") * F.col("n_new")).cast("double")
                / (F.col("n_old") + F.col("n_new")).cast("double")
            ),
            6,
        ).alias("ks_scaled"),
    )


def join_cardinality(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str | None = None,
) -> DataFrame:
    """EXACT equi-join output cardinality WITHOUT running the join —
    |A ⋈ B| = Σ_k cA(k)·cB(k) over the two per-key count tables.
    The pre-flight sibling of ``key_skew_profile``: skew tells you
    HOW a join will shuffle, this tells you how big it comes out
    (the number that decides whether the downstream pipeline is
    feasible at all — a 10^13-row blowup is cheaper to discover from
    two aggregates than from a dead cluster).

    One row: (n_a, n_b, n_keys_a, n_keys_b, n_common_keys,
    join_rows, max_key_rows) where ``max_key_rows`` is the largest
    single key's contribution — the blowup culprit when join_rows
    explodes.

    Scale shape: one partial-aggregated count per side (key-space
    sized), an inner join of the two COUNT TABLES (not the data),
    and a 1-row aggregate; join_rows sums exact integer products in
    DECIMAL so 10^13+ doesn't overflow a long silently."""
    key_b = key_b or key_a
    ca = (
        a.select(F.col(key_a).alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    cb = (
        b.select(F.col(key_b).alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    sa = ca.agg(F.sum("ca").alias("n_a"), F.count(F.lit(1)).alias("n_keys_a"))
    sb = cb.agg(F.sum("cb").alias("n_b"), F.count(F.lit(1)).alias("n_keys_b"))
    common = ca.join(cb, "k").select(
        (F.col("ca").cast("decimal(20,0)") * F.col("cb")).alias("_rows")
    )
    agg = common.agg(
        F.count(F.lit(1)).alias("n_common_keys"),
        F.coalesce(F.sum("_rows"), F.lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("join_rows"),
        F.coalesce(F.max("_rows"), F.lit(0).cast("decimal(20,0)"))
        .cast("long")
        .alias("max_key_rows"),
    )
    return sa.crossJoin(sb).crossJoin(agg).select(
        "n_a", "n_b", "n_keys_a", "n_keys_b", "n_common_keys",
        F.col("join_rows").cast("double").alias("join_rows"),
        "max_key_rows",
    )
