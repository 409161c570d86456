"""Temporal operators Spark lacks natively: as-of join, range join.

Spark has no ASOF JOIN; the composition here is the standard
union-and-window trick: tag both sides, union them, sort within the
``by`` key by time, and carry the most recent right-side values
forward with ``last(ignorenulls)``.  One shuffle on the ``by`` key —
the same cost as a sort-merge join — no Python, no range explosion.

DuckDB's native ``ASOF JOIN`` serves as the oracle for this operator
(see __spark_entry__.oracle_sql()["asof_last_click"]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    value_cols: list[str],
    strict: bool = True,
    direction: str = "backward",
    tolerance: float | None = None,
    tie_col: str | None = None,
) -> DataFrame:
    """Left as-of join (pandas ``merge_asof`` semantics): for each
    left row attach ``value_cols`` from the nearest right row matched
    on ``by``:

    - ``direction='backward'`` (default): latest right row with
      ``right.on < left.on`` (strict) / ``<=`` (non-strict) — the
      DuckDB native ``ASOF JOIN`` shape.
    - ``direction='forward'``: earliest right row with
      ``right.on > left.on`` (strict) / ``>=``.

    ``tolerance`` (same units as ``on``; SECONDS for timestamp
    columns) nulls the attachment when the matched right row is
    farther than that from the left row.  ``tie_col`` makes right
    rows sharing the boundary ``on`` deterministic: backward picks
    the LARGEST tie value, forward the SMALLEST (both are "the last
    row the carry saw" under their traversal order).  Unmatched left
    rows keep NULLs.

    Still ONE shuffle on the ``by`` key for every variant — the
    union-and-window carry, never a range-explosion join.  Output:
    all of ``left`` plus ``asof_<c>`` per value col.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    carry = list(value_cols)
    if tolerance is not None and on not in carry:
        carry.append(on)  # need the matched row's on to window the gap
    lcols = left.columns
    tagged_l = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_tie"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
            for c in carry
        ],
    )
    tagged_r = right.select(
        *[
            (F.col(c) if c in (on, by) else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in lcols
        ],
        F.lit(0).alias("_side"),
        (
            F.col(tie_col).cast("long") if tie_col else F.lit(0).cast("long")
        ).alias("_tie"),
        *[F.col(c).alias(f"_r_{c}") for c in carry],
    )
    # Traversal: backward walks on ASC (carry = latest earlier right
    # row), forward walks on DESC (carry = earliest later right row).
    # At equal on: strict → left sorts BEFORE right under either
    # traversal (side desc: 1,0) so the boundary right row is not yet
    # visible; non-strict → right first.  _tie asc means the LAST
    # right row the carry sees at a shared boundary is the largest
    # tie under backward and the smallest under forward (desc
    # traversal reverses it).
    on_order = F.col(on).asc() if direction == "backward" else F.col(on).desc()
    side_order = F.col("_side").desc() if strict else F.col("_side").asc()
    tie_order = (
        F.col("_tie").asc() if direction == "backward" else F.col("_tie").desc()
    )
    w = (
        Window.partitionBy(by)
        .orderBy(on_order, side_order, tie_order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = tagged_l.unionByName(tagged_r).select(
        *lcols,
        "_side",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in carry
        ],
    )
    out = filled.filter(F.col("_side") == 1).drop("_side")
    if tolerance is not None:
        lo, ro = F.col(on), F.col(f"asof_{on}")
        if "timestamp" in out.schema[on].dataType.simpleString():
            gap = (F.unix_micros(lo) - F.unix_micros(ro)) / 1e6
        else:
            gap = lo - ro
        if direction == "forward":
            gap = -gap
        ok = ro.isNotNull() & (gap <= F.lit(float(tolerance)))
        out = out.select(
            *lcols,
            *[
                F.when(ok, F.col(f"asof_{c}")).alias(f"asof_{c}")
                for c in value_cols
            ],
        )
    return out


def range_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    point_col: str,
    bin_width: int,
    by: list[str] | None = None,
    how: str = "left",
    interval_id: str | None = None,
) -> DataFrame:
    """Interval×point range join via coarse-bin equi-join.

    Spark plans a pure range predicate as a broadcast-nested-loop
    join — O(|L|·|R|) and undistributable.  The bin trick
    manufactures an equi-key: each interval explodes to the
    ``bin_width``-sized bins it covers, each point lands in exactly
    one bin, the join is a plain (skew-handleable, AQE-friendly)
    equi-join on the bin id, and the exact half-open predicate
    ``start < point ≤ end`` is re-checked after.  No duplicate
    pairs: a point exists in one bin only.  Pick ``bin_width`` ≈
    the typical interval length so intervals explode to ~2 bins.

    Columns must be numeric (callers convert timestamps with
    ``unix_micros`` for exact boundary semantics).  ``by`` adds
    optional extra equi-keys.  ``how='left'`` keeps intervals with
    no points (point columns null, exactly one row each) and needs
    ``interval_id`` — a unique interval key — for the backfill
    anti-join; 'inner' drops them.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    if how == "left" and interval_id is None:
        raise ValueError("how='left' requires interval_id")
    by = list(by or [])
    bins = F.sequence(
        F.floor(F.col(start_col) / bin_width).cast("long"),
        F.floor(F.col(end_col) / bin_width).cast("long"),
    )
    lb = intervals.withColumn("_lbin", F.explode(bins))
    rb = points.withColumn(
        "_rbin", F.floor(F.col(point_col) / bin_width).cast("long")
    )
    on = (
        (lb["_lbin"] == rb["_rbin"])
        & (rb[point_col] > lb[start_col])
        & (rb[point_col] <= lb[end_col])
    )
    for c in by:
        on = on & (lb[c] == rb[c])
    matched = lb.join(rb, on, "inner").drop(lb["_lbin"]).drop(rb["_rbin"])
    for c in by:
        matched = matched.drop(rb[c])
    if how == "inner":
        return matched
    point_fields = [f for f in points.schema.fields if f.name not in by]
    unmatched = intervals.join(
        matched.select(interval_id).distinct(), interval_id, "left_anti"
    ).select(
        "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in point_fields]
    )
    return matched.unionByName(unmatched)


def fill_gaps(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    fill: str = "ffill",
) -> DataFrame:
    """Time-series gap filling: densify each key's day series to a
    complete calendar between its own first and last day, then fill
    the holes — ``ffill`` carries the last observed value forward
    (level metrics), ``zero`` fills 0.0 (count/flow metrics),
    ``linear`` interpolates between the surrounding observations
    (sensor/level series where a straight line is the honest guess;
    values rounded to 6 decimals for engine-portable results).

    Input is one row per (key, day) — pre-aggregate first (e.g. a
    daily mean).  Output: (key, day, value, is_observed).

    Scale shape: the calendar grid comes from a per-key min/max
    aggregate (tiny) exploded through ``sequence()`` — the fan-out
    is each key's OWN span, not a global calendar cross join; the
    grid left-joins the observations on (key, day) and the forward
    fill is one ``last(value, ignoreNulls)`` running window — so the
    whole operator is two shuffles on the key (join + window), both
    AQE-coalesced.  A key's densified span lives in one task;
    multi-year × million-key grids stay distributed because the
    explode happens AFTER the keys are partitioned.
    """
    day = F.date_trunc("DAY", F.col(ts_col))
    obs = df.select(
        F.col(key_col).alias("key"), day.alias("day"),
        F.col(value_col).alias("value"),
    )
    grid = (
        obs.groupBy("key")
        .agg(F.min("day").alias("_lo"), F.max("day").alias("_hi"))
        .select(
            "key",
            F.explode(
                F.sequence("_lo", "_hi", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    joined = grid.join(obs, ["key", "day"], "left")
    if fill == "zero":
        filled = F.coalesce(F.col("value"), F.lit(0.0))
    elif fill == "linear":
        # prev/next observed (value, day) via running windows — the
        # interpolation needs both anchors, still just the one
        # key-partitioned sort the ffill path already pays (two
        # frames over the same Window partition plan as ONE Window
        # operator, so no extra shuffle).
        back = (
            Window.partitionBy("key")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fwd = (
            Window.partitionBy("key")
            .orderBy("day")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        obs_day = F.when(F.col("value").isNotNull(), F.col("day"))
        pv = F.last("value", ignorenulls=True).over(back)
        pd_ = F.last(obs_day, ignorenulls=True).over(back)
        nv = F.first("value", ignorenulls=True).over(fwd)
        nd = F.first(obs_day, ignorenulls=True).over(fwd)
        frac = F.datediff(F.col("day"), pd_) / F.datediff(nd, pd_)
        filled = F.round(
            F.when(F.col("value").isNotNull(), F.col("value"))
            .when(pv.isNull(), nv)
            .when(nv.isNull(), pv)
            .otherwise(pv + (nv - pv) * frac),
            6,
        )
    else:
        w = (
            Window.partitionBy("key")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = F.last("value", ignorenulls=True).over(w)
    return joined.select(
        F.col("key").alias(key_col),
        "day",
        filled.alias(value_col),
        F.col("value").isNotNull().alias("is_observed"),
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: list[str],
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """SCD Type-2 merge: apply a batch of attribute updates to a
    versioned dimension, closing superseded versions and opening new
    ones — the warehouse op behind every `dim_*` table with
    valid_from/valid_to columns.

    Semantics: closed history rows pass through untouched; each
    key's OPEN row and its updates merge into one timeline ordered
    by timestamp; an update whose attributes are null-safe-equal to
    the previous version is SUPPRESSED (no-op update, the classic
    SCD2 trap); each surviving version's ``valid_to`` is the next
    version's start (NULL for the newest).  Update timestamps are
    assumed unique per key within a batch and newer than the open
    row's ``valid_from``.

    Plan: one shuffle on the key — the change-detection lag window,
    the filter, and the validity lead window share the same
    partitioning, so Catalyst reuses the exchange; closed history is
    a pass-through union (no shuffle).  At 100 TB, updates are a
    daily trickle against a dimension orders of magnitude smaller
    than facts — the whole merge is one small-key window job.
    """
    out_cols = [key_col, *attr_cols, from_col, to_col]
    open_rows = current.filter(F.col(to_col).isNull()).select(
        key_col, *attr_cols, F.col(from_col).alias("_ts")
    )
    closed = current.filter(F.col(to_col).isNotNull()).select(*out_cols)
    cand = open_rows.unionByName(
        updates.select(key_col, *attr_cols, F.col(ts_col).alias("_ts"))
    )
    w = Window.partitionBy(key_col).orderBy("_ts")
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    changed = ~attrs.eqNullSafe(F.lag(attrs).over(w))
    versions = cand.withColumn("_chg", changed).filter(F.col("_chg"))
    return closed.unionByName(
        versions.select(
            key_col,
            *attr_cols,
            F.col("_ts").alias(from_col),
            F.lead("_ts").over(w).alias(to_col),
        )
    )


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    attr_cols: list[str],
    op_col: str = "op",
    ts_col: str = "ts",
) -> DataFrame:
    """Apply a change-data-capture log to a snapshot — the MERGE INTO
    every lakehouse table maintenance job runs: ``changes`` rows carry
    ``op`` ∈ {'I','U','D'}; the LATEST change per key wins (ordered by
    ``ts``, ties broken D > U > I so a same-timestamp delete is
    final); 'D' removes the key, 'I'/'U' upsert the change's
    attributes, keys without changes pass through.

    Plan: the log collapses to one winner per key with a row_number
    window (one shuffle on key, map-side nothing to combine but the
    log is the SMALL side — a daily trickle vs the snapshot); the
    snapshot then full-outer-joins the winners on the same key.  The
    snapshot itself is never windowed — at 100 TB the big side pays
    exactly one join shuffle, and with a bucketed snapshot layout
    (sinks.files.write_bucketed) even that exchange disappears.
    Output column order: key, *attr_cols.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col("_cdc_ts").desc(),
        # rank ops explicitly so 'D' wins same-timestamp conflicts
        F.when(F.col("_op") == "D", 0)
        .when(F.col("_op") == "U", 1)
        .otherwise(2)
        .asc(),
        # final tiebreak for identical (ts, op) duplicates: smallest
        # attribute tuple wins — without a total order the surviving
        # value would depend on partition/arrival order
        F.struct(*[F.col(f"_new_{c}") for c in attr_cols]).asc(),
    )
    latest = (
        changes.select(
            key_col,
            F.col(op_col).alias("_op"),
            F.col(ts_col).alias("_cdc_ts"),
            *[F.col(c).alias(f"_new_{c}") for c in attr_cols],
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_cdc_ts")
    )
    merged = snapshot.select(key_col, *attr_cols).join(latest, key_col, "full")
    alive = merged.filter((F.col("_op").isNull()) | (F.col("_op") != "D"))
    return alive.select(
        key_col,
        *[
            F.when(F.col("_op").isNotNull(), F.col(f"_new_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in attr_cols
        ],
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    start_col: str,
    end_col: str,
    bin_width: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Interval×interval OVERLAP join (half-open: ``l.start <
    r.end AND r.start < l.end``) as a distributed equi-join — the
    missing sibling of ``range_join``'s interval×point case.

    Both sides explode into the ``bin_width`` bins they cover, the
    join runs on bin equality, and each overlapping pair would match
    in EVERY shared bin — so a pair is emitted only from its FIRST
    shared bin (``bin == floor(max(l.start, r.start) / W)``), which
    dedups without a distinct (no second shuffle).  The exact
    overlap predicate re-checks after the bin match, so bins only
    cut candidates, never correctness.  Pick ``bin_width`` ≈ the
    typical interval length; pathological long intervals explode to
    many bins — clamp upstream if the length distribution is
    heavy-tailed.

    Columns must be numeric (callers convert timestamps via
    ``unix_micros``).  ``by`` adds equi-keys.  Right columns keep
    their names with ``_r`` appended on collision.
    """
    by = list(by or [])
    w = int(bin_width)

    def binned(df: DataFrame, tag: str) -> DataFrame:
        bins = F.sequence(
            F.floor(F.col(start_col) / w).cast("long"),
            F.floor(F.col(end_col) / w).cast("long"),
        )
        return df.withColumn(tag, F.explode(bins))

    lb = binned(left, "_lbin")
    rb = binned(right, "_rbin")
    renames = {
        c: c + "_r"
        for c in right.columns
        if c in left.columns and c not in by
    }
    rb = rb.select(
        "_rbin", *[F.col(c).alias(renames.get(c, c)) for c in right.columns]
    )
    rs, re_ = renames.get(start_col, start_col), renames.get(end_col, end_col)
    first_shared = F.floor(
        F.greatest(lb[start_col], rb[rs]) / w
    ).cast("long")
    on = (
        (lb["_lbin"] == rb["_rbin"])
        & (lb[start_col] < rb[re_])
        & (rb[rs] < lb[end_col])
        & (lb["_lbin"] == first_shared)
    )
    for c in by:
        on = on & (lb[c] == rb[c])
    out = lb.join(rb, on, "inner").drop(lb["_lbin"]).drop(rb["_rbin"])
    for c in by:
        out = out.drop(rb[c])
    return out


# ``decayed_engagement``'s frozen reference time (the events fixture
# ends before it) and half-life in days.  The DuckDB oracle
# interpolates them.
DECAY_REF_TS = "2024-02-01 00:00:00"
DECAY_HALF_LIFE_DAYS = 7.0


def decayed_engagement(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Recency-weighted engagement features — the exponential
    time-decay aggregate behind "active lately" user scores and
    freshness-weighted source budgets: every event contributes
    ``value · 2^(−Δdays / DECAY_HALF_LIFE_DAYS)`` toward its key,
    measured back from a FIXED reference timestamp (``DECAY_REF_TS``) (frozen like psi_drift's bins —
    a moving now() would make the feature unreproducible).

    Per key: (key, n_events, last_seen, decayed_score, plus the
    undecayed raw_sum for comparison — the decayed/raw ratio is a
    recency profile in itself).

    Engine portability: the per-event weight rounds to 6 decimals (pow ulp differences die there), and
    the value·weight product is summed as exact integer MICRO-UNITS
    — ``floor(x·1e6 + 0.5)`` is the identical IEEE sequence in any
    engine, where a direct decimal cast hits its rounding mode
    (HALF_UP vs HALF_EVEN) on the exact midpoints these
    finite-decimal products produce (the q9_product_profit lesson —
    and this operator DID hit one at sf0.01 before the switch).

    Scale shape: one projection (timestamp diff + pow) and ONE
    partial-aggregated shuffle on the key.  Feature extraction at
    100 TB is a scan, exactly like corpus_stats.
    """
    dt_days = (
        F.unix_micros(F.lit(DECAY_REF_TS).cast("timestamp"))
        - F.unix_micros(F.col(ts_col))
    ) / F.lit(86400.0 * 1e6)
    w = F.round(
        F.pow(F.lit(2.0), -dt_days / DECAY_HALF_LIFE_DAYS), 6
    )
    contrib_micro = F.floor(
        F.col(value_col) * w * F.lit(1e6) + F.lit(0.5)
    ).cast("decimal(25,0)")
    return (
        events.groupBy(F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(ts_col).alias("last_seen"),
            (F.sum(contrib_micro).cast("double") / F.lit(1e6)).alias("_dec"),
            F.sum(F.col(value_col).cast("decimal(25,6)"))
            .cast("double")
            .alias("_raw"),
        )
        .select(
            key_col,
            F.col("n_events").cast("long").alias("n_events"),
            "last_seen",
            F.round("_dec", 6).alias("decayed_score"),
            F.round("_raw", 6).alias("raw_sum"),
        )
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve over (duration, event-observed)
    subjects — the standard churn/retention estimator with correct
    right-censoring (a user still active at the observation cutoff is
    CENSORED, not a churn event; naive retention curves conflate the
    two):

        S(t) = Π_{t' ≤ t, d_{t'} > 0} (1 − d_{t'} / n_{t'})

    with d_t = observed events at duration t and n_t = subjects still
    at risk (duration ≥ t).  Censored subjects leave the risk set but
    never count as events.

    Scale shape: ONE groupBy shuffle reduces subjects to per-distinct-
    duration counts; every cumulative quantity (at-risk, log-survival)
    is a window over that AGGREGATED frame — bounded by distinct
    durations (days/buckets), never subject count.  The product runs
    as exp(Σ ln) with decimal(30,15) term sums (the engine's order-
    insensitive recipe), zero survival handled explicitly (ln(0) is
    NULL in Spark, a domain error in DuckDB — neither reaches it).

    Output: one row per distinct duration with an observed event or
    censoring — (duration, n_at_risk, n_events, n_censored,
    survival rounded to 6).
    """
    obs = F.col(observed_col).cast("boolean")
    g = (
        df.filter(F.col(duration_col).isNotNull() & obs.isNotNull())
        .groupBy(F.col(duration_col).cast("double").alias("duration"))
        .agg(
            F.sum(F.when(obs, 1).otherwise(0)).alias("n_events"),
            F.sum(F.when(obs, 0).otherwise(1)).alias("n_censored"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    # cumulative windows over the per-duration aggregate: the frame
    # is |distinct durations| rows, so a plain ordered window is
    # bounded — this is NOT a window over the subject rows
    w_prev = (
        Window.orderBy("duration")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = (
        g.crossJoin(F.broadcast(g.agg(F.sum("_n").alias("_total"))))
        .withColumn(
            "n_at_risk",
            (
                F.col("_total")
                - F.coalesce(F.sum("_n").over(w_prev), F.lit(0))
            ).cast("long"),
        )
    )
    factor = F.lit(1.0) - F.col("n_events") / F.col("n_at_risk")
    stepped = at_risk.withColumn(
        "_ln",
        # guard BOTH endpoints so ln(0) is never evaluated (NULL in
        # Spark, domain error in DuckDB) and both engines sum the
        # same finite terms; the _dead flag carries the S=0 step
        F.when(
            (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_at_risk")),
            F.log(F.lit(1.0) - F.col("n_events") / F.col("n_at_risk")),
        ).otherwise(F.lit(0.0)),
    ).withColumn("_dead", F.max((factor <= 0).cast("int")).over(w_cum))
    return stepped.select(
        "duration",
        "n_at_risk",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.when(F.col("_dead") == 1, F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(
                    F.sum(F.col("_ln").cast("decimal(30,15)"))
                    .over(w_cum)
                    .cast("double")
                ),
                6,
            )
        )
        .alias("survival"),
    )


def cusum_changepoint(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM mean-shift detection over an ordered series (one row per
    time bucket): cumulative sum of deviations from the series mean,

        S_t = Σ_{t' ≤ t} (x_{t'} − x̄),

    whose extremum marks the most likely change point (S drifts up
    while the level sits above the overall mean and turns where the
    regime flips).  The monitoring question behind it: WHEN did the
    corpus/traffic change, not just whether (event_spikes) or by how
    much (psi_drift).

    Output: one row per bucket — (bucket, value, cusum, is_changepoint)
    with exactly one row flagged true (max |S_t|; earliest bucket on
    ties).  Cumulative and mean sums run through decimal(30,15);
    windows order the AGGREGATED series frame (one row per bucket —
    bounded, never the raw rows; callers pre-aggregate, as with
    ``kaplan_meier``).
    """
    df = df.filter(
        F.col(value_col).isNotNull() & F.col(bucket_col).isNotNull()
    )
    mean = df.agg(
        (
            F.sum(F.col(value_col).cast("decimal(30,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_mean")
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = (
        df.select(
            F.col(bucket_col).alias("bucket"),
            F.col(value_col).cast("double").alias("value"),
        )
        .crossJoin(F.broadcast(mean))
        .withColumn(
            "cusum",
            F.sum(
                (F.col("value") - F.col("_mean")).cast("decimal(30,15)")
            )
            .over(w_cum)
            .cast("double"),
        )
    )
    # deterministic change point: min bucket among the max-|S| rows
    mx = cusum.agg(F.max(F.abs(F.col("cusum"))).alias("_mx"))
    pk = (
        cusum.crossJoin(F.broadcast(mx))
        .filter(F.abs(F.col("cusum")) == F.col("_mx"))
        .agg(F.min("bucket").alias("_pk"))
    )
    return (
        cusum.crossJoin(F.broadcast(pk))
        .select(
            "bucket",
            "value",
            F.round("cusum", 6).alias("cusum"),
            (F.col("bucket") == F.col("_pk")).alias("is_changepoint"),
        )
    )


def autocorrelation(
    df: DataFrame,
    bucket_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation of an ordered series at lags 1..max_lag
    — the is-there-weekly-rhythm / is-it-white-noise diagnostic next
    to ``cusum_changepoint`` (level shifts) and the per-key OLS trend
    (drift):

        r_k = Σ_t (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²

    (the standard biased estimator — denominator over the FULL
    series, so r_k is a proper correlation matrix coefficient).
    Lag alignment is by consecutive ROW position of the bucket-sorted
    series, not bucket arithmetic, so gaps behave like lifelines'
    treatment: callers wanting calendar lags fill gaps first
    (``fill_gaps``).

    Output: one row per lag — (lag, n_pairs, acf rounded 6).  Series
    frame is one row per bucket (bounded, pre-aggregated by the
    caller); the lag joins are |series| × max_lag row-position
    equi-joins.
    """
    if max_lag < 1:
        raise ValueError("autocorrelation: max_lag must be >= 1")
    df = df.filter(
        F.col(value_col).isNotNull() & F.col(bucket_col).isNotNull()
    )
    w = Window.orderBy("bucket")
    base = (
        df.select(
            F.col(bucket_col).alias("bucket"),
            F.col(value_col).cast("double").alias("x"),
        )
        .withColumn("_pos", F.row_number().over(w))
    )
    mean = base.agg(
        (
            F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_mean")
    )
    centered = base.crossJoin(F.broadcast(mean)).select(
        "_pos", (F.col("x") - F.col("_mean")).alias("d")
    )
    denom = centered.agg(
        F.sum((F.col("d") * F.col("d")).cast("decimal(30,15)"))
        .cast("double")
        .alias("_den"),
        F.count(F.lit(1)).alias("_n"),
    )
    lags = df.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    pairs = (
        centered.crossJoin(F.broadcast(lags))
        .withColumn("_tpos", F.col("_pos") + F.col("lag"))
        .alias("a")
        .join(
            centered.select(
                F.col("_pos").alias("_tpos"), F.col("d").alias("d2")
            ).alias("b"),
            "_tpos",
        )
    )
    num = pairs.groupBy("lag").agg(
        F.sum((F.col("d") * F.col("d2")).cast("decimal(30,15)"))
        .cast("double")
        .alias("_num"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return (
        lags.join(num, "lag", "left")
        .crossJoin(F.broadcast(denom))
        .select(
            "lag",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.when(
                F.col("_den") > 0,
                F.round(F.coalesce(F.col("_num"), F.lit(0.0)) / F.col("_den"), 6),
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# Half-width (rows) of ``seasonal_decompose``'s centered trend window;
# the DuckDB oracle interpolates it.
SEASONAL_HALF_WINDOW = 3


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Classical additive seasonal decomposition of a per-key daily
    series: value = trend + seasonal + residual — the triage step
    before anomaly calls on periodic streams (``event_spikes``'
    z-score flags Mondays as anomalies on weekday-periodic traffic;
    decomposing first lets it score the RESIDUAL).

    Per (key, date):
      trend    = centered moving average over ±``SEASONAL_HALF_WINDOW``
                 rows in date order (a 7-day window — the weekly
                 cycle; edges average over what exists, the standard
                 convention),
      seasonal = per-(key, weekday) mean of the detrended values
                 (decimal-summed, order-independent),
      residual = value − trend − seasonal.

    Cross-engine exactness: the detrended values are carried as
    EXACT INTEGER MICRO-UNITS (round((value−trend)·1e6) — integral up
    to float noise ~1e-9, never near a .5) and the weekday mean is
    rounded half-up IN INTEGER ARITHMETIC ((2·Σu + n) div (2n) on the
    positive magnitude), because Σdetr/n lands on exact 1e-6
    midpoints where Spark (decimal-string HALF_UP) and a
    binary-double round disagree — the r5 decimal-midpoint gotcha,
    measured here on real weekday groups (4.0714285 → 4.071429 vs
    4.071428).  Trend is safe to round directly when values are
    integral counts (denominators ≤ 2·window+1 have no 5-terminated
    expansions); with non-integral inputs trend midpoints are the
    caller's risk.  Input is
    an already-aggregated (key, date, value) frame — compose after
    ``events_hourly``/daily rollups, or after ``fill_gaps`` when the
    calendar has holes (a missing day shifts the ROWS window, same as
    every engine's rolling decomposition).

    Scale shape: one window pass partitioned by key (each key's
    series sorts within its partition — no global sort), one
    partial-aggregated shuffle on (key, weekday), one broadcast-sized
    join back.  Nothing driver-side."""
    from ..plans.queries import dsum

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(date_col).cast("date").alias("day"),
        F.col(value_col).cast("double").alias("value"),
    )
    w = (
        Window.partitionBy("key")
        .orderBy(F.col("day").asc())
        .rowsBetween(-SEASONAL_HALF_WINDOW, SEASONAL_HALF_WINDOW)
    )
    with_trend = base.withColumn("trend", F.round(F.avg("value").over(w), 6))
    detr = with_trend.withColumn(
        "_du", F.round((F.col("value") - F.col("trend")) * 1e6).cast("long")
    ).withColumn("_dow", F.dayofweek("day"))
    seas = detr.groupBy("key", "_dow").agg(
        F.sum("_du").alias("_su"), F.count(F.lit(1)).alias("_n")
    ).select(
        "key",
        "_dow",
        # integer half-up mean of the micro-units, sign handled on
        # the magnitude so truncating div == floor
        F.when(
            F.col("_su") >= 0,
            F.expr("(2 * _su + _n) div (2 * _n)"),
        )
        .otherwise(-F.expr("(2 * -_su + _n) div (2 * _n)"))
        .alias("_seas_u"),
    )
    return (
        detr.join(seas, ["key", "_dow"])
        .select(
            "key",
            "day",
            "value",
            "trend",
            (F.col("_seas_u") / 1e6).alias("seasonal"),
            ((F.col("_du") - F.col("_seas_u")) / 1e6).alias("residual"),
        )
    )
