"""Physical-plan shape assertions — the 100 TB posture guards.

These tests pin the properties that make the plans scale: predicate
pushdown into the parquet scan, column pruning (ReadSchema), and
broadcast joins for dimension tables.  A regression here (e.g. a
refactor that hides a filter behind a UDF, or a dim that stops
broadcasting) is invisible at test scale but catastrophic at 100 TB.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entry_mod


def plan_of(spark, name: str, sf_dir: str) -> str:
    df = entry_mod.queries()[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def read_schemas(plan: str) -> list[str]:
    return [l.strip() for l in plan.split("\n") if "ReadSchema" in l]


def parsed_columns(plan: str) -> list[set[str]]:
    """The columns each GDELT line parse (``sources/gdelt.py:_parse``)
    types.  Its scan reads whole lines (``struct<value:string>``), so
    column pruning shows in the projection over the split array
    ``_f``: it names only the columns the query consumes."""
    lines = plan.split("\n")
    return [
        set(re.findall(r" AS (\w+)#", out))
        for out, inp in zip(lines, lines[1:])
        if out.startswith("Output") and re.match(r"Input \[1\]: \[_f#\d+\]", inp)
    ]


def pushed_filter_lines(plan: str) -> list[str]:
    return [
        l.strip()
        for l in plan.split("\n")
        if "PushedFilters" in l and "PushedFilters: []" not in l
    ]


def test_q1_pruning_and_pushdown(spark, sf_dir):
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    assert pushed_filter_lines(plan), "shipdate filter must push into the scan"
    (rs,) = read_schemas(plan)
    # 7 of 11 lineitem columns — the projection must prune the scan
    assert "l_shipdate" in rs and "l_orderkey" not in rs and "l_partkey" not in rs


def test_q3_broadcasts_and_pushdown(spark, sf_dir):
    plan = plan_of(spark, "q3_top_unshipped", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert len(pushed_filter_lines(plan)) >= 3, "all three scans filter at source"


def test_q5_star_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, "q5_region_volume", sf_dir)
    assert "BroadcastHashJoin" in plan
    # the two fact tables must come out column-pruned
    assert any("l_extendedprice" in rs and "l_quantity" not in rs for rs in read_schemas(plan))


def test_geo_project_prunes_to_two_columns(spark, sf_dir):
    plan = plan_of(spark, "geo_project", sf_dir)
    (rs,) = read_schemas(plan)
    assert "event_id" in rs and "value" in rs
    assert "props" not in rs and "user_id" not in rs
    assert pushed_filter_lines(plan), "value>0 must push into the scan"


def test_lookup_rollup_broadcasts_dim(spark, sf_dir):
    plan = plan_of(spark, "lookup_rollup", sf_dir)
    assert "BroadcastHashJoin" in plan
    (rs,) = read_schemas(plan)
    assert "event_type" in rs and "value" in rs and "props" not in rs


def test_ann_topk_broadcasts_queries(spark, sf_dir):
    plan = plan_of(spark, "ann_topk", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_no_cartesian_in_pair_generators(spark, sf_dir):
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash"):
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, f"{name} must never cross-join"


def test_minhash_lsh_verifies_by_array_intersect(spark, sf_dir):
    """The exact verify is ``_verify_pairs``' array intersection of
    the per-doc shingle sets: no distinct count and no join keyed on
    the shingle hash ``h0``."""
    df = entry_mod.queries()["dedup_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    joins = [l for l in plan.splitlines() if "Join " in l]
    assert "count(distinct" not in plan
    assert joins and not any(re.search(r"\bh0#\d+L? = ", l) for l in joins)
    assert "array_intersect" in plan


def test_q17_broadcasts_brand_dim(spark, sf_dir):
    plan = plan_of(spark, "q17_small_qty_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert pushed_filter_lines(plan), "brand filter must push into the part scan"
    # lineitem scan pruned to the three columns the query touches
    assert any(
        "l_partkey" in rs and "l_quantity" in rs and "l_shipdate" not in rs
        for rs in read_schemas(plan)
    )


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The whole point of the bin trick: the interval×point join must
    plan as a hash/sort-merge equi-join on the bin id, never as the
    O(n·m) BroadcastNestedLoopJoin Spark uses for pure range
    predicates."""
    plan = plan_of(spark, "range_count_clicks_after_error", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_is_scan_plus_broadcast_only(spark, sf_dir):
    """broadcast_set strategy: the corpus side must not shuffle — no
    Exchange above the documents scan before the intersect project."""
    plan = plan_of(spark, "decontaminate", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_q4_plans_as_semi_join(spark, sf_dir):
    """EXISTS must compile to a semi join (no row duplication before
    the aggregate) with both filters pushed into their scans."""
    plan = plan_of(spark, "q4_priority_exists", sf_dir)
    assert "LeftSemi" in plan or "Semi" in plan
    assert len(pushed_filter_lines(plan)) >= 2
    # lineitem scan pruned to the join key + predicate column
    assert any(
        "l_orderkey" in rs and "l_returnflag" in rs and "l_extendedprice" not in rs
        for rs in read_schemas(plan)
    )


def test_top_bigrams_uses_topk_not_full_sort(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject
    (per-partition heaps) — a global Sort of the bigram table would
    shuffle the whole vocabulary at 100 TB."""
    plan = plan_of(spark, "top_bigrams", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_tfidf_broadcasts_corpus_size_only(spark, sf_dir):
    """The 1-row corpus-count side must broadcast; the vocabulary DF
    join stays a distributed equi-join (it is NOT broadcast-safe at
    scale, so we only require no cartesian/nested-loop)."""
    plan = plan_of(spark, "tfidf_top_terms", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_cube_is_single_expand_pass(spark, sf_dir):
    plan = plan_of(spark, "cube_volume", sf_dir)
    assert "Expand" in plan
    # one scan only: four grouping sets must not mean four reads
    assert len(read_schemas(plan)) == 1


def test_order_price_ranks_single_window_exchange(spark, sf_dir):
    """All three distribution functions share one window spec — the
    plan must contain exactly one shuffle (hashpartitioning on the
    priority key), not one per function."""
    plan = plan_of(spark, "order_price_ranks", sf_dir)
    n_exchanges = sum(
        1 for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")
    )
    n_windows = sum(1 for l in plan.splitlines() if l.strip().startswith("(") and l.strip().endswith("Window"))
    assert n_exchanges == 1 and n_windows == 1, plan[:2000]


def n_exchanges(plan: str) -> int:
    """Count physical Exchange nodes once each (the formatted output
    lists every node twice: tree line + detail section)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_pack_sequences_single_exchange_and_pruning(spark, sf_dir):
    """Packing is one shard-keyed window pass: exactly one Exchange
    (hashpartitioning on shard), and the scan reads only id + text."""
    plan = plan_of(spark, "pack_sequences", sf_dir)
    assert n_exchanges(plan) == 1
    assert "CartesianProduct" not in plan
    rs = read_schemas(plan)
    assert rs and all("doc_id" in r and "text" in r and "lang" not in r for r in rs)


def test_gkg_cooccurrence_no_self_join(spark, sf_dir):
    """Pair expansion is per-record expression work: no join operator
    of the exploded theme table against itself anywhere in the plan."""
    plan = plan_of(spark, "gkg_theme_cooccurrence", sf_dir)
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_pii_scan_is_scan_plus_projection(spark, sf_dir):
    """Detection+redaction must not shuffle or leave codegen."""
    plan = plan_of(spark, "pii_scan", sf_dir)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no row-at-a-time or Arrow UDFs


def test_quad_class_rollup_single_agg_pass(spark, sf_dir):
    """CASE-label dim: no join; one partial+final aggregate pair."""
    plan = plan_of(spark, "quad_class_rollup", sf_dir)
    assert "Join" not in plan
    assert n_exchanges(plan) == 1


def test_goldstein_daily_reuses_group_partitioning(spark, sf_dir):
    """daily groupBy shuffles on (grp, day); the rolling window then
    re-partitions by grp only — two exchanges total, no join."""
    plan = plan_of(spark, "goldstein_daily", sf_dir)
    assert "Join" not in plan
    assert n_exchanges(plan) <= 2


def test_mention_stats_shuffles_once_per_side(spark, sf_dir):
    """Mentions pre-aggregate to one row per GLOBALEVENTID before the
    join; the count-distinct agg costs two exchanges on the mentions
    side and the (broadcast at fixture scale) join adds none — never
    a cartesian, and both parses are column-pruned (3 of 61 event
    cols, 5 of 16 mention cols)."""
    plan = plan_of(spark, "mention_stats", sf_dir)
    assert "CartesianProduct" not in plan
    assert n_exchanges(plan) <= 2, plan[:2000]
    rs = parsed_columns(plan)
    assert any("EventRootCode" in r and "SOURCEURL" not in r and "Actor1Code" not in r for r in rs)
    assert any("MentionTimeDate" in r and "MentionIdentifier" not in r for r in rs)


def test_gkg_theme_daily_single_agg_shuffle(spark, sf_dir):
    """Split/explode/tone-parse stay in one projection; the rollup is
    one partial-aggregated shuffle on (theme, day) plus the distinct-
    source expansion — no join, ≤2 exchanges, and the 27-col parse is
    pruned to the 4 consumed columns."""
    plan = plan_of(spark, "gkg_theme_daily", sf_dir)
    assert "Join" not in plan and "EvalPython" not in plan
    assert n_exchanges(plan) <= 2, plan[:2000]
    rs = parsed_columns(plan)
    assert any("Themes" in r and "V2Themes" not in r and "GCAM" not in r for r in rs)


def test_chunk_documents_is_projection_only(spark, sf_dir):
    """Chunking is tokenize + explode(sequence) + slice in one
    codegen projection: no shuffle, no join, no Python, and the scan
    reads only (doc_id, text)."""
    from gdelt_extractor_spark.operators.packing import chunk_documents
    from gdelt_extractor_spark.sources.tables import load_table

    df = chunk_documents(load_table(spark, sf_dir, "documents"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan
    rs = read_schemas(plan)
    assert rs and all("text" in r and "lang" not in r and "source" not in r for r in rs)


def test_url_filter_broadcasts_blocklist_single_dedup_shuffle(spark, sf_dir):
    """The blocklist joins as a broadcast LEFT ANTI (no corpus
    shuffle for the filter); the only exchange is the URL-dedup
    window's hashpartitioning on url_norm."""
    plan = plan_of(spark, "url_filter", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert n_exchanges(plan) == 1, plan[:2000]


def test_q2_single_lineitem_scan_window_min(spark, sf_dir):
    """Q2-shaped min-cost supplier: all four dims broadcast, the
    part filter pushes into its scan, and winner recovery is a
    window min — ONE lineitem scan and two exchanges (pair agg +
    window), where the textbook agg-and-join-back form scans
    lineitem twice (no subplan CSE in Catalyst)."""
    plan = plan_of(spark, "q2_min_cost_supplier", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 4
    assert any("p_size" in l for l in pushed_filter_lines(plan))
    n_lineitem_scans = sum(1 for l in plan.splitlines() if "lineitem" in l)
    assert n_lineitem_scans == 1, plan[:1500]
    assert n_exchanges(plan) <= 2


def test_dedup_lines_two_shuffles(spark, sf_dir):
    """Global line dedup is one window shuffle on the trimmed line
    plus one doc-id aggregate that folds kept text, kept count, and
    total count into a single pass (conditional collect_list) — no
    second line scan, no cartesian."""
    plan = plan_of(spark, "dedup_lines", sf_dir)
    assert "CartesianProduct" not in plan
    n_hash = len(
        [l for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")]
    )
    assert n_hash <= 2, plan[:2000]


def test_q7_prefilters_both_facts_before_shuffle(spark, sf_dir):
    """Both fact sides must join their broadcast nation-filtered dims
    BEFORE the fact-fact exchange, and the date filter must push into
    the lineitem scan — the join ordering that shrinks the big
    shuffle ~12x."""
    plan = plan_of(spark, "q7_nation_trade", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert any("l_shipdate" in l for l in pushed_filter_lines(plan))
    # one fact-fact shuffle pair (orderkey, both sides) + the agg
    # exchange: no extra exchanges from mis-ordered dim joins
    n_hash = len(
        [l for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")]
    )
    assert n_hash <= 3, plan[:2000]


def test_q10_pushes_both_fact_filters(spark, sf_dir):
    plan = plan_of(spark, "q10_returned_items", sf_dir)
    pushed = pushed_filter_lines(plan)
    assert any("l_returnflag" in l for l in pushed)
    assert any("o_orderdate" in l for l in pushed)
    assert "TakeOrderedAndProject" in plan, "top-20 must not global-sort"


def test_event_spikes_two_exchanges(spark, sf_dir):
    """Daily rollup shuffle + one window exchange on event_type —
    the RANGE frame must not add further exchanges."""
    plan = plan_of(spark, "event_spikes", sf_dir)
    n_hash = len(
        [l for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")]
    )
    assert n_hash <= 2, plan[:2000]
    assert "Window" in plan


def test_dup_spans_no_expand_no_cartesian(spark, sf_dir):
    """The two-level rollup must avoid COUNT(DISTINCT)'s Expand and
    any pair join."""
    plan = plan_of(spark, "dup_spans", sf_dir)
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_sketch_rollup_is_small_side(spark, sf_dir):
    """Stage 2 aggregates ONLY the per-partition summaries (one
    exchange after the Arrow stage), and the top-k is
    TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, "heavy_hitters", sf_dir)
    assert "TakeOrderedAndProject" in plan
    n_hash = len(
        [l for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")]
    )
    assert n_hash == 1, plan[:2000]


def test_q13_preaggregates_orders_before_outer_join(spark, sf_dir):
    """The order count must partial-aggregate BEFORE the outer join
    touches customer (fact shuffles pre-shrunk), the priority filter
    must push into the orders scan, and the customer scan must prune
    to the key column."""
    plan = plan_of(spark, "q13_order_counts", sf_dir)
    assert pushed_filter_lines(plan), "o_orderpriority must push into the scan"
    assert any(
        "c_custkey" in rs and "c_name" not in rs for rs in read_schemas(plan)
    ), "customer scan must prune to c_custkey"
    # outer join present; no broadcast of the fact-derived count side
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_q18_no_forced_broadcast_of_order_sized_side(spark, sf_dir):
    """The qualifying-order set is order-cardinality: the plan must
    not contain a BroadcastExchange fed by the lineitem aggregate
    (AQE may still broadcast at runtime from observed size — the
    static plan must leave it a shuffle join)."""
    df = entry_mod.queries()["q18_large_orders"](spark, sf_dir)
    import contextlib as _ctx
    import io as _io

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("extended")
    logical = buf.getvalue()
    # ResolvedHint/broadcast hint would appear in the logical plan
    assert "broadcast" not in logical.split("== Optimized Logical Plan ==")[-1].split(
        "== Physical Plan =="
    )[0].lower() or "c_name" in logical, logical[:1500]


def test_q21_single_window_partition_and_no_self_join_explosion(spark, sf_dir):
    """Both correlated subqueries collapse into window math: the plan
    has window nodes partitioned only on l_orderkey and NO cartesian
    or nested-loop join."""
    plan = plan_of(spark, "q21_last_shipper", sf_dir)
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_scalar_avg_is_broadcast_not_collected(spark, sf_dir):
    """The global average enters as a 1-row broadcast nested-loop
    (cross) join — no driver collect; the anti join stays a shuffle
    join on the order side."""
    plan = plan_of(spark, "q22_idle_balance", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "LeftAnti" in plan


def test_fuzzy_join_no_cartesian_and_token_key(spark, sf_dir):
    """The two-table set-similarity join must candidate via the token
    equi-join — never a cartesian/nested-loop pairing."""
    plan = plan_of(spark, "fuzzy_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_divergence_vocab_is_topk_not_collected(spark, sf_dir):
    """The top-K vocabulary must enter as TakeOrderedAndProject inside
    the plan (never a driver collect), and the KL rollup must not
    expand into a per-term window."""
    plan = plan_of(spark, "vocab_divergence", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ngram_repetition_two_agg_shuffles(spark, sf_dir):
    """One (doc, gram) shuffle + one doc rollup — the within-doc
    counting must be a grouped aggregate, not per-row O(len²) array
    work, and nothing may expand to a self-join."""
    plan = plan_of(spark, "ngram_repetition", sf_dir)
    n_hash = len(
        [l for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")]
    )
    assert n_hash <= 2, plan[:2000]
    assert "Join" not in plan


def test_source_overlap_no_self_join(spark, sf_dir):
    """Pair generation happens per fingerprint from the grouped
    carrier array (gkg_theme_cooccurrence discipline) — the plan must
    contain NO join at all until the broadcast totals attach."""
    plan = plan_of(spark, "source_overlap", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # the explode of in-row pairs


def test_dedup_incremental_anti_join_on_hash(spark, sf_dir):
    """The history side must enter as an anti join on the content
    hash; the batch keep-first stays a single window."""
    plan = plan_of(spark, "dedup_incremental", sf_dir)
    assert "LeftAnti" in plan
    assert "Window" in plan


def test_shard_manifest_single_agg_shuffle(spark, sf_dir):
    """Shard accounting is one partial-aggregated shuffle on the
    shard key — no joins, no windows."""
    plan = plan_of(spark, "shard_manifest", sf_dir)
    n_hash = len(
        [l for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")]
    )
    assert n_hash == 1, plan[:2000]
    assert "Join" not in plan and "Window" not in plan


def test_q19_disjunction_stays_equi_join(spark, sf_dir):
    """The OR-of-ANDs residual must not degrade the join: partkey
    equi-condition extracted (BroadcastHashJoin, no BNLJ/cartesian)
    and the part-side disjunction pushed into the part scan."""
    plan = plan_of(spark, "q19_disjunctive_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert pushed_filter_lines(plan), "part-side terms must push into a scan"


def test_q6_all_predicates_reach_the_scan(spark, sf_dir):
    plan = plan_of(spark, "q6_forecast_revenue", sf_dir)
    pushed = " ".join(pushed_filter_lines(plan))
    assert "l_shipdate" in pushed and "l_quantity" in pushed and "l_discount" in pushed
    (rs,) = read_schemas(plan)
    # 4 of 11 lineitem columns decoded, nothing else
    assert "l_orderkey" not in rs and "l_extendedprice" in rs
    assert "Join" not in plan and "Window" not in plan


def test_q12_residual_stays_above_single_shuffle_join(spark, sf_dir):
    plan = plan_of(spark, "q12_priority_by_class", sf_dir)
    # returnflag + shipdate filters push into the lineitem scan
    pushed = " ".join(pushed_filter_lines(plan))
    assert "l_returnflag" in pushed and "l_shipdate" in pushed
    # the cross-table l_shipdate > o_orderdate predicate cannot push —
    # it must be the join residual, not a cartesian
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q14_single_pass_conditional_ratio(spark, sf_dir):
    plan = plan_of(spark, "q14_promo_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan, "part must broadcast"
    # one scan of lineitem only: conditional + total sums share a pass
    li_scans = [rs for rs in read_schemas(plan) if "l_partkey" in rs or "l_extendedprice" in rs]
    assert len(li_scans) == 1, f"lineitem must scan once, saw {li_scans}"


def test_q15_global_max_is_broadcast_join_not_second_scan(spark, sf_dir):
    plan = plan_of(spark, "q15_top_supplier", sf_dir)
    # revenue view reuses one lineitem scan; the max arrives by broadcast
    li_scans = [rs for rs in read_schemas(plan) if "l_extendedprice" in rs]
    assert len(li_scans) <= 2, "rev + max branches may not rescan more than the view twice"
    assert "BroadcastHashJoin" in plan


def test_q16_exclusion_is_anti_join(spark, sf_dir):
    plan = plan_of(spark, "q16_supplier_count", sf_dir)
    assert "LeftAnti" in plan, "NOT IN must compile to a broadcast anti join"
    assert "CartesianProduct" not in plan


def test_q20_correlated_subquery_collapsed_into_pair_agg(spark, sf_dir):
    plan = plan_of(spark, "q20_excess_stock", sf_dir)
    # ONE lineitem scan: avail and 1997 quantities come from the same
    # conditional aggregate — the textbook's correlated subquery costs
    # zero extra passes
    li_scans = [rs for rs in read_schemas(plan) if "l_quantity" in rs]
    assert len(li_scans) == 1, f"lineitem must scan once, saw {len(li_scans)}"
    assert "LeftSemi" in plan


def test_source_quality_filter_verdict_broadcast_semi(spark, sf_dir):
    plan = plan_of(spark, "source_quality_filter", sf_dir)
    # the small per-source verdict comes BACK as a broadcast semi
    # join — the corpus itself never shuffles for the filter
    assert "LeftSemi" in plan and "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_geo_grid_join_is_equi_not_nested_loop(spark, sf_dir):
    plan = plan_of(spark, "geo_grid_join", sf_dir)
    # the whole point of the grid decomposition: the spatial theta
    # join must run as a HASH equi-join on the cell key
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_cdc_apply_snapshot_never_windowed(spark, sf_dir):
    """The big (snapshot) side pays one join shuffle; only the small
    change log is windowed — a Window over the snapshot would sort
    100 TB."""
    plan = plan_of(spark, "cdc_apply", sf_dir)
    import re
    windows = re.findall(r"^\(\d+\) Window$", plan, re.M)
    assert len(windows) == 1, "exactly one Window node (the log collapse)"
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_bm25_df_table_broadcasts(spark, sf_dir):
    """The |query|-row docfreq table and the 1-row corpus stats must
    broadcast — never shuffle the scored side against them."""
    plan = plan_of(spark, "bm25_search", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats cross join
    assert "TakeOrderedAndProject" in plan    # top-k, no global sort
    assert "CartesianProduct" not in plan


def test_corpus_diff_shuffles_hashes_not_text(spark, sf_dir):
    """The diff join must move 32-byte md5s, not document bytes: no
    'text' column may survive into the exchange."""
    plan = plan_of(spark, "corpus_diff", sf_dir)
    assert "SortMergeJoin FullOuter" in plan or "ShuffledHashJoin FullOuter" in plan
    import re
    exchanges = [l for l in plan.split("\n") if "Arguments: hashpartitioning" in l]
    assert exchanges and all("text" not in l for l in exchanges)


def test_mixture_weights_total_broadcasts(spark, sf_dir):
    plan = plan_of(spark, "mixture_weights", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total
    assert plan.count("Exchange hashpartitioning") <= 1, (
        "one groupBy shuffle on source only"
    )


def test_vocab_coverage_window_over_vocab_not_corpus(spark, sf_dir):
    """The rank window consumes the token-frequency AGGREGATE (its
    input plan contains the HashAggregate), so the global sort is
    |vocab|-sized, never corpus-sized."""
    plan = plan_of(spark, "vocab_coverage", sf_dir)
    assert "Window" in plan
    i_win = plan.index("Window")
    assert "HashAggregate" in plan[i_win:], (
        "window must sit above the frequency aggregate"
    )


def test_length_buckets_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, "length_buckets", sf_dir)
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Window" not in plan and "Join" not in plan


def test_interval_overlap_no_nested_loop(spark, sf_dir):
    # the bin trick must plan the interval×interval overlap as an
    # equi-join on the bin key — a BNLJ/cartesian here is the 100 TB
    # killer.  At sf0.001 AQE may broadcast the small side; any hash
    # equi-join is acceptable, a nested loop is not.
    plan = plan_of(spark, "interval_overlaps", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def exchange_args(plan: str) -> list[str]:
    """Partitioning argument of each Exchange in a formatted plan.

    ``explain("formatted")`` prints each node twice (tree + detail
    section), so substring counts double-count; parse the detail
    blocks instead.
    """
    import re

    out = []
    for block in re.split(r"\n\(\d+\) ", plan):
        if block.startswith("Exchange"):
            m = re.search(r"Arguments: ([^\n]+)", block)
            out.append(m.group(1) if m else "")
    return out


def test_lm_block_spans_single_exchange(spark, sf_dir):
    # one shard shuffle feeds both the running-sum window and the
    # span fan-out; the explode adds no shuffle
    plan = plan_of(spark, "lm_block_spans", sf_dir)
    ex = exchange_args(plan)
    assert len(ex) == 1 and "hashpartitioning" in ex[0]
    assert "Generate" in plan  # the sequence() explode


def test_asof_forward_single_exchange_no_join(spark, sf_dir):
    # merge_asof variants stay the union+window carry: one shuffle on
    # the by key, never a join operator
    plan = plan_of(spark, "asof_next_click", sf_dir)
    assert "Join" not in plan
    ex = exchange_args(plan)
    assert len(ex) == 1 and "hashpartitioning" in ex[0]
    assert "Union" in plan


def test_preference_pairs_partial_aggregate(spark, sf_dir):
    # max_by/min_by must plan as a map-side-combined aggregate
    # (partial + final around one exchange), no window
    plan = plan_of(spark, "preference_pairs", sf_dir)
    assert "Window" not in plan
    ex = exchange_args(plan)
    assert len(ex) == 1 and "hashpartitioning" in ex[0]
    assert "partial_max_by" in plan  # map-side combine really planned


def test_chat_audit_no_shuffle_projection(spark, sf_dir):
    # validation + rendering is a pure projection over the scan: no
    # hashpartitioning shuffle anywhere (the width-posture RoundRobin
    # repartition and the final deterministic sort are allowed)
    plan = plan_of(spark, "chat_audit", sf_dir)
    assert not any("hashpartitioning" in e for e in exchange_args(plan))
    assert "Join" not in plan and "Window" not in plan


def node_count(plan: str, name: str) -> int:
    """Count physical nodes of a type in a formatted plan (detail
    blocks only, so tree+detail double print doesn't double-count)."""
    import re

    return sum(
        1
        for block in re.split(r"\n\(\d+\) ", plan)
        if block.startswith(name)
    )


def test_luhn_scan_pure_projection(spark, sf_dir):
    # extract + HOF checksum is one codegen projection over the scan
    plan = plan_of(spark, "luhn_scan", sf_dir)
    assert not any("hashpartitioning" in e for e in exchange_args(plan))
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_editdist_equi_join(spark, sf_dir):
    # blocking must plan as an equi hash join on the block key
    plan = plan_of(spark, "dedup_editdist", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pmi_unigram_joins_broadcast(spark, sf_dir):
    # vocab-sized unigram counts broadcast onto pair counts (twice),
    # totals arrive broadcast — no shuffle after the two count aggs
    plan = plan_of(spark, "pmi_collocations", sf_dir)
    assert node_count(plan, "BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_dsir_weight_table_broadcast(spark, sf_dir):
    # the <=64-row bucket weight table must broadcast onto the token
    # stream; scoring is one hash aggregate on the doc id
    plan = plan_of(spark, "dsir_weights", sf_dir)
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_gap_interpolate_single_window_operator(spark, sf_dir):
    # back + fwd frames share partitioning/ordering → ONE Window
    # operator, no second sort/shuffle for the forward anchors
    plan = plan_of(spark, "events_gap_interpolate", sf_dir)
    assert node_count(plan, "Window") == 1


def test_embedding_align_broadcast_pair_pass(spark, sf_dir):
    # r10 GEMM engine: pair scoring lives in ONE MapInPandas scan of
    # corpus a (B rides an executor broadcast) — no nested-loop join,
    # no cartesian, and the final avg join is a broadcast hash join,
    # never a doc-sized sort-merge join
    # (the MapInPandas scan itself is behind an eager localCheckpoint,
    # so the final plan reads the materialized RDD)
    plan = plan_of(spark, "embedding_align", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert node_count(plan, "BroadcastHashJoin") >= 1


def test_nb_classifier_weight_table_broadcast(spark, sf_dir):
    # the <=64-row NB weight table, the 1-row prior, and the totals
    # all broadcast; no sort-merge join anywhere in train or score
    plan = plan_of(spark, "nb_classifier", sf_dir)
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_rater_agreement_broadcast_scalars(spark, sf_dir):
    # corpus-level kappa/p_bar/p_e are 1-row broadcasts onto the item
    # frame; no sort-merge join, no window
    plan = plan_of(spark, "rater_agreement", sf_dir)
    assert node_count(plan, "BroadcastNestedLoopJoin") >= 1
    assert "SortMergeJoin" not in plan
    assert node_count(plan, "Window") == 0


def test_rouge_overlap_gram_equijoin(spark, sf_dir):
    # the match join is a (pair, gram) equi-join — content-keyed,
    # never a cartesian
    plan = plan_of(spark, "rouge_overlap", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kwic_no_key_shuffle(spark, sf_dir):
    # scan → position explode → filter → context projection; the only
    # Exchange is the deliberate round-robin scan-width repartition —
    # no key-hashed shuffle, no join anywhere
    plan = plan_of(spark, "kwic_concordance", sf_dir)
    assert n_exchanges(plan) <= 1
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_psi_drift_tiny_aggregates_broadcast(spark, sf_dir):
    # two <=20-row bin-count tables full-join; totals and headline
    # psi broadcast back — nothing row-count-sized moves again
    plan = plan_of(spark, "psi_drift", sf_dir)
    assert node_count(plan, "BroadcastNestedLoopJoin") >= 1
    assert "CartesianProduct" not in plan


def test_channel_attribution_single_window_exchange(spark, sf_dir):
    """All four attribution windows (next-purchase stamp + journey
    first/last/size) run off ONE user_id exchange — the (user_id,
    conv_ts) partitions are a refinement of the user_id hash, so
    Spark inserts local sorts only.  Remaining exchanges: the channel
    aggregate and the final orderBy."""
    plan = plan_of(spark, "channel_attribution", sf_dir)
    assert plan.count("hashpartitioning(user_id") == 1, plan[:2000]
    assert n_exchanges(plan) <= 3
    assert node_count(plan, "Window") == 4


def test_trade_triangles_no_cartesian_pairs(spark, sf_dir):
    """Triangle counting never forms an all-pairs join: wedges come
    from an equi-join on the oriented source key and close via an
    equi semi join.  The only nested-loop is the broadcast of the
    1-row average-volume threshold."""
    plan = plan_of(spark, "trade_triangles", sf_dir)
    assert "CartesianProduct" not in plan
    assert node_count(plan, "BroadcastNestedLoopJoin") <= 1


def test_basket_rules_pair_join_is_keyed(spark, sf_dir):
    """Candidate pairs only materialize per basket (equi-join on the
    basket key) — no item×item cartesian; the only nested loop is
    the 1-row basket-total broadcast."""
    plan = plan_of(spark, "basket_rules", sf_dir)
    assert "CartesianProduct" not in plan
    assert node_count(plan, "BroadcastNestedLoopJoin") <= 1


def test_span_ops_default_hashed_shuffle_keys(spark):
    """Scale-safe default: the exact-substring family keys every
    shuffle/join on xxhash64 of the window tokens (8-byte sort keys)
    unless exact_strings=True opts back into raw-string grouping."""
    from gdelt_extractor_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d x y z")],
        "doc_id long, text string",
    )

    def plan(q):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain("formatted")
        return buf.getvalue()

    for fn in (D.duplicate_spans, D.cut_duplicate_spans):
        assert "xxhash64" in plan(fn(df, k=3)), fn.__name__
    # span_dup_fraction eagerly materializes the per-(span, doc)
    # counts (r12), so the xxhash64 projection runs at build time
    # inside the checkpointed subtree and no longer prints in the
    # final query plan.  The same contract — 8-byte hashed shuffle
    # keys by default, raw strings only on opt-in — is pinned
    # through the checkpoint boundary by the span column's TYPE
    # (long columns print as span#<n>L, strings as span#<n>).
    import re

    hashed_plan = plan(D.span_dup_fraction(df, k=3))
    assert re.search(r"\bspan#\d+L", hashed_plan)
    assert not re.search(r"\bspan#\d+(?!\d|L)", hashed_plan)
    exact_plan = plan(D.span_dup_fraction(df, k=3, exact_strings=True))
    assert "xxhash64" not in exact_plan
    assert re.search(r"\bspan#\d+(?!\d|L)", exact_plan)


def test_pair_generator_default_is_capped(spark):
    """The API default must never build the uncapped all-shared-pairs
    self-join: a shingle hotter than the default cap contributes no
    candidate pairs (uncapped mode would return all-pairs here)."""
    import inspect

    from gdelt_extractor_spark.operators import dedup as D

    for fn in (D.dedup_ngram_jaccard, D.dedup_containment):
        assert (
            inspect.signature(fn).parameters["max_shingle_df"].default == 100
        ), fn.__name__
    texts = [(i, "alpha beta gamma") for i in range(102)]  # 1 shingle, df=102
    df = spark.createDataFrame(texts, "doc_id long, text string")
    assert D.dedup_ngram_jaccard(df, "text", "doc_id", threshold=0.5).count() == 0
    assert D.dedup_containment(df, "text", "doc_id", threshold=0.5).count() == 0
    assert (
        D.dedup_ngram_jaccard(
            df.limit(5), "text", "doc_id", threshold=0.5, max_shingle_df=None
        ).count()
        == 10
    )


def test_dedup_semantic_gemm_plan(spark, sf_dir):
    """dedup_semantic's within-cluster pairs come from ONE
    applyInPandas over the cluster key (per-task numpy GEMM) — no
    pair self-join, no cartesian, and no eager-checkpoint scan (the
    clustered frame has exactly one consumer)."""
    plan = plan_of(spark, "dedup_semantic", sf_dir)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_new_accounting_ops_prune_scans(spark, sf_dir):
    """byte_stats/hapax_stats/prefix_clusters read only the columns
    they touch; the GKG entity parse types only its two fields of the
    27-column feed."""
    p = plan_of(spark, "byte_stats", sf_dir)
    (rs,) = read_schemas(p)
    assert "text" in rs and "lang" in rs and "n_chars" not in rs
    p = plan_of(spark, "hapax_stats", sf_dir)
    (rs,) = read_schemas(p)
    assert "doc_id" not in rs and "lang" not in rs
    p = plan_of(spark, "gkg_persons", sf_dir)
    assert any(
        "V2Persons" in rs and "V2Locations" not in rs and "GCAM" not in rs
        for rs in parsed_columns(p)
    )


# ---- round-8 operators: the same posture guards ----


def test_lang_nb_no_row_python_and_broadcast_weights(spark, sf_dir):
    """The trained language ID must stay pure JVM (md5 buckets, no
    Python UDF anywhere) and its weight/model tables must broadcast
    onto the gram stream."""
    plan = plan_of(spark, "lang_nb_id", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_source_similarity_no_python_and_partial_agg(spark, sf_dir):
    """MinHash signatures: integer permutations in codegen (one md5
    per shingle, no Python), partial aggregation before the
    (source, slot) shuffle."""
    plan = plan_of(spark, "source_similarity", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_embedding_projection_is_single_arrow_pass(spark, sf_dir):
    """JL projection: exactly one Arrow stage (the GEMM), no joins,
    no aggregate shuffles."""
    plan = plan_of(spark, "embedding_projection", sf_dir)
    # "MapInPandas (N" matches the plan TREE node only (the detail
    # section prints "(N) MapInPandas"), so this counts operators
    assert plan.count("MapInPandas (") == 1
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_record_linkage_block_equi_join_no_cartesian(spark, sf_dir):
    """FS linkage: the block key must reach the join as an equi-key —
    never a cartesian/BNLJ — and the field weights fold to literals
    (no Python eval)."""
    plan = plan_of(spark, "record_linkage", sf_dir)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan


def test_key_skew_no_global_sort(spark, sf_dir):
    """The skew audit's gini ranks must come from the range-partition
    helper — a single-partition global Sort would defeat the point."""
    plan = plan_of(spark, "key_skew", sf_dir)
    # top-10 must be TakeOrderedAndProject, never a global Sort+Limit
    # (1-row final aggregates legitimately use SinglePartition
    # exchanges, so that's not assertable here)
    assert "TakeOrderedAndProject" in plan


def test_golden_customers_no_join(spark, sf_dir):
    """Survivorship is one window pass — no join may appear."""
    plan = plan_of(spark, "golden_customers", sf_dir)
    assert "Join" not in plan
    assert "Window" in plan


def test_blocklist_screen_single_scan_codegen(spark, sf_dir):
    """Blocklist screening: pure regexp codegen, one scan, no
    shuffle at all."""
    plan = plan_of(spark, "blocklist_screen", sf_dir)
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" not in plan and "Join" not in plan


def test_join_size_never_joins_the_data(spark, sf_dir):
    """The cardinality estimate joins COUNT TABLES, not the inputs:
    both join inputs must already be aggregates."""
    plan = plan_of(spark, "join_size", sf_dir)
    # the only SortMergeJoin/BroadcastHashJoin operands are
    # HashAggregate outputs — pin by checking the scans' columns are
    # pruned to the key alone
    assert any(
        ("o_orderkey" in rs and "o_totalprice" not in rs) for rs in read_schemas(plan)
    )
    assert any(
        ("l_orderkey" in rs and "l_quantity" not in rs) for rs in read_schemas(plan)
    )


def test_winnow_no_cartesian_pruned_scan(spark, sf_dir):
    """Winnowing: the pair join must stay an equi-join on the
    fingerprint (never a cartesian), and the scan must prune to the
    two columns the operator touches."""
    plan = plan_of(spark, "winnow_dup_pairs", sf_dir)
    assert "CartesianProduct" not in plan
    assert all(
        "text" in rs and "lang" not in rs and "source" not in rs
        for rs in read_schemas(plan)
    )


def test_hybrid_search_broadcasts_query_side(spark, sf_dir):
    """RRF hybrid: every join against the corpus-sized frames must
    broadcast the tiny side (query vector / term stats / top-k rank
    frames) — a shuffled corpus-vs-corpus join here would mean a
    ranker lost its bound."""
    plan = plan_of(spark, "hybrid_search", sf_dir)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_mmr_single_grouped_arrow_pass(spark, sf_dir):
    """MMR: exactly ONE grouped Arrow stage (the per-query greedy) —
    the pairwise sims must come from inside that stage, never from a
    candidate-candidate join."""
    plan = plan_of(spark, "mmr_rerank", sf_dir)
    # tree lines read "FlatMapGroupsInPandas (N" — exactly one node
    # (the details section repeats it as "(N) FlatMapGroupsInPandas")
    assert plan.count("FlatMapGroupsInPandas (") == 1
    assert "CartesianProduct" not in plan


def test_prf_two_scans_broadcast_expanded_query(spark, sf_dir):
    """Rocchio PRF: the expanded-query frame is |Q| rows and must
    broadcast into the second-pass rerank."""
    plan = plan_of(spark, "prf_search", sf_dir)
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time python


def test_curation_pipeline_one_scan_one_tokenize(spark, sf_dir):
    """The curation flow scans documents once and joins nothing: the
    Gopher verdict filters the scanned rows themselves, behind the
    ``where`` generator barrier, so each document is tokenized once
    (a plain filter on the verdict is pushed below the tokenizing
    projection and inlines the tokenizer once per reference)."""
    df = entry_mod.queries()["curation_pipeline"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bRelation \[", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("split(") == 1, plan


def test_small_shuffle_keeps_one_partition_per_core(spark):
    """A shuffle of a few KB still ends in one partition per core:
    partition coalescing would fold it into one task."""
    import os

    from pyspark.sql import functions as F

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    df = spark.range(1000).groupBy((F.col("id") % 97).alias("k")).count()
    assert df.rdd.getNumPartitions() == cores


def test_ranked_set_docs_one_key_exchange(spark, sf_dir, monkeypatch):
    """Ranked ``_set_docs``, fed as ``dedup_ngram_jaccard`` feeds it,
    shuffles the shingle occurrence rows once, on the key: the
    distinct and the document-frequency window both reuse that
    partitioning, so the plan holds exactly two exchanges, one hashed
    on the key and one on ``id`` for the per-doc aggregate."""
    from gdelt_extractor_spark.operators import dedup as D
    from gdelt_extractor_spark.sources.tables import load_table

    built, set_docs = [], D._set_docs

    def capture(*args, **kwargs):
        built.append(set_docs(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(D, "_set_docs", capture)
    # plans only: every checkpoint stays lazy
    docs = load_table(spark, sf_dir, "documents")
    monkeypatch.setattr(type(docs), "localCheckpoint", lambda self, eager=True: self)
    D.dedup_ngram_jaccard(docs, "text", "doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        built[0].explain("formatted")
    plan = buf.getvalue()
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)#", plan)
    assert n_exchanges(plan) == 2 and keys == ["shingle", "id"], plan


def test_kmeans_fit_one_python_crossing_per_round(spark, sf_dir, monkeypatch):
    """Each ``kmeans_fit`` round assigns and sums partials in ONE
    ``mapInPandas``: its collected plan holds exactly one MapInPandas
    and no ArrowEvalPython.  An assignment UDF ahead of the partials
    would ship the vectors JVM→Python twice per round, and every
    Python crossing pays the per-task worker fixed cost."""
    from gdelt_extractor_spark.operators.clustering import kmeans_fit
    from gdelt_extractor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plans, collect = [], type(emb).collect

    def capture(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(type(emb), "collect", capture)
    kmeans_fit(emb, k=4, n_iter=2)
    sample, *rounds = plans  # the first collect is the init sample
    assert "MapInPandas" not in sample and 1 <= len(rounds) <= 2, plans
    for plan in rounds:
        assert plan.count("MapInPandas") == 1 and "ArrowEvalPython" not in plan, plan
