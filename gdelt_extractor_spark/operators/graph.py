"""Graph analytics over pair/edge frames: weighted PageRank,
label-propagation communities, degree-ordered triangle counting.

Complements ``dedup.connected_components`` (cluster membership) with
influence ranking — on GDELT, PageRank over the actor-dyad matrix
(sources/gdelt.py:actor_dyad_rollup) answers "which country is the
hub of the interaction network", the canonical follow-up to the
who-acts-on-whom rollup.

Scale shape (100 TB posture): ranks are a (node, rank) frame; every
power iteration is ONE equi-join of the edge list with the rank frame
on the source key plus ONE partial-aggregated shuffle on the
destination key — no adjacency lists in memory, no driver-side graph.
Out-degree normalization is computed once before the loop.  Per-round
``localCheckpoint`` truncates lineage exactly as in
connected_components; the per-round driver traffic is ONE scalar (the
L1 convergence delta, read off the already-checkpointed result) — the
dangling mass folds into the update job as a broadcast 1-row
aggregate.  Small edge lists instead finish on the driver
(``_finish.collect_if_small``: at most ``DRIVER_FINISH_ROWS`` edges
with integral or binary-collated string ids): the GDELT callers rank CONTRACTED
graphs (country dyads, person co-mentions) whose corpus-sized work is
the upstream distributed rollup, and a sub-kilobyte rank frame pays
more per round in task scheduling than the whole computation costs in
numpy.  Both routes return the same schema, nullability included.
The float operator's iterative arithmetic is
partition-order-sensitive in the last bits, so it is property-tested
(mass conservation, known-graph ranks, dangling handling,
driver-vs-distributed equality) rather than oracle-gated; its exact
sibling ``pagerank_micro`` (r12) runs the same power iteration in
integer fixed point — order-free, so a DuckDB recursive CTE replays
it value-for-value, which is what graduated the PageRank query
family to the value-hash gate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ._finish import collect_if_small


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    max_iter: int = 30,
    tol: float = 1e-6,
    reset: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank by power iteration over an edge frame.

    Returns (node, rank) with ranks summing to 1.  ``weight`` (None →
    every edge weighs 1) is normalized per source into transition
    probabilities; dangling nodes (no out-edges) redistribute their
    mass proportionally to the reset vector, as in the original
    formulation.  Stops when the L1 rank delta drops below ``tol`` or
    after ``max_iter`` rounds.

    ``reset`` turns this into PERSONALIZED PageRank (Haveliwala 2002,
    "Topic-sensitive PageRank"): a (node, weight) frame — the teleport
    distribution, normalized internally; nodes absent from it get
    reset mass 0, so random walks restart at the SEEDS and the result
    ranks "relatedness to the seed set" instead of global influence.
    ``reset=None`` is the uniform classic (numerically identical to
    the previous signature: the reset column is 1/n everywhere).  The
    reset weight rides on the rank frame exactly like the dangling
    flag — joined once before the loop, zero per-round cost, and the
    r7 one-heavy-job-per-round fold is unchanged.

    Bounded driver finish: when ``_finish.collect_if_small`` admits
    the (string-keyed) edge list, the power iteration runs vectorized
    on the driver instead of paying ~4 scheduler stages per round on
    a sub-kilobyte frame.  This is the RIGHT 100 TB shape for the
    dyad/co-mention callers: the corpus-sized work is the upstream
    distributed rollup, and the CONTRACTED graph it emits (countries
    × countries, people seen together) is orders below the cap by
    construction — measured 9.9s → ~2s on related_actors, whose
    8-node graph was paying 0.6-0.9s of pure task-scheduling overhead
    per round.  A genuinely large graph (web pages, users) runs the
    distributed loop below.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
        w.alias("w"),
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("w") > 0))

    pdf = collect_if_small(e, ["src", "dst"])
    if pdf is not None:
        node_null = e.schema["src"].nullable or e.schema["dst"].nullable
        return _pagerank_driver(
            edges.sparkSession, pdf, node_null, damping, max_iter, tol, reset
        )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:  # rounded like the non-empty result, so rank stays nullable
        return nodes.withColumn("rank", F.round(F.lit(0.0), 8))

    out_w = e.groupBy("src").agg(F.sum("w").alias("_out"))
    # transition probabilities, fixed for the whole loop
    trans = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("_out")).alias("p"))
        .localCheckpoint(eager=True)
    )
    # dangling flag rides ON the rank frame (joined once, carried
    # through every checkpoint) so the per-round dangling mass is a
    # conditional sum over ranks — no per-round flag join
    # NO broadcast hint: has_out is node-sized (one row per node with
    # out-edges) — forcing it driver-side is an OOM at a 100× graph
    # (VERDICT r8).  The join runs once, pre-loop; AQE picks broadcast
    # on its own whenever the frame is actually small.
    has_out = out_w.select(F.col("src").alias("node"), F.lit(1).alias("_has_out"))
    nodes_f = nodes.join(has_out, "node", "left").select(
        "node", F.coalesce("_has_out", F.lit(0)).alias("_has_out")
    )
    if reset is None:
        nodes_f = nodes_f.withColumn("_rv", F.lit(1.0 / n))
    else:
        # normalize over the seeds PRESENT IN THE GRAPH — a seed
        # outside the node set would otherwise silently leak reset
        # mass and ranks would no longer sum to 1
        # aggregate per node BEFORE the rank-frame join: duplicate
        # seed rows would otherwise duplicate node rows in nodes_f
        # and double-count their mass every round (r11 review; the
        # driver finish sums duplicates the same way)
        r = (
            reset.select(
                F.col(reset.columns[0]).cast("string").alias("node"),
                F.col(reset.columns[1]).cast("double").alias("_w"),
            )
            .filter(F.col("_w") > 0)
            .join(nodes, "node")
            .groupBy("node")
            .agg(F.sum("_w").alias("_w"))
        )
        tw = r.agg(F.sum("_w")).first()[0]
        if not tw:
            raise ValueError(
                "pagerank(reset=...): no seed with positive weight is "
                "present in the graph's node set"
            )
        rv = r.select("node", (F.col("_w") / F.lit(float(tw))).alias("_rv"))
        nodes_f = nodes_f.join(F.broadcast(rv), "node", "left").select(
            "node", "_has_out", F.coalesce("_rv", F.lit(0.0)).alias("_rv")
        )
    nodes_f = nodes_f.localCheckpoint(eager=True)

    ranks = nodes_f.withColumn("rank", F.col("_rv")).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # ONE heavy job per round: the dangling mass is a 1-row
        # aggregate cross-joined (broadcast) into the update
        # projection, and the previous rank rides along as _old — so
        # the eager checkpoint below runs contrib agg + dangling agg
        # + rank update together, and the convergence check is a
        # trivial scan of the checkpointed result (formerly: separate
        # dangling-mass job, update job, and old⋈new delta join = 3
        # full jobs per round)
        dang = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("_has_out") == 0, F.col("rank"))), F.lit(0.0)
            ).alias("_dang")
        )
        contrib = (
            trans.join(ranks.select("node", "rank"), trans.src == F.col("node"))
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("_in"))
        )
        new_ranks = (
            ranks.withColumnRenamed("rank", "_old")
            .join(contrib, F.col("node") == contrib.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "_has_out",
                "_rv",
                (
                    F.lit(1.0 - damping) * F.col("_rv")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_in"), F.lit(0.0))
                        + F.col("_dang") * F.col("_rv")
                    )
                ).alias("rank"),
                "_old",
            )
            .localCheckpoint(eager=True)
        )
        delta = new_ranks.agg(F.sum(F.abs(F.col("rank") - F.col("_old")))).first()[0]
        old = ranks
        ranks = new_ranks.drop("_old")
        old.unpersist()
        if delta is not None and delta < tol:
            break
    return ranks.select("node", F.round("rank", 8).alias("rank"))


def _pagerank_driver(
    spark,
    pdf,
    node_null: bool,
    damping: float,
    max_iter: int,
    tol: float,
    reset: DataFrame | None,
) -> DataFrame:
    """Vectorized power iteration over a collected (src, dst, w) edge
    frame — the driver finish of ``pagerank``.  Same update rule,
    same dangling/reset/convergence semantics, same 8-decimal HALF_UP
    rounding and the same output schema; the float summation order
    differs from the distributed partial aggregation in the last
    bits, which is why the PageRank family is rows-only for the
    oracle gate (equality within 1e-8 is pinned by
    tests/test_graph.py)."""
    import numpy as np

    schema = StructType(
        [
            StructField("node", StringType(), node_null),
            StructField("rank", DoubleType(), True),
        ]
    )
    m = len(pdf)
    if not m:
        return spark.createDataFrame(pd.DataFrame({"node": [], "rank": []}), schema)
    nodes, inv = np.unique(
        np.concatenate([pdf["src"].to_numpy(object), pdf["dst"].to_numpy(object)]),
        return_inverse=True,
    )
    n = len(nodes)
    src_i, dst_i = inv[:m], inv[m:]
    ew = pdf["w"].to_numpy(np.float64)
    out = np.zeros(n)
    np.add.at(out, src_i, ew)
    has_out = out > 0.0
    p = ew / out[src_i]
    if reset is None:
        rv = np.full(n, 1.0 / n)
    else:
        # bound the collect by the (small, by this path's contract)
        # node set — a corpus-sized reset frame must not ship whole
        nodes_df = spark.createDataFrame([(v,) for v in nodes], "node string")
        r = (
            reset.select(
                F.col(reset.columns[0]).cast("string").alias("node"),
                F.col(reset.columns[1]).cast("double").alias("_w"),
            )
            .filter(F.col("_w") > 0)
            .join(F.broadcast(nodes_df), "node")
            .collect()
        )
        idx = {v: i for i, v in enumerate(nodes)}
        rv = np.zeros(n)
        for row in r:
            rv[idx[row.node]] += row._w
        tw = rv.sum()
        if not tw:
            raise ValueError(
                "pagerank(reset=...): no seed with positive weight is "
                "present in the graph's node set"
            )
        rv /= tw
    ranks = rv.copy()
    for _ in range(max_iter):
        dang = ranks[~has_out].sum()
        contrib = np.zeros(n)
        np.add.at(contrib, dst_i, ranks[src_i] * p)
        new = (1.0 - damping) * rv + damping * (contrib + dang * rv)
        delta = np.abs(new - ranks).sum()
        ranks = new
        if delta < tol:
            break
    # HALF_UP to 8 decimals — Spark F.round semantics, not numpy's
    # half-even (ranks are non-negative, so no sign term needed)
    rounded = np.floor(ranks * 1e8 + 0.5) / 1e8
    return spark.createDataFrame(pd.DataFrame({"node": nodes, "rank": rounded}), schema)


# Fixed-point unit of ``pagerank_micro``'s integer arithmetic (1e-12);
# the DuckDB replay interpolates it.
MICRO_SCALE = 10**12


def pagerank_micro(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping_num: int = 17,
    damping_den: int = 20,
    max_iter: int = 30,
    tol_units: int = 10**6,
    reset: DataFrame | None = None,
) -> DataFrame:
    """EXACT fixed-point PageRank — the oracle-replayable sibling of
    ``pagerank`` (r12, VERDICT r11 #2): every arithmetic step runs in
    integers, so the result is a deterministic pure function of the
    edge list that a DuckDB recursive CTE replays value-for-value
    (the ``unigram_subwords``/``actor_cores`` int64-DP discipline).
    Returns (node, rank_micro) with ``rank_micro`` = the converged
    rank in HALF_UP-rounded micro-units (1e-6); internal precision is
    1/``MICRO_SCALE`` (1e-12), so quantization error vs the float
    operator is ~max_iter/MICRO_SCALE — far below the emitted resolution
    (equivalence to ``pagerank`` within 1e-5 is property-tested).

    Exact update rule, with damping the rational
    ``damping_num/damping_den`` (default 17/20 = 0.85) and all
    divisions floor (non-negative operands, so floor == truncate in
    every engine):

        contrib[v] = Σ_{u→v} (rank[u]·w_uv) // outw[u]
        rank'[i]   = ((den−num)·rv[i]) // den
                     + (num·(contrib[i] + (dang·rv[i]) // MICRO_SCALE)) // den

    where ``rv`` is the (integer) reset vector — uniform
    ``MICRO_SCALE // n``, or personalized ``(MICRO_SCALE·w_i) // Σw`` over the
    graph-resident seeds (``pagerank``'s reset semantics; seed
    weights are cast to BIGINT, so the exact contract requires
    integer seed weights) — ``dang`` the dangling-rank sum, and the
    loop stops when Σ|Δ| < ``tol_units`` (in ``MICRO_SCALE`` units) or
    after ``max_iter`` rounds.  Integer addition is associative, so
    unlike the float operator NO term is partition-order-sensitive —
    which is exactly what makes the value-hash gate possible.

    Contract: edge weights must be positive integers (counts — the
    dyad/co-mention callers' shape; the weight column is cast to
    BIGINT), and ``_finish.collect_if_small`` must admit the edge
    list (loud error otherwise): this variant always runs on the
    driver, because its callers rank CONTRACTED graphs whose
    corpus-scale work is the upstream distributed rollup.  A
    genuinely large graph belongs on ``pagerank``'s distributed
    float loop, where a hash gate is impossible anyway (float
    partial-aggregation order) and rows-only property gates apply.
    Python's arbitrary-precision ints make every intermediate exact;
    the DuckDB twin runs the same steps in HUGEINT.
    """
    w = F.col(weight).cast("long") if weight else F.lit(1).cast("long")
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
        w.alias("w"),
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("w") > 0))
    pdf = collect_if_small(e, ["src", "dst"])
    if pdf is None:
        raise ValueError(
            "pagerank_micro: edge frame exceeds the driver-finish cap "
            "(_finish.DRIVER_FINISH_ROWS); use pagerank() (distributed "
            "float loop) for large graphs"
        )
    spark = edges.sparkSession
    if pdf.empty:
        return spark.createDataFrame([], "node string, rank_micro bigint")
    # tolist(): Python ints, so every intermediate below is exact
    srcs, dsts, ws = pdf["src"].tolist(), pdf["dst"].tolist(), pdf["w"].tolist()
    nodes = sorted(set(srcs) | set(dsts))
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    outw = [0] * n
    for node, wt in zip(srcs, ws):
        outw[idx[node]] += wt
    if reset is None:
        rv = [MICRO_SCALE // n] * n
    else:
        # bound the collect by the (small, by this path's contract)
        # node set — a corpus-sized reset frame must not ship whole
        nodes_df = spark.createDataFrame([(v,) for v in nodes], "node string")
        seed_rows = (
            reset.select(
                F.col(reset.columns[0]).cast("string").alias("node"),
                F.col(reset.columns[1]).cast("long").alias("_w"),
            )
            .filter(F.col("_w") > 0)
            .join(F.broadcast(nodes_df), "node")
            .collect()
        )
        sw = [0] * n
        for row in seed_rows:
            sw[idx[row.node]] += row._w
        tw = sum(sw)
        if not tw:
            raise ValueError(
                "pagerank_micro(reset=...): no seed with positive weight "
                "is present in the graph's node set"
            )
        rv = [(MICRO_SCALE * x) // tw for x in sw]
    num, den = damping_num, damping_den
    src_i = [idx[v] for v in srcs]
    dst_i = [idx[v] for v in dsts]
    ranks = rv[:]
    for _ in range(max_iter):
        dang = sum(ranks[i] for i in range(n) if outw[i] == 0)
        contrib = [0] * n
        for si, di, wi in zip(src_i, dst_i, ws):
            contrib[di] += (ranks[si] * wi) // outw[si]
        new = [
            ((den - num) * r_i) // den
            + (num * (c + (dang * r_i) // MICRO_SCALE)) // den
            for r_i, c in zip(rv, contrib)
        ]
        delta = sum(abs(a - b) for a, b in zip(new, ranks))
        ranks = new
        if delta < tol_units:
            break
    # HALF_UP to micro-units (non-negative, so +half then floor)
    micro = [(x * 1_000_000 + MICRO_SCALE // 2) // MICRO_SCALE for x in ranks]
    return spark.createDataFrame(
        [(nodes[i], micro[i]) for i in range(n)],
        "node string, rank_micro bigint",
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected edge frame (direction and duplicates ignored;
    self-loops dropped).

    Returns (node, degree, triangles, clustering_coeff) for every
    node, where ``clustering_coeff`` = 2·T(v) / (deg(v)·(deg(v)−1))
    (0.0 for degree < 2), rounded to 6 decimals.

    Scale shape (100 TB posture): the classic degree-ordered
    enumeration — orient every canonical edge from the endpoint with
    the smaller (degree, node) rank to the larger, so each triangle
    is generated exactly once from its lowest-rank vertex and the
    out-degree of any node in the oriented DAG is O(sqrt(m)).  The
    plan is two equi-joins: wedges by self-joining the oriented list
    on the source key, then one semi join probing the closing edge —
    no adjacency lists in memory, no driver-side graph, no N² pair
    blow-up on hub nodes (a hub's edges are oriented INTO it, so it
    never fans out wedges).
    """
    e_raw = edges.select(
        F.col(src).cast("string").alias("u"), F.col(dst).cast("string").alias("v")
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
    # canonical undirected edge set: (lo, hi) by node id, deduplicated
    canon = e_raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()

    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        # lazy: materializes inside the orientation checkpoint's job,
        # so the upstream edge build runs ONCE, not once per use
        .localCheckpoint(eager=False)
    )

    # orient from lower (degree, node) to higher; rank ties broken by
    # node id so the orientation is a strict total order (acyclic)
    with_deg = (
        canon.join(deg.withColumnsRenamed({"node": "a", "degree": "da"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "degree": "db"}), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dt"),
    ).localCheckpoint(eager=False)

    # wedges from the low-rank vertex: (s→v, s→w) with rank(v) < rank(w);
    # the triangle closes iff the oriented edge v→w exists
    e1 = oriented.select("s", F.col("t").alias("v"), F.col("dt").alias("dv"))
    e2 = oriented.select("s", F.col("t").alias("w"), F.col("dt").alias("dw"))
    wedges = e1.join(e2, "s").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(F.col("s").alias("v"), F.col("t").alias("w"))
    tris = wedges.join(closing, ["v", "w"], "left_semi").select("s", "v", "w")

    per_node = (
        tris.select(F.explode(F.array("s", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        )
        .withColumn(
            "clustering_coeff",
            F.when(
                F.col("degree") < 2, F.lit(0.0)
            ).otherwise(
                F.round(
                    2.0 * F.col("triangles")
                    / (F.col("degree") * (F.col("degree") - F.lit(1))),
                    6,
                )
            ),
        )
    )
    return out


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    2007): every node repeatedly adopts the most frequent label among
    its neighbors (ties → smallest label), starting from its own id.
    Communities are denser than connected components — a bridge edge
    joins two components but rarely flips a whole community's vote —
    so this complements ``dedup.connected_components`` (membership)
    and ``pagerank`` (influence) as the density-aware grouping.

    Determinism: synchronous updates + (count desc, label asc)
    argmax make every round a pure function of the previous labels —
    no dependence on partitioning or visit order (the classic async
    formulation is order-dependent; this is the deterministic
    variant, property-tested).  Each node also votes for its OWN
    current label (a self-loop added once before the loop): without
    the self-vote, synchronous LPA 2-cycles forever on pendant pairs
    and bipartite structures (FR–DE swaps labels every round); with
    it, ties break toward stability and such pairs converge in one
    round.  ``max_iter`` still bounds the loop; early-stop when no
    label changes.

    Scale shape: per round ONE equi-join of the symmetrized edge list
    with the (node, label) frame on the source key and ONE
    (node, label) count aggregate + per-node argmax — the same
    join-then-aggregate round as ``pagerank``, with per-round
    localCheckpoint lineage cuts.  The convergence check folds into
    the update job (previous label carried as ``_old`` through the
    checkpoint; the changed count is a trivial scan) — one heavy job
    plus one scan per round, the same fold pagerank got in r7.

    Bounded driver finish: when ``_finish.collect_if_small`` admits
    the edge list (small, and src/dst of one integral or
    binary-collated string type), the synchronous rounds run on the driver instead of paying
    two jobs of scheduler latency per round on a sub-kilobyte frame.
    Unlike pagerank's float power iteration, every LPA update is
    INTEGER counts + an order comparison on the label type, so on
    those domains the driver path is EXACTLY equal to the distributed
    loop, schema included (property-pinned by tests/test_graph.py),
    and hash-gated callers keep their oracle gates.  The GDELT caller
    (``actor_communities``) ranks a CONTRACTED country×country dyad
    graph, orders below the cap by construction.  Other id types
    (floats: NaN ordering; mixed src/dst types: the distributed
    loop's unionByName coercion) always run the distributed loop.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v"))
    )

    pdf = collect_if_small(e, ["u", "v"])
    if pdf is not None:
        u, v = e.schema["u"], e.schema["v"]
        node = StructField("node", u.dataType, u.nullable or v.nullable)
        return _label_propagation_driver(edges.sparkSession, pdf, max_iter, node)

    undirected = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = undirected.select(F.col("u").alias("node")).distinct()
    # self-loops implement the self-vote (docstring): one extra edge
    # per node, not per round
    sym = (
        undirected.unionByName(
            nodes.select(F.col("node").alias("u"), F.col("node").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(eager=True)
    for _ in range(max_iter):
        votes = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # deterministic argmax for ANY orderable label type (ids or
        # country codes): rank per node by (count desc, label asc)
        # and keep rank 1 — the window reuses the node partitioning
        # the next round's join wants
        wv = Window.partitionBy("node").orderBy(
            F.col("n").desc(), F.col("label").asc()
        )
        best = (
            votes.withColumn("_rn", F.row_number().over(wv))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
        # fold the convergence check into the update job (the r7
        # pagerank fold, propagated): the previous label rides along
        # as _old so the eager checkpoint runs votes + argmax +
        # old-label join as ONE job, and the changed count is a
        # trivial scan of the checkpointed result — formerly a
        # separate old⋈new join job per round
        nxt = best.join(
            labels.withColumnRenamed("label", "_old"), "node"
        ).localCheckpoint(eager=True)
        changed = nxt.filter(F.col("label") != F.col("_old")).count()
        old = labels
        labels = nxt.drop("_old")
        old.unpersist()
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("community"))


def _label_propagation_driver(spark, pdf, max_iter: int, node: StructField) -> DataFrame:
    """Exact driver-side finish of ``label_propagation`` over a
    collected (u, v) edge frame — same symmetrize/self-vote edge
    semantics, same synchronous (count desc, label asc) argmax, same
    early-stop.  Every update is integer counting plus an order
    comparison on the label values (Python's tuple ``min`` ==
    Catalyst's (n desc, label asc) row_number ordering on the
    integral and binary-collated string domains ``collect_if_small``
    admits), so the
    result is EXACTLY the distributed loop's, and ``node`` (the
    distributed loop's node field) gives both columns its schema."""
    schema = StructType([node, StructField("community", node.dataType, node.nullable)])
    # sym = distinct(undirected ∪ self-loops), as adjacency sets
    adj: dict = {}
    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for n in adj:
        adj[n].add(n)  # the self-vote edge, added once
    labels = {n: n for n in adj}
    for _ in range(max_iter):
        new = {}
        changed = 0
        for n, nbrs in adj.items():
            cnt: dict = {}
            for v in nbrs:
                lv = labels[v]
                cnt[lv] = cnt.get(lv, 0) + 1
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[n] = best
            if best != labels[n]:
                changed += 1
        labels = new
        if changed == 0:
            break
    return spark.createDataFrame(
        pd.DataFrame(sorted(labels.items()), columns=["node", "community"]), schema
    )


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Core decomposition: (node, coreness), where coreness(v) is the
    largest k such that v belongs to a subgraph in which every node
    has degree ≥ k — the standard density peeling behind spam-cluster
    detection and influence-zone analysis, complementing
    ``triangle_count`` (local density) and ``label_propagation``
    (community membership).

    Algorithm: synchronous H-index iteration (Lü et al. 2016, "The
    H-index of a network node"): start every node at its degree and
    repeatedly replace c(v) with the H-index of its neighbors'
    current values (the largest h with ≥ h neighbors valued ≥ h).
    The sequence is monotone non-increasing and converges EXACTLY to
    the coreness — and, being synchronous integer arithmetic, is
    deterministic regardless of partitioning (property-tested against
    naive min-degree peeling).

    Scale shape: per round ONE equi-join of the symmetrized edge list
    with the (node, value) frame and ONE per-node window + aggregate
    (both reuse the node hash partitioning), per-round
    localCheckpoint lineage cuts, and the convergence check folded
    into the update job (previous value carried as ``_old``; the
    changed count is a scan) — the same round shape as
    ``label_propagation``.
    Rounds needed in practice ≲ graph diameter; loud error if
    ``max_iter`` is hit without convergence.

    NO bounded driver finish here, deliberately (r13 negative twin of
    ``label_propagation``'s): the H-index iteration converges in ~2
    rounds on the contracted dyad callers, so the distributed loop
    already sits at the ~0.5s fixed cost of materializing + sorting a
    driver-built local relation — BOTH probe shapes (pre-checkpoint
    LIMIT cap+1, and count-after-the-sym-checkpoint) A/B'd SLOWER
    than this loop (0.68s vs 0.92s / 0.69s vs 1.02s medians, 9/9
    pairwise, sf0.1).  A driver finish pays only when rounds × jobs
    clear that floor (LPA ~4 voting rounds, pagerank ≤30 power
    rounds); see OPTIMIZATION_r13.md.
    """
    e = edges.select(
        F.col(src).cast("string").alias("u"), F.col(dst).cast("string").alias("v")
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
    canon = e.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    sym = (
        canon.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(canon.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("node").orderBy(F.col("_cv").desc())
    for _ in range(max_iter):
        nb = sym.join(
            labels.select(F.col("node").alias("v"), F.col("c").alias("_cv")), "v"
        ).select(F.col("u").alias("node"), "_cv")
        h = (
            nb.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_cv") >= F.col("_rn"))
            .groupBy("node")
            .agg(F.max("_rn").alias("c"))
        )
        # same fold as label_propagation: previous value rides as
        # _old inside the checkpoint job; changed-count is a scan
        nxt = h.join(
            labels.withColumnRenamed("c", "_old"), "node"
        ).localCheckpoint(eager=True)
        changed = nxt.filter(F.col("c") != F.col("_old")).count()
        old = labels
        labels = nxt.drop("_old")
        old.unpersist()
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"k_core: no convergence after {max_iter} rounds — raise max_iter"
        )
    return labels.select("node", F.col("c").alias("coreness"))
