"""PageRank property tests: mass conservation, hub dominance,
uniformity on symmetric cycles, dangling redistribution, weights."""

from __future__ import annotations

import pytest

from gdelt_extractor_spark.operators import graph as G
from gdelt_extractor_spark.operators.graph import pagerank


def _edges(spark, rows, schema="src string, dst string"):
    return spark.createDataFrame(rows, schema)


def test_ranks_sum_to_one_and_hub_dominates(spark):
    # star: everyone points at h
    e = _edges(spark, [(x, "h") for x in ["a", "b", "c", "d"]])
    out = {r.node: r.rank for r in pagerank(e).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert out["h"] == max(out.values())
    assert out["h"] > 0.5
    # leaves are symmetric
    leaves = [out[x] for x in "abcd"]
    assert max(leaves) - min(leaves) < 1e-9


def test_cycle_is_uniform(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    out = {r.node: r.rank for r in pagerank(e).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert max(out.values()) - min(out.values()) < 1e-6


def test_dangling_mass_redistributed(spark):
    # b has no out-edges; total mass must still be 1
    e = _edges(spark, [("a", "b")])
    out = {r.node: r.rank for r in pagerank(e).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-6
    assert out["b"] > out["a"]


def test_weighted_edges_shift_rank(spark):
    e = _edges(
        spark,
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    out = {r.node: r.rank for r in pagerank(e, weight="w").collect()}
    assert out["b"] > out["c"], "the heavier edge must attract more rank"
    assert abs(sum(out.values()) - 1.0) < 1e-6


def test_empty_graph(spark, driver_cap):
    e = _edges(spark, [], "src string, dst string")
    drv = pagerank(e)
    assert drv.count() == 0
    # both paths agree on empty, schema included
    driver_cap(-1)
    dist = pagerank(e)
    assert dist.count() == 0
    assert drv.schema == dist.schema


# One weighted graph for the route-equality tests: weights, a dangling
# node (e) and, through ``_RESETS``, uniform, personalized and
# duplicate-seed teleport vectors.
_ROUTE_EDGES = [
    ("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0),
    ("c", "d", 2.0), ("d", "a", 1.0), ("a", "e", 3.0),
]
_RESETS = {"one": [("a", 1.0)], "dup": [("a", 0.5), ("a", 0.5)]}
_ROUTE_KWS = {
    "plain": {},
    "weighted": {"weight": "w"},
    "personalized": {"weight": "w", "reset": "one", "damping": 0.5, "tol": 1e-4},
    "dup_seeds": {"weight": "w", "reset": "dup", "damping": 0.5, "tol": 1e-4},
}


def _route_ranks(spark, e, kw):
    if "reset" in kw:
        seeds = spark.createDataFrame(_RESETS[kw["reset"]], "node string, w double")
        kw = dict(kw, reset=seeds)
    return {r.node: r.rank for r in pagerank(e, **kw).collect()}


def _schema_frames(spark):
    """Non-null ``spark.range`` edges (empty and a 5-edge chain) and
    nullable ids."""
    from pyspark.sql import functions as F

    return [
        spark.range(n).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        for n in (0, 5)
    ] + [spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")]


@pytest.fixture(scope="module")
def distributed_routes(spark):
    """The distributed route's results for the route-equality tests,
    computed once per module: ranks for every ``_ROUTE_KWS`` entry and
    the pagerank / label_propagation schemas of ``_schema_frames``.
    A cap of -1 admits no frame; ``driver_calls`` lists the driver
    finishes that ran anyway (none).  The loops run concurrently: each
    Spark round of a tiny graph is scheduling-bound, not CPU-bound."""
    from concurrent.futures import ThreadPoolExecutor

    from gdelt_extractor_spark.operators import _finish

    e = _edges(spark, _ROUTE_EDGES, "src string, dst string, w double")
    jobs = {
        k: (lambda kw=kw: _route_ranks(spark, e, kw)) for k, kw in _ROUTE_KWS.items()
    }
    for i, f in enumerate(_schema_frames(spark)):
        jobs["pagerank", i] = lambda f=f: G.pagerank(f).schema
        jobs["label_propagation", i] = lambda f=f: G.label_propagation(f).schema
    driver_calls = []

    def counted(real):
        def wrapper(*args, **kwargs):
            driver_calls.append(real.__name__)
            return real(*args, **kwargs)

        return wrapper

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_finish, "DRIVER_FINISH_ROWS", -1)
        for name in ("_pagerank_driver", "_label_propagation_driver"):
            mp.setattr(G, name, counted(getattr(G, name)))
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futures = {k: pool.submit(fn) for k, fn in jobs.items()}
            results = {k: f.result(timeout=600) for k, f in futures.items()}
    return results, driver_calls


def test_driver_finish_equals_distributed(spark, driver_cap, spy, distributed_routes):
    """The below-cap vectorized driver finish (r11) must match the
    distributed power iteration to within summation-order float noise
    on a graph exercising weights, dangling nodes and a personalized
    reset — and the cap must actually route: a cap of -1 forces the
    distributed loop, a cap below the edge count too."""
    calls = spy(G, "_pagerank_driver")
    e = _edges(spark, _ROUTE_EDGES, "src string, dst string, w double")
    kws = ("plain", "weighted", "personalized")
    fast = [_route_ranks(spark, e, _ROUTE_KWS[k]) for k in kws]
    assert len(calls) == 3
    slow, dist_calls = distributed_routes
    assert dist_calls == []
    for kw, f in zip(kws, fast):
        s = slow[kw]
        assert f.keys() == s.keys(), kw
        for node in f:
            assert abs(f[node] - s[node]) < 1e-7, (kw, node)
    # a cap smaller than the edge count routes to the distributed loop
    # (same results again, proving the size probe is correct)
    driver_cap(3)
    mid = {r.node: r.rank for r in pagerank(e, weight="w").collect()}
    assert len(calls) == 3
    assert mid == slow["weighted"]


def test_duplicate_reset_seeds_sum_on_both_paths(spark, driver_cap, distributed_routes):
    """Duplicate seed rows sum into one teleport entry on BOTH the
    driver finish and the distributed loop (r11 review: the
    distributed join used to duplicate the node's rank rows and
    double-count its mass)."""
    e = _edges(spark, _ROUTE_EDGES, "src string, dst string, w double")
    driver_cap(100_000)
    driver = {
        k: _route_ranks(spark, e, _ROUTE_KWS[k]) for k in ("dup_seeds", "personalized")
    }
    slow, dist_calls = distributed_routes
    assert dist_calls == []
    for route, ranks in (("driver", driver), ("distributed", slow)):
        got_dup, got_one = ranks["dup_seeds"], ranks["personalized"]
        assert len(got_dup) == len({n for r in _ROUTE_EDGES for n in r[:2]}), route
        for n in got_one:
            assert abs(got_dup[n] - got_one[n]) < 1e-7, (route, n)


def test_driver_finish_seed_outside_graph_raises(spark):
    e = _edges(spark, [("a", "b", 1.0)], "src string, dst string, w double")
    seeds = spark.createDataFrame([("zzz", 1.0)], "node string, w double")
    with pytest.raises(ValueError, match="no seed"):
        pagerank(e, weight="w", reset=seeds)


class TestLabelPropagation:
    def _lp(self, spark, pairs, **kw):
        from gdelt_extractor_spark.operators.graph import label_propagation

        e = spark.createDataFrame(pairs, "src long, dst long")
        return {r.node: r.community
                for r in label_propagation(e, **kw).collect()}

    def test_two_cliques_with_bridge(self, spark):
        """Two 4-cliques joined by ONE bridge edge must form two
        communities — precisely what connected components cannot
        see (it reports a single component)."""
        from itertools import combinations

        c1 = list(combinations([1, 2, 3, 4], 2))
        c2 = list(combinations([11, 12, 13, 14], 2))
        got = self._lp(spark, c1 + c2 + [(4, 11)])
        assert len({got[n] for n in (1, 2, 3, 4)}) == 1
        assert len({got[n] for n in (11, 12, 13, 14)}) == 1
        assert got[1] != got[11]

    def test_isolated_clique_converges_to_min_label(self, spark):
        from itertools import combinations

        got = self._lp(spark, list(combinations([5, 6, 7], 2)))
        assert got == {5: 5, 6: 5, 7: 5}

    def test_partition_independent(self, spark):
        from gdelt_extractor_spark.operators.graph import label_propagation

        pairs = [(i, i + 1) for i in range(20)] + [(0, 10), (5, 15)]
        e = spark.createDataFrame(pairs, "src long, dst long")
        a = {r.node: r.community for r in label_propagation(e).collect()}
        b = {r.node: r.community
             for r in label_propagation(e.repartition(7)).collect()}
        assert a == b


def test_label_propagation_string_labels(spark):
    """Labels must order correctly for non-numeric node ids (country
    codes) — the argmax tie-break is type-generic."""
    from gdelt_extractor_spark.operators.graph import label_propagation

    e = spark.createDataFrame(
        [("US", "CN"), ("CN", "RU"), ("FR", "DE")], "src string, dst string"
    )
    got = {r.node: r.community for r in label_propagation(e).collect()}
    assert got["FR"] == got["DE"]
    assert len({got["US"], got["CN"], got["RU"]} & {got["FR"]}) == 0


class TestGraphDriverFinishEquality:
    """The r13 bounded driver finish of label_propagation must be
    EXACTLY the distributed loop (unlike pagerank's float finish,
    every LPA update is integer counts + an order comparison, so
    equality is exact, not within-tolerance) — and the cap must
    actually route: a cap of -1 forces the distributed loop, a small
    cap (< |E|) falls through to it; every test observes the route
    by counting driver-finish calls.  (k_core has NO
    driver finish — both probe shapes A/B'd slower than its ~2-round
    loop; the negative twin is recorded in OPTIMIZATION_r13.md.)"""

    def _graphs(self):
        from itertools import combinations

        c1 = list(combinations([1, 2, 3, 4], 2))
        c2 = list(combinations([11, 12, 13, 14], 2))
        chain = [(i, i + 1) for i in range(20)] + [(0, 10), (5, 15)]
        dense = [
            (a, b)
            for a, b in combinations(range(24), 2)
            if (a * 7 + b * 13) % 5 == 0 or b - a == 1
        ]
        return [c1 + c2 + [(4, 11)], chain, dense]

    @staticmethod
    def _lpa(e):
        return {r.node: r.community for r in G.label_propagation(e).collect()}

    def test_label_propagation_driver_equals_distributed(self, spark, driver_cap, spy):
        calls = spy(G, "_label_propagation_driver")
        frames = [
            spark.createDataFrame(pairs, "src long, dst long")
            for pairs in self._graphs()
        ]
        drv = [self._lpa(e) for e in frames]
        assert len(calls) == len(frames)
        driver_cap(-1)
        assert drv == [self._lpa(e) for e in frames]
        assert len(calls) == len(frames)

    def test_label_propagation_driver_equals_distributed_strings(
        self, spark, driver_cap, spy
    ):
        calls = spy(G, "_label_propagation_driver")
        e = spark.createDataFrame(
            [("US", "CN"), ("CN", "RU"), ("FR", "DE"), ("DE", "FR")],
            "src string, dst string",
        )
        drv = self._lpa(e)
        assert len(calls) == 1
        driver_cap(-1)
        assert drv == self._lpa(e)
        assert len(calls) == 1

    def test_small_cap_falls_through_to_distributed(self, spark, driver_cap, spy):
        calls = spy(G, "_label_propagation_driver")
        pairs = [(i, i + 1) for i in range(10)]
        e = spark.createDataFrame(pairs, "src long, dst long")
        drv = self._lpa(e)
        driver_cap(3)
        assert self._lpa(e) == drv
        assert len(calls) == 1  # the default run only

    def test_mixed_node_types_route_distributed(self, spark, driver_cap, spy):
        # src int / dst string: the driver finish must decline and the
        # distributed loop's unionByName coercion define the result
        calls = spy(G, "_label_propagation_driver")
        e = spark.createDataFrame(
            [(1, "2"), (2, "3")], "src int, dst string"
        )
        out = self._lpa(e)
        assert calls == []
        driver_cap(-1)
        assert out == self._lpa(e)

    def test_double_ids_route_distributed(self, spark, spy):
        # floats are outside the driver finish's exactness domain (NaN
        # orders greatest in Catalyst, unordered in Python)
        calls = spy(G, "_label_propagation_driver")
        e = spark.createDataFrame(
            [(1.0, 2.0), (2.0, 3.0), (float("nan"), 1.0)], "src double, dst double"
        )
        out = self._lpa(e)
        assert calls == []
        # Catalyst orders NaN above every number, so 1.0 wins every tie
        assert len(out) == 4 and set(out.values()) == {1.0}


def test_driver_and_distributed_schemas_match(spark, spy, distributed_routes):
    """Both routes of pagerank and label_propagation return the same
    schema, nullability included — on non-null ``spark.range`` edges
    (the distributed loops keep the ids non-null), nullable ids, and
    empty input."""
    pr_calls = spy(G, "_pagerank_driver")
    lp_calls = spy(G, "_label_propagation_driver")
    frames = _schema_frames(spark)
    drv = [(G.pagerank(e).schema, G.label_propagation(e).schema) for e in frames]
    assert len(pr_calls) == len(lp_calls) == len(frames)
    dist, dist_calls = distributed_routes
    assert dist_calls == []
    assert [
        (dist["pagerank", i], dist["label_propagation", i]) for i in range(len(frames))
    ] == drv
    assert [f.nullable for f in drv[1][0]] == [False, True]
    assert [f.nullable for f in drv[1][1]] == [False, False]


class TestTriangleCount:
    def _tc(self, spark, pairs):
        from gdelt_extractor_spark.operators.graph import triangle_count

        e = spark.createDataFrame(pairs, "src string, dst string")
        return {
            r.node: (r.degree, r.triangles, r.clustering_coeff)
            for r in triangle_count(e).collect()
        }

    def test_k4_is_fully_clustered(self, spark):
        nodes = ["a", "b", "c", "d"]
        pairs = [(x, y) for x in nodes for y in nodes if x < y]
        out = self._tc(spark, pairs)
        # every node: degree 3, in C(3,2)=3 triangles, coefficient 1
        assert out == {n: (3, 3, 1.0) for n in nodes}

    def test_path_has_no_triangles(self, spark):
        out = self._tc(spark, [("a", "b"), ("b", "c")])
        assert all(t == 0 and c == 0.0 for _, t, c in out.values())

    def test_triangle_with_pendant(self, spark):
        out = self._tc(
            spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
        )
        assert out["a"] == (2, 1, 1.0)
        assert out["b"] == (2, 1, 1.0)
        assert out["c"] == (3, 1, round(2 / 6, 6))
        assert out["d"] == (1, 0, 0.0)

    def test_direction_duplicates_and_self_loops_ignored(self, spark):
        out = self._tc(
            spark,
            [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"), ("c", "a")],
        )
        assert {v[1] for v in out.values()} == {1}

    def test_matches_naive_enumeration(self, spark):
        # deterministic pseudo-random graph: 30 nodes, hash-chosen edges
        import itertools

        nodes = [f"n{i:02d}" for i in range(30)]
        pairs = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if (hash((a, b)) & 7) == 0 or abs(int(a[1:]) - int(b[1:])) == 1
        ]
        edge_set = set(pairs)
        tri_naive = {n: 0 for n in nodes}
        for x, y, z in itertools.combinations(nodes, 3):
            if (
                (x, y) in edge_set
                and (y, z) in edge_set
                and (x, z) in edge_set
            ):
                for n in (x, y, z):
                    tri_naive[n] += 1
        out = self._tc(spark, pairs)
        assert {n: v[1] for n, v in out.items()} == tri_naive


class TestKCore:
    def _kc(self, spark, pairs):
        from gdelt_extractor_spark.operators.graph import k_core

        e = spark.createDataFrame(pairs, "src string, dst string")
        return {r.node: r.coreness for r in k_core(e).collect()}

    def test_clique_with_pendant(self, spark):
        nodes = ["a", "b", "c", "d"]
        pairs = [(x, y) for x in nodes for y in nodes if x < y] + [("d", "e")]
        out = self._kc(spark, pairs)
        assert out == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 1}

    def test_path_is_one_core(self, spark):
        out = self._kc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
        assert set(out.values()) == {1}

    def test_two_triangles_with_bridge(self, spark):
        out = self._kc(
            spark,
            [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"),
             ("c", "x")],
        )
        assert all(out[n] == 2 for n in "abcxyz")

    def test_matches_naive_peeling(self, spark):
        import itertools

        nodes = [f"n{i:02d}" for i in range(24)]
        pairs = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if (hash((b, a)) & 5) == 0 or abs(int(a[1:]) - int(b[1:])) == 1
        ]
        # Matula-Beck min-degree peeling (the exact definition)
        adj = {n: set() for n in nodes}
        for a, b in pairs:
            adj[a].add(b); adj[b].add(a)
        deg = {v: len(ns) for v, ns in adj.items()}
        live = set(nodes)
        want, k = {}, 0
        while live:
            v = min(live, key=lambda x: (deg[x], x))
            k = max(k, deg[v])
            want[v] = k
            live.remove(v)
            for u in adj[v]:
                if u in live:
                    deg[u] -= 1
        assert self._kc(spark, pairs) == want


class TestScalarFoldJobCounts:
    """Pin the r8 fold: each iterative round is ONE heavy job (update
    + old-value join inside the eager checkpoint) plus ONE trivial
    changed-count scan — no separate old⋈new join job (the pagerank
    r7 fold, propagated to label_propagation and k_core)."""

    def _jobs_during(self, spark, fn):
        # AQE splits one query into a job per query stage, making
        # absolute counts meaningless (36 observed for the 9-job LPA
        # run below); disable it for the measurement window so
        # 1 action = 1 job (+1 per eager broadcast)
        tracker = spark.sparkContext.statusTracker()
        saved = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            before = set(tracker.getJobIdsForGroup(None) or [])
            fn()
            after = set(tracker.getJobIdsForGroup(None) or [])
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", saved)
        return len(after - before)

    def test_label_propagation_jobs_per_round(self, spark, driver_cap):
        from gdelt_extractor_spark.operators.graph import label_propagation

        # path graph a-b-c-d-e: labels still moving at round 3
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
            "src string, dst string",
        )
        driver_cap(-1)
        n = self._jobs_during(
            spark, lambda: label_propagation(e, max_iter=3).collect()
        )
        # driver-finish size probe = 1 (the distributed route pays it
        # at any cap), setup (sym + labels checkpoints) = 2, 3 rounds ×
        # (1 update checkpoint + 1 changed-count scan) = 6, final
        # collect = 1.  The pre-fold shape ran 3 rounds × 3 = 12 + 3
        # (the old⋈new join job per round).
        assert n <= 10, f"label_propagation ran {n} jobs (fold shape = 10)"

    def test_k_core_jobs_per_round(self, spark):
        from gdelt_extractor_spark.operators.graph import k_core

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
            "src string, dst string",
        )
        n = self._jobs_during(spark, lambda: k_core(e, max_iter=50).collect())
        # setup 2 + 2 rounds × 2 + collect 1 = 7 (triangle+pendant
        # H-index converges on round 2's no-change scan)
        assert n <= 7, f"k_core ran {n} jobs (fold shape = 7)"


class TestPersonalizedPageRank:
    def test_uniform_reset_equals_classic(self, spark):
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
            "src string, dst string",
        )
        classic = {r.node: r.rank for r in pagerank(e).collect()}
        nodes = spark.createDataFrame(
            [(n, 1.0) for n in "abcd"], "node string, w double"
        )
        pers = {r.node: r.rank for r in pagerank(e, reset=nodes).collect()}
        for n in "abcd":
            assert abs(classic[n] - pers[n]) < 1e-7

    def test_seed_locality_and_mass(self, spark):
        # two disconnected triangles; seed in one of them: ALL rank
        # mass must stay on the seeded component
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"),
             ("x", "y"), ("y", "z"), ("z", "x")],
            "src string, dst string",
        )
        seeds = spark.createDataFrame([("a", 1.0)], "node string, w double")
        out = {r.node: r.rank for r in pagerank(e, reset=seeds).collect()}
        assert abs(sum(out.values()) - 1.0) < 1e-6
        assert out["x"] == out["y"] == out["z"] == 0.0
        assert out["a"] > out["b"] > 0 and out["c"] > 0

    def test_seed_outside_graph_raises(self, spark):
        import pytest

        e = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("zz", 1.0)], "node string, w double")
        with pytest.raises(ValueError):
            pagerank(e, reset=seeds)

    def test_dangling_mass_returns_to_seeds(self, spark):
        # b is dangling; with a seeded reset its mass teleports back
        # to the seed, not uniformly
        e = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("a", 1.0)], "node string, w double")
        out = {r.node: r.rank for r in pagerank(e, reset=seeds).collect()}
        assert abs(sum(out.values()) - 1.0) < 1e-6
        assert out["a"] > out["b"]  # classic uniform gives b MORE than a


def test_no_forced_broadcast_of_node_sized_frames():
    """100 TB posture pin (VERDICT r8): graph.py must never force-
    broadcast a node-derived frame — has_out is O(|nodes|) and a
    forced hint bypasses AQE's size check (driver/executor OOM the
    moment nodes outgrow a few GB).  The only F.broadcast sites
    allowed are the genuinely small ones: the seed reset vector
    (``rv``, seed-set-sized), the 1-row dangling-mass aggregate
    (``dang``), and the driver-finish path's ``nodes_df`` (bounded by
    the driver-finish cap — it only exists when the whole edge list
    already fit on the driver).  Source pin, not a plan pin: every
    iterative op checkpoints its pre-loop frames, so the hint is
    invisible in any returned DataFrame's plan."""
    import inspect
    import re

    import gdelt_extractor_spark.operators.graph as G

    src = inspect.getsource(G)
    hints = re.findall(r"F\.broadcast\((\w+)", src)
    assert set(hints) <= {"rv", "dang", "nodes_df"}, hints


class TestPagerankMicro:
    """Exact fixed-point sibling (r12, VERDICT r11 #2): the value-hash
    gate path.  Every test also guards the DuckDB oracle contract —
    pagerank_micro must stay a deterministic pure function of the
    edge list in integer arithmetic."""

    def test_matches_float_pagerank(self, spark):
        from gdelt_extractor_spark.operators.graph import pagerank_micro

        e = spark.createDataFrame(
            [("a", "b", 2), ("b", "a", 1), ("b", "c", 1), ("c", "a", 3),
             ("a", "d", 1)],
            "src string, dst string, w long",
        )
        fl = {r.node: r.rank for r in pagerank(e, weight="w").collect()}
        mi = {
            r.node: r.rank_micro / 1e6
            for r in pagerank_micro(e, weight="w").collect()
        }
        assert set(fl) == set(mi)
        for k in fl:
            # 1e-12 internal quantization x <=30 iterations, emitted at
            # 1e-6: the two paths agree to the emitted resolution
            assert abs(fl[k] - mi[k]) < 2e-5, k

    def test_mass_conservation_micro(self, spark):
        from gdelt_extractor_spark.operators.graph import pagerank_micro

        e = spark.createDataFrame(
            [(x, "h") for x in ["a", "b", "c", "d"]], "src string, dst string"
        )
        out = {r.node: r.rank_micro for r in pagerank_micro(e).collect()}
        # floor quantization leaks < n units per iteration at 1e-12,
        # invisible at micro resolution
        assert abs(sum(out.values()) - 1_000_000) <= 5
        assert out["h"] == max(out.values())

    def test_personalized_matches_float(self, spark):
        from gdelt_extractor_spark.operators.graph import pagerank_micro

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y")],
            "src string, dst string",
        )
        seeds_f = spark.createDataFrame([("a", 1.0)], "node string, w double")
        seeds_i = spark.createDataFrame([("a", 1)], "node string, w bigint")
        fl = {
            r.node: r.rank
            for r in pagerank(e, damping=0.5, reset=seeds_f).collect()
        }
        mi = {
            r.node: r.rank_micro / 1e6
            for r in pagerank_micro(
                e, damping_num=1, damping_den=2, reset=seeds_i
            ).collect()
        }
        for k in fl:
            assert abs(fl[k] - mi[k]) < 2e-5, k
        # unreachable component gets exactly zero in the exact path
        assert mi["x"] == 0.0 and mi["y"] == 0.0

    def test_cap_guard_raises(self, spark, driver_cap):
        from gdelt_extractor_spark.operators.graph import pagerank_micro

        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
        )
        driver_cap(2)
        with pytest.raises(ValueError, match="exceeds the driver-finish cap"):
            pagerank_micro(e)

    def test_empty_graph_micro(self, spark):
        from gdelt_extractor_spark.operators.graph import pagerank_micro

        e = spark.createDataFrame([], "src string, dst string")
        assert pagerank_micro(e).count() == 0

    def test_seed_outside_graph_raises_micro(self, spark):
        from gdelt_extractor_spark.operators.graph import pagerank_micro

        e = spark.createDataFrame([("a", "b")], "src string, dst string")
        seeds = spark.createDataFrame([("zz", 3)], "node string, w bigint")
        with pytest.raises(ValueError, match="no seed"):
            pagerank_micro(e, reset=seeds)

    def test_duckdb_replay_matches_operator(self, spark):
        """End-to-end engine parity on a small graph with a dangling
        node and duplicate directed edges — the exact CTE the oracle
        entries use, via _pagerank_micro_sql."""
        import duckdb

        from __spark_entry__ import _pagerank_micro_sql
        from gdelt_extractor_spark.operators.graph import pagerank_micro

        rows = [
            ("a", "b", 2), ("b", "a", 1), ("b", "c", 1), ("c", "a", 3),
            ("a", "d", 1), ("c", "a", 2),  # duplicate directed pair
        ]
        e = spark.createDataFrame(rows, "src string, dst string, w long")
        got = {
            r.node: r.rank_micro
            for r in pagerank_micro(e, weight="w").collect()
        }
        vals = ", ".join(
            f"('{u}', '{v}', CAST({w} AS BIGINT))" for u, v, w in rows
        )
        sql = _pagerank_micro_sql(
            f"SELECT * FROM (VALUES {vals}) t(u, v, w)",
            num=17, den=20, max_iter=30, tol_units=10**6,
        )
        con = duckdb.connect()
        want = dict(con.sql(sql).fetchall())
        assert got == want
