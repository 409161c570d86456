"""Bloom-prefiltered semi join: exactness vs the plain semi join,
superset soundness without verify, bounded bitmap, and the
codegen-only probe (no Python eval in the plan)."""

import random

from pyspark.sql import functions as F

from gdelt_extractor_spark.operators.joins import (
    bloom_build,
    bloom_probe,
    bloom_semi_join,
)


def _tables(spark, seed=0, n_fact=2000, n_dim=60):
    rng = random.Random(seed)
    fact = spark.createDataFrame(
        [(i, rng.randint(0, 500)) for i in range(n_fact)], "id long, k long"
    ).repartition(5)
    dim = spark.createDataFrame(
        [(rng.randint(0, 500),) for _ in range(n_dim)], "k long"
    ).repartition(3)
    return fact, dim


def test_exact_matches_semi_join(spark):
    fact, dim = _tables(spark)
    got = sorted(r["id"] for r in bloom_semi_join(fact, dim, "k").collect())
    want = sorted(
        r["id"] for r in fact.join(dim, "k", "left_semi").collect()
    )
    assert got == want and len(want) > 0


def test_noverify_is_superset(spark):
    fact, dim = _tables(spark, seed=1)
    # tiny bitmap → false positives likely, but never false negatives
    loose = set(
        r["id"]
        for r in bloom_semi_join(
            fact, dim, "k", n_bits=256, n_hashes=2, verify=False
        ).collect()
    )
    exact = set(r["id"] for r in fact.join(dim, "k", "left_semi").collect())
    assert exact <= loose


def test_bitmap_bounded_and_odd_bits(spark):
    _, dim = _tables(spark, seed=2)
    words = bloom_build(dim, "k", n_bits=100, n_hashes=3)
    assert len(words) == 2  # ceil(100/64)
    assert any(w != 0 for w in words)


def test_empty_dim(spark):
    fact, dim = _tables(spark, seed=3)
    empty = dim.filter(F.lit(False))
    assert bloom_semi_join(fact, empty, "k").count() == 0


def test_probe_roundtrip(spark):
    # every inserted key must probe true (no false negatives)
    _, dim = _tables(spark, seed=4)
    words = bloom_build(dim, "k", n_bits=1 << 12, n_hashes=4)
    probe_df = dim.join(
        F.broadcast(
            dim.sparkSession.createDataFrame([(words,)], "w array<long>")
        )
    )
    n_bad = probe_df.filter(
        ~bloom_probe(F.col("k"), F.col("w"), 4, 1 << 12)
    ).count()
    assert n_bad == 0


def test_no_python_eval_in_plan(spark):
    fact, dim = _tables(spark, seed=5)
    plan = (
        bloom_semi_join(fact, dim, "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan  # probe is pure JVM arithmetic


class TestNearestJoin:
    def _nj(self, spark, pts, anc, **kw):
        from gdelt_extractor_spark.operators.geo import nearest_join

        p = spark.createDataFrame(pts, "pid long, lat double, lon double")
        a = spark.createDataFrame(anc, "aid string, lat double, lon double")
        return nearest_join(p, a, "pid", "aid", **kw).collect()

    def test_picks_closer_anchor_with_correct_distance(self, spark):
        import math

        out = self._nj(
            spark,
            [(1, 1.0, 1.0)],
            [("near", 0.0, 0.0), ("far", 10.0, 10.0)],
            cell_deg=90.0,
        )
        assert len(out) == 1 and out[0].aid == "near"
        # manual haversine
        r1, r2 = math.radians(1.0), math.radians(0.0)
        a = (
            math.sin(math.radians(-1.0) / 2) ** 2
            + math.cos(r1) * math.cos(r2) * math.sin(math.radians(-1.0) / 2) ** 2
        )
        want = round(2 * 6371.0088 * math.asin(math.sqrt(a)), 3)
        assert out[0].dist_km == want

    def test_longitude_wraparound(self, spark):
        out = self._nj(
            spark,
            [(1, 0.0, 179.5)],
            [("wrapped", 0.0, -179.5), ("same_side", 0.0, 150.0)],
            cell_deg=10.0,
        )
        assert out[0].aid == "wrapped"
        assert out[0].dist_km < 120  # ~111 km across the antimeridian

    def test_k2_ranks(self, spark):
        out = self._nj(
            spark,
            [(1, 0.0, 0.0)],
            [("a", 0.0, 1.0), ("b", 0.0, 2.0), ("c", 0.0, 50.0)],
            k=2,
            cell_deg=90.0,
        )
        got = {r.rank: r.aid for r in out}
        assert got == {1: "a", 2: "b"}

    def test_pruned_grid_matches_brute_force(self, spark):
        import hashlib
        import math

        def h(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

        # anchor lattice every 10 degrees: true nearest is always
        # within one 10-degree cell ring
        anchors = [
            (f"a{la}_{lo}", float(la), float(lo))
            for la in range(-80, 90, 10)
            for lo in range(-180, 180, 10)
        ]
        points = [
            (i, h(f"la{i}") % 16000 / 100.0 - 80, h(f"lo{i}") % 36000 / 100.0 - 180)
            for i in range(60)
        ]

        def hav(p, a):
            dla = math.radians(a[1] - p[1]) / 2
            dlo = math.radians(a[2] - p[2]) / 2
            x = (
                math.sin(dla) ** 2
                + math.cos(math.radians(p[1]))
                * math.cos(math.radians(a[1]))
                * math.sin(dlo) ** 2
            )
            return 2 * 6371.0088 * math.asin(math.sqrt(x))

        want = {
            p[0]: min(anchors, key=lambda a: (hav(p, a), a[0]))[0]
            for p in points
        }
        out = self._nj(spark, points, anchors, cell_deg=10.0)
        assert {r.pid: r.aid for r in out} == want


class TestLinkageScore:
    def _frames(self, spark):
        a = spark.createDataFrame(
            [(1, "k1", "ann", "x"), (2, "k1", "bob", "y"), (3, "k2", "cat", "z")],
            "ida long, blk string, name string, tag string",
        )
        b = spark.createDataFrame(
            [(10, "k1", "ann", "x"), (11, "k1", "ann", "q"), (12, "k2", None, "z")],
            "idb long, blk string, name string, tag string",
        )
        return a, b

    def test_hand_scores_and_decisions(self, spark):
        import math

        from pyspark.sql import functions as F

        from gdelt_extractor_spark.operators.linkage import linkage_score

        a, b = self._frames(spark)
        out = linkage_score(
            a, b, ["blk"], "ida", "idb",
            {"name": F.col("a.name") == F.col("b.name"),
             "tag": F.col("a.tag") == F.col("b.tag")},
            m={"name": 0.9, "tag": 0.8},
            u={"name": 0.01, "tag": 0.25},
        ).collect()
        w = {
            ("name", True): math.log(0.9 / 0.01),
            ("name", False): math.log(0.1 / 0.99),
            ("tag", True): math.log(0.8 / 0.25),
            ("tag", False): math.log(0.2 / 0.75),
        }
        got = {(r.id_a, r.id_b): r for r in out}
        # k1 block: 2 a-rows x 2 b-rows; k2: 1 x 1
        assert len(got) == 5
        r = got[(1, 10)]  # both agree
        assert r.agree_name and r.agree_tag
        assert abs(r.fs_score - round(w[("name", True)] + w[("tag", True)], 6)) < 1e-9
        assert r.decision == "match"
        r = got[(1, 11)]  # name agrees, tag not
        assert r.agree_name and not r.agree_tag
        # ln(.9/.01) + ln(.2/.75) = 4.50 - 1.32 = 3.18: above the
        # non-match cut, below the match cut
        assert r.decision == "possible"
        assert abs(r.fs_score - round(w[("name", True)] + w[("tag", False)], 6)) < 1e-9
        r = got[(2, 10)]  # nothing agrees
        assert r.decision == "non_match"
        # NULL comparator counts as disagreement, never NULL score
        r = got[(3, 12)]
        assert not r.agree_name and r.agree_tag
        assert r.fs_score is not None

    def test_validation(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from gdelt_extractor_spark.operators.linkage import linkage_score

        a, b = self._frames(spark)
        comp = {"name": F.col("a.name") == F.col("b.name")}
        with pytest.raises(ValueError):
            linkage_score(a, b, ["blk"], "ida", "idb", comp,
                          m={"other": 0.9}, u={"name": 0.1})
        with pytest.raises(ValueError):
            linkage_score(a, b, ["blk"], "ida", "idb", comp,
                          m={"name": 0.1}, u={"name": 0.9})  # u > m


class TestGoldenRecord:
    def test_per_field_survivorship(self, spark):
        from gdelt_extractor_spark.operators.linkage import golden_record

        rows = [
            (1, "c1", 3.0, "Ann", None),
            (2, "c1", 5.0, None, "ann@x.com"),
            (3, "c1", 1.0, "Annie", "old@x.com"),
            (4, "c2", 2.0, "Bob", "bob@y.com"),
            (5, "c3", 1.0, None, None),  # all-null cluster field
        ]
        df = spark.createDataFrame(
            rows, "id long, cl string, prio double, name string, email string"
        )
        out = {r.cluster: r for r in golden_record(
            df, "cl", "prio", ["name", "email"], id_col="id").collect()}
        g = out["c1"]
        # highest-prio row donates the id; each field falls to its
        # first NON-NULL donor in priority order
        assert g.primary_id == 2 and g.name == "Ann" and g.email == "ann@x.com"
        assert g.n_members == 3
        assert out["c2"].n_members == 1 and out["c2"].name == "Bob"
        assert out["c3"].name is None and out["c3"].email is None

    def test_partition_invariant(self, spark):
        from gdelt_extractor_spark.operators.linkage import golden_record

        rows = [(i, f"c{i % 7}", float((i * 13) % 5),
                 None if i % 3 == 0 else f"n{i}",
                 None if i % 4 == 0 else f"e{i}") for i in range(70)]
        df = spark.createDataFrame(
            rows, "id long, cl string, prio double, name string, email string"
        )
        a = {tuple(r) for r in golden_record(df, "cl", "prio", ["name", "email"], id_col="id").collect()}
        b = {tuple(r) for r in golden_record(df.repartition(9), "cl", "prio", ["name", "email"], id_col="id").collect()}
        assert a == b
