"""PCA contracts (orthonormality, variance accounting, planted-basis
recovery, projection algebra) and HLL sketch-table mergeability.

PCA and the sketch estimates are rows-only for the oracle gate —
these tests ARE their correctness gate, pinning each against its
exact numpy / exact-distinct baseline.
"""

from __future__ import annotations

import numpy as np
import pytest

from gdelt_extractor_spark.operators.decomposition import (
    pca,
    pca_fit,
    pca_project,
    pca_project_quantized,
)
from gdelt_extractor_spark.operators.sketches import HLL_LG_K, hll_rollup, hll_sketch_table


def _vecs(spark, mat, ids=None):
    ids = ids if ids is not None else range(len(mat))
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _planted(n=200, d=8, seed=7):
    """Deterministic data with a known dominant basis: two orthogonal
    directions with variances ~16 and ~4, tiny isotropic noise."""
    rng = np.random.RandomState(seed)
    u1 = np.zeros(d); u1[0] = 1.0
    u2 = np.zeros(d); u2[3] = 1.0
    t1 = rng.randn(n) * 4.0
    t2 = rng.randn(n) * 2.0
    return np.outer(t1, u1) + np.outer(t2, u2) + rng.randn(n, d) * 0.01


class TestPCA:
    def test_matches_numpy_reference(self, spark):
        x = _planted()
        m = pca_fit(_vecs(spark, x), p=3)
        # exact covariance from numpy (population, ddof=0)
        cov = np.cov(x.T, ddof=0)
        w, v = np.linalg.eigh(cov)
        top = np.sort(w)[::-1][:3]
        assert np.allclose(np.sort(m.explained_var)[::-1], top, rtol=1e-4)
        assert np.allclose(m.mean, x.mean(axis=0), atol=1e-6)  # 2^-20 quantization
        assert abs(m.total_var - np.trace(cov)) < 1e-4

    def test_components_orthonormal_and_sorted(self, spark):
        m = pca_fit(_vecs(spark, _planted()), p=4)
        gram = m.components @ m.components.T
        assert np.allclose(gram, np.eye(4), atol=1e-10)
        ev = m.explained_var
        assert all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))

    def test_recovers_planted_basis(self, spark):
        m = pca_fit(_vecs(spark, _planted()), p=2)
        # first component ≈ e0, second ≈ e3 (up to the sign convention,
        # which makes the dominant loading positive)
        assert m.components[0][0] > 0.99
        assert m.components[1][3] > 0.99

    def test_quantized_projection_exact_and_partition_independent(self, spark):
        x = _planted(n=60)
        df = _vecs(spark, x)
        m = pca_fit(df, p=3)
        out1 = {
            (r.vec_id, r.dim): r.v_u
            for r in pca_project_quantized(df, m).collect()
        }
        out2 = {
            (r.vec_id, r.dim): r.v_u
            for r in pca_project_quantized(df.repartition(7), m).collect()
        }
        assert out1 == out2  # exact int64 math → partitioning-invariant
        assert len(out1) == 60 * 3
        # pure-python replica of the quantized contract (independent
        # of numpy matmul): identical ints
        mu = [int(np.floor(v * 1e6 + 0.5)) for v in m.mean]
        cu = [[int(np.floor(v * 1e6 + 0.5)) for v in row] for row in m.components]
        for i, row in enumerate(x):
            xu = [int(np.floor(v * 1e6 + 0.5)) for v in row]
            for k in range(3):
                want = sum((a - b) * c for a, b, c in zip(xu, mu, cu[k]))
                assert out1[(i, k)] == want
        # micro-unit projection ≈ float projection within quantization
        flo = {
            r.vec_id: np.array(r.pca)
            for r in pca_project(df, m).collect()
        }
        for i in range(60):
            got = np.array([out1[(i, k)] for k in range(3)]) / 1e12
            assert np.allclose(got, flo[i], atol=2e-4)

    def test_projection_matches_algebra(self, spark):
        x = _planted(n=50)
        df = _vecs(spark, x)
        m = pca_fit(df, p=2)
        got = {
            r.vec_id: np.array(r.pca)
            for r in pca_project(df, m).collect()
        }
        want = (x - m.mean) @ m.components.T
        for i in range(50):
            assert np.allclose(got[i], want[i], atol=1e-10)

    def test_projected_data_is_centered(self, spark):
        df = _vecs(spark, _planted())
        out = np.vstack([r.pca for r in pca(df, p=3).collect()])
        assert np.allclose(out.mean(axis=0), 0.0, atol=1e-5)

    def test_explained_ratio_column(self, spark):
        row = pca(_vecs(spark, _planted()), p=2).first()
        r = row.explained_ratio
        assert len(r) == 2 and r[0] >= r[1] > 0
        assert 0.9 < sum(r) <= 1.0  # two planted directions ≈ all variance

    def test_partitioning_invariance(self, spark):
        x = _planted(n=120)
        a = pca_fit(_vecs(spark, x).repartition(1), p=2)
        b = pca_fit(_vecs(spark, x).repartition(13), p=2)
        # integer-quantized moment sums make the fit bitwise
        # partition-proof
        assert np.array_equal(a.components, b.components)
        assert np.array_equal(a.explained_var, b.explained_var)

    def test_bad_inputs(self, spark):
        df = _vecs(spark, _planted(n=10, d=4))
        with pytest.raises(ValueError, match="1 <= p"):
            pca_fit(df, p=5)
        mixed = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="mixed"):
            pca_fit(mixed, p=1)


class TestHLLSketchTable:
    def _events(self, spark, n=5000, users=700):
        return spark.range(n).selectExpr(
            "cast(id % 5 as string) as etype",
            "cast(id % 13 as long) as day",
            f"concat('u', cast(id % {users} as string)) as user_id",
        )

    def test_rollup_close_to_exact(self, spark):
        from pyspark.sql import functions as F

        e = self._events(spark)
        sk = hll_sketch_table(e, ["etype", "day"], "user_id")
        out = {r.etype: r.approx_distinct for r in hll_rollup(sk, ["etype"]).collect()}
        exact = {
            r.etype: r.n
            for r in e.groupBy("etype")
            .agg(F.count_distinct("user_id").alias("n"))
            .collect()
        }
        for k, est in out.items():
            assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])

    def test_merge_equals_direct_sketch(self, spark):
        from pyspark.sql import functions as F

        e = self._events(spark)
        # union of per-day sketches == one sketch over the raw rows:
        # register max-merge is exact, not approximate
        via_rollup = hll_rollup(
            hll_sketch_table(e, ["etype", "day"], "user_id"), ["etype"]
        ).select("etype", "approx_distinct")
        direct = (
            hll_sketch_table(e, ["etype"], "user_id")
            .select(
                "etype",
                F.hll_sketch_estimate("hll_sketch").alias("approx_distinct"),
            )
        )
        assert sorted(map(tuple, via_rollup.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_partitioning_invariance(self, spark):
        e = self._events(spark)
        a = hll_rollup(
            hll_sketch_table(e.repartition(1), ["etype"], "user_id"), ["etype"]
        ).collect()
        b = hll_rollup(
            hll_sketch_table(e.repartition(17), ["etype"], "user_id"), ["etype"]
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_sketch_size_bounded(self, spark):
        sk = hll_sketch_table(
            self._events(spark, n=20000, users=20000), ["etype"], "user_id"
        ).collect()
        assert all(len(r.hll_sketch) <= 2 ** HLL_LG_K + 64 for r in sk)


class TestRandomProjection:
    def test_shape_and_determinism(self, spark):
        from gdelt_extractor_spark.operators.decomposition import random_projection

        emb = spark.createDataFrame(
            [(i, [float((i * 13 + j * 7) % 11) - 5.0 for j in range(24)])
             for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        a = {(r.vec_id, r.dim): r.value
             for r in random_projection(emb, k=8).collect()}
        b = {(r.vec_id, r.dim): r.value
             for r in random_projection(emb.repartition(7), k=8).collect()}
        assert a == b
        assert len(a) == 40 * 8

    def test_distance_preservation(self, spark):
        """JL property: pairwise squared distances in the projected
        space track the originals (correlation, not exactness — k is
        small).  Also pins the 1/sqrt(k) scaling: the MEAN ratio of
        projected to original squared distance must be near 1."""
        import numpy as np

        from gdelt_extractor_spark.operators.decomposition import random_projection

        rng = np.random.RandomState(7)
        # scale rows to varying magnitudes: iid gaussian rows have
        # concentrated pairwise distances (correlation would be
        # noise); scaling spreads them so tracking is measurable
        V = rng.randn(30, 32) * (1.0 + np.arange(30) / 6.0)[:, None]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in V[i]]) for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        rows = random_projection(emb, k=16).collect()
        P = np.zeros((30, 16))
        for r in rows:
            P[r.vec_id, r.dim] = r.value
        dv, dp = [], []
        for i in range(30):
            for j in range(i + 1, 30):
                dv.append(((V[i] - V[j]) ** 2).sum())
                dp.append(((P[i] - P[j]) ** 2).sum())
        dv, dp = np.array(dv), np.array(dp)
        ratio = dp / dv
        assert 0.7 < ratio.mean() < 1.3, ratio.mean()
        assert np.corrcoef(dv, dp)[0, 1] > 0.5

    def test_null_and_ragged_vectors_dropped(self, spark):
        from gdelt_extractor_spark.operators.decomposition import random_projection

        emb = spark.createDataFrame(
            [(1, [1.0] * 8), (2, None), (3, [1.0] * 4)],
            "vec_id long, embedding array<double>",
        )
        got = random_projection(emb, k=4).groupBy("vec_id").count().collect()
        assert {(r.vec_id, r["count"]) for r in got} == {(1, 4), (3, 4)}
