"""ANN tests: brute-force correctness on a crafted geometry and LSH
recall against the brute-force baseline on real embeddings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdelt_extractor_spark.operators import similarity as S
from gdelt_extractor_spark.sources.tables import load_table


def test_bruteforce_topk_crafted(spark):
    vecs = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),
            (11, [0.9, 0.1]),
            (12, [0.0, 1.0]),
            (13, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([(10, [1.0, 0.0])], "query_id long, embedding array<double>")
    out = S.ann_bruteforce(vecs, q, k=2).collect()
    assert [r.nbr_id for r in sorted(out, key=lambda r: r.rank)] == [11, 12]
    assert out[0].cosine <= 1.0


def test_lsh_recall_on_clustered_vectors(spark):
    """Recall where ANN is meaningful: clustered vectors.  True
    neighbors are near-parallel → per-plane collision prob → 1 →
    multi-table recall must be high."""
    import numpy as np

    rs = np.random.RandomState(0)
    rows = []
    for c in range(10):
        center = rs.standard_normal(16)
        for j in range(20):
            v = center + 0.05 * rs.standard_normal(16)
            rows.append((c * 100 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.nbr_id) for r in S.ann_bruteforce(emb, q, k=5).collect()}
    approx = {
        (r.query_id, r.nbr_id)
        for r in S.ann_lsh(emb, q, k=5, dim=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall on clustered data: {recall}"


def test_lsh_sanity_on_diffuse_vectors(spark, sf_dir):
    """The testdata embeddings are near-orthogonal (max cosine ≈
    0.47): per-plane collision prob ≈ 0.6 → p^k·L predicts only a few
    % recall.  Assert the machinery produces valid, nonempty,
    correctly-shaped output rather than a recall level the geometry
    cannot support."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ann_lsh(emb, q, k=5).collect()
    assert len(out) > 0
    assert all(r.rank <= 5 and r.query_id < 5 and -1.0 <= r.cosine <= 1.0 for r in out)


def test_lsh_multiprobe_recall_dominates(spark, sf_dir):
    """On the diffuse testdata embeddings (near-orthogonal, worst
    case for LSH), hamming-1 multi-probe must find a superset of the
    single-probe candidates → recall vs brute force can only go up,
    and measurably does."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.nbr_id) for r in S.ann_bruteforce(emb, q, k=5).collect()}
    single = {
        (r.query_id, r.nbr_id)
        for r in S.ann_lsh(emb, q, k=5, multiprobe=0).collect()
    }
    multi = {
        (r.query_id, r.nbr_id)
        for r in S.ann_lsh(emb, q, k=5, multiprobe=1).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single
    assert r_multi >= 0.3, f"multiprobe recall on diffuse data: {r_multi}"


def test_ivf_recall_on_clustered_vectors(spark):
    """IVF with m=#true clusters and nprobe≥1 must recover nearly
    all true neighbors: Lloyd snaps centroids onto the generating
    clusters, so each query's cell holds its whole neighborhood."""
    import numpy as np

    rs = np.random.RandomState(1)
    rows = []
    for c in range(8):
        center = 3.0 * rs.standard_normal(16)
        for j in range(25):
            v = center + 0.05 * rs.standard_normal(16)
            rows.append((c * 100 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.nbr_id) for r in S.ann_bruteforce(emb, q, k=5).collect()}
    approx = {
        (r.query_id, r.nbr_id)
        for r in S.ann_ivf(emb, q, k=5, m=8, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall on clustered data: {recall}"


def test_ivf_centroids_deterministic(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    c1 = S.ivf_fit_centroids(emb, m=4, n_iter=1)
    c2 = S.ivf_fit_centroids(emb.repartition(7), m=4, n_iter=1)
    assert np.array_equal(c1, c2), "centroids must not depend on partitioning"


def test_lsh_bucket_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    b = S.lsh_multitable_udf(dim=64, n_planes=8, n_tables=3)
    v = emb.select(
        "vec_id",
        S._as_double("embedding").alias("v"),
    ).withColumn("bkts", b("v"))
    r1 = {r.vec_id: tuple(r.bkts) for r in v.collect()}
    r2 = {r.vec_id: tuple(r.bkts) for r in v.repartition(7).collect()}
    assert r1 == r2
    assert all(len(t) == 3 and all(0 <= x < 256 for x in t) for t in r1.values())


def test_fuzzy_join_semantics(spark):
    """Word-order changes match at 1.0; one-token additions at 2/3;
    single-shared-token pairs (1/3) stay below a 0.6 threshold; the
    hot-token cap preserves values for surviving pairs."""
    from gdelt_extractor_spark.operators.similarity import fuzzy_join

    left = spark.createDataFrame(
        [(1, "small ring"), (2, "red widget"), (3, "blue bolt")],
        "pid long, name string",
    )
    right = spark.createDataFrame(
        [(101, "ring small"), (102, "red widget pro"), (103, "blue cable"),
         (104, "")],
        "rid long, name string",
    )
    got = {
        (r.pid_l, r.rid_r): r.jaccard
        for r in fuzzy_join(
            left, right, "pid", "name", "rid", "name", threshold=0.5
        ).collect()
    }
    assert got == {(1, 101): 1.0, (2, 102): round(2 / 3, 6)}
    # (3,103) shares 'blue' only: 1/3 < 0.5; empty right name: no tokens
    capped = {
        (r.pid_l, r.rid_r): r.jaccard
        for r in fuzzy_join(
            left, right, "pid", "name", "rid", "name",
            threshold=0.5, max_token_df=5,
        ).collect()
    }
    assert capped == got


def test_quantize_embeddings_bounds(spark, sf_dir):
    """q ∈ [-127,127], max_err ≤ scale/2, zero vector → zeros."""
    from gdelt_extractor_spark.operators.similarity import quantize_embeddings
    from gdelt_extractor_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = quantize_embeddings(emb).collect()
    assert len(got) == emb.count()
    for r in got:
        assert all(-127 <= q <= 127 for q in r.qvec)
        assert r.max_err <= r.scale / 2 + 1e-12

    zero = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    (z,) = quantize_embeddings(zero).collect()
    assert z.scale == 0.0 and list(z.qvec) == [0, 0, 0] and z.max_err == 0.0


def test_pq_recall_on_clustered_vectors(spark):
    """PQ ADC on well-separated clusters must retrieve neighbors
    exclusively from the query's own cluster: every subspace codebook
    snaps onto the per-cluster sub-vectors, so within-cluster approx
    distances stay far below cross-cluster ones."""
    import numpy as np

    rs = np.random.RandomState(3)
    rows = []
    for c in range(8):
        center = 3.0 * rs.standard_normal(16)
        for j in range(25):
            v = center + 0.05 * rs.standard_normal(16)
            rows.append((c * 100 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.ann_pq(emb, q, k=5, ksub=8).collect()
    assert len(got) == 5 * 8
    # PQ cannot rank WITHIN a cell (same-cluster vectors share codes,
    # ties break by id — inherent to the method), so the correctness
    # property is cluster retrieval: every returned neighbor must
    # come from the query's own generating cluster, at near-zero
    # approximate distance.
    for r in got:
        assert r.nbr_id // 100 == r.query_id // 100, (r.query_id, r.nbr_id)


def test_pq_codebooks_and_codes_deterministic(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = S.pq_fit_codebooks(emb, m=4, ksub=8, n_iter=1)
    b2 = S.pq_fit_codebooks(emb.repartition(7), m=4, ksub=8, n_iter=1)
    assert np.array_equal(b1, b2), "codebooks must not depend on partitioning"
    c1 = {r.vec_id: list(r.codes) for r in S.pq_encode(emb, b1).collect()}
    c2 = {r.vec_id: list(r.codes)
          for r in S.pq_encode(emb.repartition(5), b1).collect()}
    assert c1 == c2
    m, ksub, dsub = b1.shape
    assert (m, ksub, dsub) == (4, 8, 16)
    assert all(0 <= c < ksub for cs in c1.values() for c in cs)


def test_pq_rejects_indivisible_dim(spark, sf_dir):
    import pytest as _pytest

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="not divisible"):
        S.pq_fit_codebooks(emb, m=7, ksub=4, n_iter=1)


def test_semantic_decontaminate_drops_eval_and_scaled_copies(spark):
    from gdelt_extractor_spark.operators.curation import semantic_decontaminate

    base = [1.0] + [0.0] * 7
    other = [0.0] * 7 + [1.0]
    corpus = spark.createDataFrame(
        [
            (1, base, 0),
            (2, [x * 5.0 for x in base], 0),   # scaled copy: cosine 1.0
            (3, other, 1),                      # orthogonal: survives
        ],
        "vec_id long, embedding array<double>, label int",
    )
    ev = spark.createDataFrame(
        [(100, base, 0)], "vec_id long, embedding array<double>, label int"
    )
    kept = {r.vec_id for r in
            semantic_decontaminate(corpus, ev, threshold=0.95).collect()}
    assert kept == {3}


def test_ranking_metrics_hand_computed(spark):
    import math

    results = spark.createDataFrame(
        # q1: relevant at ranks 1 and 3 (of 3 relevant total)
        # q2: nothing relevant retrieved (2 relevant exist)
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2)],
        "query_id long, nbr_id long, rank long",
    )
    qrels = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 77), (2, 78)],
        "query_id long, nbr_id long",
    )
    got = {r.query_id: r for r in
           S.ranking_metrics(results, qrels, k=3).collect()}
    q1 = got[1]
    assert (q1.n_relevant, q1.n_hits) == (3, 2)
    assert q1.recall_at_3 == round(2 / 3, 6)
    assert q1.mrr == 1.0
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert abs(q1.ndcg_at_3 - dcg / idcg) < 1e-6
    q2 = got[2]
    assert (q2.n_hits, q2.mrr, q2.ndcg_at_3) == (0, 0.0, 0.0)
    assert q2.recall_at_3 == 0.0


def test_pq_rejects_small_sample(spark):
    import pytest as _pytest

    emb = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="ksub"):
        S.pq_fit_codebooks(emb, m=2, ksub=16, n_iter=1)


def test_align_embeddings_margin_reference(spark):
    """align_embeddings matches a numpy reference of the ratio-margin
    formula (with the operator's decimal-sum averaging and round-6
    staging) on a small random corpus."""
    import numpy as np
    from decimal import Decimal

    rng = np.random.default_rng(7)
    A = rng.normal(size=(6, 8))
    B = rng.normal(size=(7, 8))
    a = spark.createDataFrame(
        [(i, [float(x) for x in A[i]]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(100 + j, [float(x) for x in B[j]]) for j in range(7)],
        "vec_id long, embedding array<double>",
    )
    k = 3
    got = {
        (r.id_a, r.id_b): (r.cosine, r.margin)
        for r in S.align_embeddings(a, b, k=k, margin_threshold=0.0).collect()
    }

    def seq_cos(x, y):
        # sequential fold, like the JVM aggregate
        dot = 0.0
        nx = ny = 0.0
        for xi, yi in zip(x, y):
            dot += xi * yi
        for xi in x:
            nx += xi * xi
        for yi in y:
            ny += yi * yi
        return round(dot / (nx ** 0.5 * ny ** 0.5), 6)

    cos = {(i, 100 + j): seq_cos(A[i], B[j]) for i in range(6) for j in range(7)}

    def avg_topk(vals):
        top = sorted(vals, reverse=True)[:k]
        s = sum(Decimal(str(v)) for v in top)
        return float(s) / k

    expect = {}
    for i in range(6):
        row = sorted(((cos[(i, 100 + j)], 100 + j) for j in range(7)),
                     key=lambda t: (-t[0], t[1]))
        best_cos, best_b = row[0]
        avg_f = avg_topk([c for c, _ in row])
        avg_b = avg_topk([cos[(x, best_b)] for x in range(6)])
        expect[(i, best_b)] = (best_cos,
                               round(best_cos / ((avg_f + avg_b) / 2.0), 6))
    assert got == expect


def test_align_embeddings_threshold_and_hub_penalty(spark):
    """A hub b-vector close to every a-vector is margin-penalized
    below a distinctive aligned pair, and the threshold filters."""
    import numpy as np

    rng = np.random.default_rng(3)
    noise = rng.normal(size=(4, 8)) * 0.05
    base = np.eye(4, 8) + noise          # 4 distinct directions
    hub = np.ones(8) / np.sqrt(8)        # close to everything
    a = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    rows_b = [(100 + i, [float(x) for x in (base[i] + noise[i])])
              for i in range(3)] + [(103, [float(x) for x in hub])]
    b = spark.createDataFrame(rows_b, "vec_id long, embedding array<double>")
    out = {r.id_a: r for r in
           S.align_embeddings(a, b, k=2, margin_threshold=0.0).collect()}
    # aligned pairs 0..2 pick their twin; their margin beats the hub match
    for i in range(3):
        assert out[i].id_b == 100 + i
    assert out[3].id_b == 103  # vec 3's best is the hub
    assert min(out[i].margin for i in range(3)) > out[3].margin
    # threshold keeps only rows at/above it
    thr = sorted(r.margin for r in out.values())[2]
    kept = S.align_embeddings(a, b, k=2, margin_threshold=thr).collect()
    assert {r.id_a for r in kept} == {i for i in range(4)
                                      if out[i].margin >= thr}


def test_align_embeddings_engines_agree(spark):
    """gemm (default), sql (legacy exact) and ivf-with-full-probe all
    produce the identical margin frame; the ivf plan has no
    nested-loop join anywhere (r9 verdict item 2)."""
    import numpy as np

    rng = np.random.default_rng(11)
    A = rng.normal(size=(10, 8))
    B = rng.normal(size=(9, 8))
    a = spark.createDataFrame(
        [(i, [float(x) for x in A[i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(100 + j, [float(x) for x in B[j]]) for j in range(9)],
        "vec_id long, embedding array<double>",
    )

    def rows(df):
        return sorted(
            (r.id_a, r.id_b, r.cosine, r.margin) for r in df.collect()
        )

    exact = rows(S.align_embeddings(a, b, k=3, margin_threshold=0.0,
                                    engine="sql"))
    assert rows(S.align_embeddings(a, b, k=3, margin_threshold=0.0,
                                   engine="gemm")) == exact
    ivf = S.align_embeddings(
        a, b, k=3, margin_threshold=0.0, engine="ivf", m=4, nprobe=4
    )
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert rows(ivf) == exact

    import pytest as _pytest

    with _pytest.raises(ValueError, match="engine"):
        S.align_embeddings(a, b, engine="GEMM")


def test_align_embeddings_gemm_drops_unusable_a_rows(spark):
    """NULL or width-mismatched a-side vectors drop from the GEMM
    engine's output (the sql engine's NULL-cosine rows fall out of
    the margin filter the same way)."""
    a = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, None),             # NULL vector
            (2, [1.0, 0.0, 0.0]),  # width mismatch vs b
        ],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = S.align_embeddings(a, b, k=2, margin_threshold=0.0).collect()
    assert {r.id_a for r in got} == {0}
    assert got[0].id_b == 100


def test_align_embeddings_dirty_elements_drop(spark):
    """Vectors with NULL / NaN ELEMENTS pass a whole-vector null
    check but would become NaN inside the GEMM and INT64_MIN in the
    integer micro round (cosine ~-9.2e12), corrupting the clean
    pairs' backward averages (r10 ADVICE, high).  All engines must
    drop such rows and agree with engine='sql' exactly — including
    the clean pair's margin, which the poisoned average used to zero
    out."""
    a = spark.createDataFrame(
        [(0, [1.0, None]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(100, [1.0, 0.2]), (101, [0.1, 1.0])],
        "vec_id long, embedding array<double>",
    )

    def rows(df):
        return sorted((r.id_a, r.id_b, r.cosine, r.margin) for r in df.collect())

    exact = rows(S.align_embeddings(a, b, k=2, margin_threshold=0.0, engine="sql"))
    assert [t[0] for t in exact] == [1]  # dirty a-row 0 dropped
    assert exact[0][3] is not None and exact[0][3] > 0.0
    assert rows(S.align_embeddings(a, b, k=2, margin_threshold=0.0)) == exact
    assert (
        rows(
            S.align_embeddings(
                a, b, k=2, margin_threshold=0.0, engine="ivf", m=2, nprobe=2
            )
        )
        == exact
    )

    # b-side: a NaN/Inf element would poison every batch's GEMM column
    b_dirty = spark.createDataFrame(
        [(100, [1.0, 0.2]), (101, [float("nan"), 1.0]), (102, [float("inf"), 0.0])],
        "vec_id long, embedding array<double>",
    )
    a_clean = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    for eng in ("gemm", "ivf", "sql"):
        got = {
            r.id_a: r.id_b
            for r in S.align_embeddings(
                a_clean, b_dirty, k=2, margin_threshold=0.0, engine=eng, m=2, nprobe=2
            ).collect()
        }
        assert got == {0: 100, 1: 100}, eng


def test_align_embeddings_ivf_null_b_vectors(spark):
    """NULL b-side vectors must not crash the ivf quantizer fit
    (review finding r10): they drop, like the gemm/sql engines."""
    a = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(100, [1.0, 0.1]), (101, None), (102, [0.1, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.id_a: r.id_b
        for r in S.align_embeddings(
            a, b, k=2, margin_threshold=0.0, engine="ivf", m=2, nprobe=2
        ).collect()
    }
    assert got == {0: 100, 1: 102}


def test_align_embeddings_mixed_id_types(spark):
    """a with long ids and b with string ids round-trip through the
    gemm and ivf Arrow schemas (review finding r10: id_b was typed
    from a's id type)."""
    a = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [("x", [1.0, 0.1]), ("y", [0.1, 1.0])],
        "vec_id string, embedding array<double>",
    )
    for eng in ("gemm", "ivf"):
        got = {
            r.id_a: r.id_b
            for r in S.align_embeddings(
                a, b, k=2, margin_threshold=0.0, engine=eng, m=2, nprobe=2
            ).collect()
        }
        assert got == {0: "x", 1: "y"}, eng


def test_align_embeddings_gemm_ragged_b_rejected(spark):
    import pytest as _pytest

    a = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    b = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="uniform-width"):
        S.align_embeddings(a, b, engine="gemm").collect()


def test_prf_ann_ivf_full_probe_matches_exact(spark):
    """prf_expand_search(ann='ivf', nprobe=m) reranks via IVF cells
    yet returns the identical top-k as the exact second pass; the
    rerank path carries one fewer corpus nested-loop pass."""
    import numpy as np

    rng = np.random.default_rng(5)
    V = rng.normal(size=(30, 8))
    vectors = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1000 + i, [float(x) for x in V[i] + 0.01]) for i in range(2)],
        "query_id long, embedding array<double>",
    )
    exact = S.prf_expand_search(vectors, queries, k=5, k_fb=3)
    approx = S.prf_expand_search(
        vectors, queries, k=5, k_fb=3, ann="ivf", m=4, nprobe=4
    )
    key = lambda df: sorted(  # noqa: E731
        (r.query_id, r.rank, r.nbr_id, r.cosine) for r in df.collect()
    )
    assert key(approx) == key(exact)
    nljs = lambda df: df._jdf.queryExecution().executedPlan().toString()  # noqa: E731
    assert nljs(approx).count("BroadcastNestedLoopJoin") < nljs(
        exact
    ).count("BroadcastNestedLoopJoin")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ann"):
        S.prf_expand_search(vectors, queries, ann="lsh")


def test_mmr_rerank_string_ids(spark):
    """mmr_rerank derives its output id types from the input — string
    doc ids round-trip (ADVICE r9)."""
    vecs = spark.createDataFrame(
        [("d1", [1.0, 0.0]), ("d2", [0.9, 0.1]), ("d3", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    results = spark.createDataFrame(
        [("qA", "d1", 0.99), ("qA", "d2", 0.98), ("qA", "d3", 0.5)],
        "query_id string, nbr_id string, cosine double",
    )
    got = S.mmr_rerank(results, vecs, k=2).collect()
    assert {r.query_id for r in got} == {"qA"}
    assert [r.nbr_id for r in sorted(got, key=lambda r: r.mmr_rank)] == [
        "d1",
        "d3",  # diversification: d3 beats the near-duplicate d2
    ]


class TestSourceSimilarity:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    def test_identical_sources_score_one(self, spark):
        from gdelt_extractor_spark.operators.similarity import source_similarity

        text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = self._docs(
            spark, [(1, "a", text), (2, "b", text), (3, "c", "x y z w q r s t u v")]
        )
        out = {(r.source_a, r.source_b): r.est_jaccard
               for r in source_similarity(docs, k=5, m=32).collect()}
        assert out[("a", "b")] == 1.0
        assert out[("a", "c")] == 0.0 and out[("b", "c")] == 0.0

    def test_estimate_tracks_exact_jaccard(self, spark):
        from gdelt_extractor_spark.operators.similarity import source_similarity

        # two sources sharing half their shingle sets: exact Jaccard
        # = |A∩B|/|A∪B|; the 64-slot estimate must land within 0.2
        words = [f"w{i}" for i in range(40)]
        a_text = " ".join(words[:30])
        b_text = " ".join(words[10:40])
        docs = self._docs(spark, [(1, "a", a_text), (2, "b", b_text)])
        k = 5
        sh = lambda t: {" ".join(t.split()[i:i + k])
                        for i in range(len(t.split()) - k + 1)}
        exact = len(sh(a_text) & sh(b_text)) / len(sh(a_text) | sh(b_text))
        got = source_similarity(docs, k=k, m=64).collect()[0]
        assert abs(got.est_jaccard - exact) < 0.2, (got.est_jaccard, exact)
        assert got.n_slots == 64

    def test_partition_invariant(self, spark):
        from gdelt_extractor_spark.operators.similarity import source_similarity

        docs = self._docs(
            spark,
            [(i, f"s{i % 3}", " ".join(f"t{(i * 7 + j) % 23}" for j in range(12)))
             for i in range(30)],
        )
        a = {tuple(r) for r in source_similarity(docs.repartition(1)).collect()}
        b = {tuple(r) for r in source_similarity(docs.repartition(13)).collect()}
        assert a == b and a


class TestMMRRerank:
    def _frame(self, spark):
        # query 0 at e0; candidates: two near-identical high-relevance
        # docs (1, 2) and one orthogonal-ish diverse doc (3)
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.9, 0.11, 0.0, 0.0]),
            (3, [0.5, 0.0, 0.85, 0.0]),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_diversifies_redundant_candidates(self, spark):
        from gdelt_extractor_spark.operators import similarity as S
        from pyspark.sql import functions as F

        emb = self._frame(spark)
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        cand = S.ann_bruteforce(emb, q, k=3)
        out = sorted(
            S.mmr_rerank(cand, emb, k=3).collect(),
            key=lambda r: r.mmr_rank,
        )
        # pick 1: highest relevance (doc 1, marginally above doc 2)
        assert out[0].nbr_id == 1
        # pick 2: the DIVERSE doc 3 must beat the near-duplicate doc 2
        # even though doc 2 has higher raw relevance
        assert out[1].nbr_id == 3
        assert out[2].nbr_id == 2
        # first pick's objective is pure relevance / 2 (lam = 0.5)
        assert abs(out[0].mmr_score - 0.5 * out[0].relevance) < 1e-9

    def test_deterministic_and_partition_independent(self, spark):
        from gdelt_extractor_spark.operators import similarity as S
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        cand = S.ann_bruteforce(emb, q, k=15)
        a = sorted(
            map(tuple, S.mmr_rerank(cand, emb, k=6).collect())
        )
        b = sorted(
            map(
                tuple,
                S.mmr_rerank(cand, emb.repartition(7), k=6).collect(),
            )
        )
        assert a == b
        # k picks per query
        import collections

        per_q = collections.Counter(r[0] for r in a)
        assert all(v == 6 for v in per_q.values())


class TestPRFExpandSearch:
    def test_expansion_pulls_in_cluster_neighbors(self, spark):
        from gdelt_extractor_spark.operators import similarity as S
        from pyspark.sql import functions as F

        # query 0 sits between a tight cluster (1, 2, 3 around e0+e1)
        # and a decoy (4, closest to the RAW query along e0); after
        # feedback expansion the cluster member 5 (pure e1, invisible
        # to the raw query) must enter the top ranks
        rows = [
            (0, [1.0, 0.4, 0.0, 0.0]),
            (1, [0.8, 0.9, 0.0, 0.0]),
            (2, [0.7, 1.0, 0.0, 0.0]),
            (3, [0.9, 0.8, 0.0, 0.0]),
            (4, [1.0, 0.0, 0.2, 0.0]),
            (5, [0.1, 1.0, 0.0, 0.0]),
            (6, [0.0, 0.0, 1.0, 0.3]),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        base = {
            r.nbr_id: r.rank
            for r in S.ann_bruteforce(emb, q, k=6).collect()
        }
        prf = {
            r.nbr_id: r.rank
            for r in S.prf_expand_search(emb, q, k=6, k_fb=3).collect()
        }
        # the raw-query decoy (4, no e1 mass) must DROP after the
        # e1-heavy feedback centroid pulls the query toward the
        # cluster, and a cluster member must overtake it
        assert prf[4] > base[4]
        assert prf[1] < base[1]
        # the orthogonal doc stays last
        assert prf[6] == max(prf.values())

    def test_deterministic_and_k_rows(self, spark):
        from gdelt_extractor_spark.operators import similarity as S
        from pyspark.sql import functions as F

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        a = sorted(map(tuple, S.prf_expand_search(emb, q, k=7).collect()))
        b = sorted(
            map(
                tuple,
                S.prf_expand_search(emb.repartition(9), q, k=7).collect(),
            )
        )
        assert a == b and len(a) == 4 * 7


def test_embedding_align_oracle_drops_dirty_vectors():
    """ADVICE r12: the embedding_align DuckDB oracle must mirror
    _finite_vec — a NaN element yields a NaN cosine that DuckDB ranks
    FIRST under cos DESC, so an unfiltered oracle would crown the
    dirty vector top-1 while the Spark engines drop it pre-kernel.
    Runs the REAL registry oracle SQL over a constructed embeddings
    view containing one NaN vector and asserts it never appears."""
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    con.sql("""
        CREATE VIEW embeddings AS
        SELECT * FROM (VALUES
          (0, 'l', [1.0, 0.0, 0.0]),
          (2, 'l', [0.0, 1.0, 0.0]),
          (1, 'l', [0.9, 0.1, 0.0]),
          (3, 'l', [0.1, 0.9, 0.0]),
          (5, 'l', ['nan'::DOUBLE, 1.0, 1.0])
        ) t(vec_id, label, embedding)
    """)
    out = con.sql(E.oracle_sql()["embedding_align"]).df()
    assert 5 not in set(out["id_b"]), "NaN vector hijacked the ranking"
    # the clean pairs still align 0-1 / 2-3
    pairs = set(zip(out["id_a"], out["id_b"]))
    assert (0, 1) in pairs and (2, 3) in pairs
