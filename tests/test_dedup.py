"""Dedup-family behavior tests on crafted micro-corpora: exact
semantics, LSH recall vs the exact jaccard baseline, simhash
properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdelt_extractor_spark.operators import dedup as D

DOCS = [
    # two exact dups (normalized): 0 & 1
    (0, "The quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the  quick brown fox jumps over the lazy dog near the river bank "),
    # near-dup of 0 (one word changed): 2
    (2, "The quick brown fox jumps over the lazy cat near the river bank"),
    # unrelated: 3
    (3, "spark plans shuffle exchange broadcast join aggregate window partition parquet pushdown"),
    # near-dup pair 4/5 (tail changed)
    (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa nu xi"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(3, "u1"), (1, "u1"), (2, "u2")], "id long, url string"
    )
    out = D.dedup_keep_first(df, "url", "id").collect()
    assert {(r.id, r.url) for r in out} == {(1, "u1"), (2, "u2")}


def test_dedup_exact_groups(docs):
    out = {r.keep_id: r.n_dups for r in D.dedup_exact(docs, "text", "doc_id").collect()}
    assert out[0] == 2          # 0 and 1 collapse
    assert 1 not in out         # 1 absorbed into 0's group
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.dedup_ngram_jaccard(docs, "text", "doc_id", threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0                     # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)           # unrelated isolated


def test_minhash_lsh_recall_vs_exact(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in D.dedup_ngram_jaccard(docs, "text", "doc_id", threshold=0.6).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in D.dedup_minhash_lsh(docs, "text", "doc_id", threshold=0.6).collect()
    }
    # verification step makes LSH output a subset of the exact pairs;
    # on this tiny corpus the high-sim pairs must all be recalled
    assert approx <= exact
    assert (0, 1) in approx
    assert len(approx) >= len(exact) - 1


def test_minhash_signature_determinism_and_shape(docs):
    s1 = {r.id: r.sig for r in D.minhash_signatures(docs, "text", "doc_id").collect()}
    s2 = {r.id: r.sig for r in D.minhash_signatures(docs, "text", "doc_id").collect()}
    assert s1 == s2
    assert all(len(sig) == D.NUM_HASHES for sig in s1.values())
    # identical docs → identical signatures; distinct docs → not all equal
    assert s1[0] == s1[1]
    assert s1[0] != s1[3]


# docs that repeat a shingle (6/7 and 8/9: equal shingle SETS, unequal
# multisets) and docs shorter than MINHASH_N tokens (10/11 identical,
# 12/13 NULL, 14 empty): no signature, never paired
REPEATS_AND_SHORT = [
    (6, "la la la la la la la la"),
    (7, "la la la la la la la la la la la"),
    (8, "one two three one two three one two three four"),
    (9, "one two three one two three four"),
    (10, "hi there"),
    (11, "hi there"),
    (12, None),
    (13, None),
    (14, ""),
]


def _py_jaccard(a: str, b: str) -> float:
    """Exact Jaccard of the two texts' MINHASH_N-token shingle SETS."""
    n = D.MINHASH_N
    sa, sb = ({tuple(t[i : i + n]) for i in range(len(t) - n + 1)} for t in (a.split(), b.split()))
    return round(len(sa & sb) / len(sa | sb), 6)


def test_minhash_lsh_md5_matches_exact_and_is_deterministic(docs, spark):
    docs = docs.unionByName(spark.createDataFrame(REPEATS_AND_SHORT, docs.schema))
    texts = {i: (t or "").lower() for i, t in DOCS + REPEATS_AND_SHORT}
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.dedup_ngram_jaccard(docs, "text", "doc_id", threshold=0.6).collect()
    }
    m1 = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.dedup_minhash_lsh(docs, "text", "doc_id", threshold=0.6).collect()
    }
    m2 = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.dedup_minhash_lsh(docs, "text", "doc_id", threshold=0.6).collect()
    }
    assert m1 == m2
    # verification is exact jaccard → surviving pairs carry the exact
    # values; LSH banding can only LOSE candidates, never invent them
    assert set(m1) <= set(exact)
    assert all(m1[p] == exact[p] == _py_jaccard(texts[p[0]], texts[p[1]]) for p in m1)
    assert {(0, 1), (6, 7), (8, 9)} <= set(m1)
    assert m1[(6, 7)] == m1[(8, 9)] == 1.0
    short = {10, 11, 12, 13, 14}
    assert not any(set(p) & short for p in m1)
    signed = {r.id for r in D.minhash_signatures(docs, "text", "doc_id").collect()}
    assert signed == set(texts) - short


def test_minhash_family_shares_one_band_join_and_one_verify(docs, spy):
    bands, verify = spy(D, "_band_pairs"), spy(D, "_verify_pairs")
    D.dedup_minhash_lsh(docs, "text", "doc_id").collect()
    assert (len(bands), len(verify)) == (1, 1)
    D.dedup_eval(docs, "text", "doc_id").collect()
    assert len(bands) == 2
    D.dedup_incremental_minhash(docs, D.minhash_band_index(docs)).collect()
    assert len(bands) == 3


def _ham64(a: int, b: int) -> int:
    """Hamming distance of two signed 64-bit fingerprints."""
    return bin((a ^ b) & (1 << 64) - 1).count("1")


def test_simhash_md5_properties(docs, spark):
    """The long fingerprint packs md5 nibble j of each token into bits
    4j..4j+3: recompute one doc's votes in Python and compare."""
    import hashlib

    from gdelt_extractor_spark.functions.text import tokens

    fp = {r.id: r.simhash for r in D.simhash(docs, "text", "doc_id").collect()}
    assert fp[0] == fp[1]  # normalization-identical docs
    toks = docs.filter("doc_id = 3").select(tokens("text").alias("t")).first().t
    votes = [0] * 64
    for t in toks:
        hx = hashlib.md5(f"simhash-v1:{t}".encode()).hexdigest()
        for i in range(64):
            votes[i] += 1 if (int(hx[i // 4], 16) >> (i % 4)) & 1 else -1
    want = sum(1 << i for i in range(64) if votes[i] > 0)
    assert fp[3] & (1 << 64) - 1 == want

    assert _ham64(fp[0], fp[2]) < _ham64(fp[0], fp[3])  # near-dup closer

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.dedup_simhash(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert pairs.get((0, 1)) == 0
    # pair hamming must equal the fingerprint-level recomputation
    assert all(_ham64(fp[a], fp[b]) == h for (a, b), h in pairs.items())


def test_simhash_md5_null_text_is_empty_token(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = {r.id: r.simhash for r in D.simhash(df, "text", "doc_id").collect()}
    assert fp[1] == fp[2]  # NULL coalesces to '' — oracle contract
    assert fp[3] != fp[1]


def test_dedup_pair_eval_counts(spark):
    pred = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (7, 8), (9, 10)], "id_a long, id_b long"
    )
    r = D.dedup_pair_eval(pred, truth).collect()[0]
    assert (r.n_pred, r.n_true, r.n_hit) == (3, 4, 2)
    assert r.precision == round(2 / 3, 6)
    assert r.recall == 0.5
    p, q = 2 / 3, 0.5
    assert r.f1 == round(2 * p * q / (p + q), 6)


def test_dedup_pair_eval_empty_pred(spark):
    pred = spark.createDataFrame([], "id_a long, id_b long")
    truth = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = D.dedup_pair_eval(pred, truth).collect()[0]
    assert (r.n_pred, r.n_true, r.n_hit) == (0, 1, 0)
    assert r.precision == 0.0 and r.recall == 0.0 and r.f1 == 0.0


def test_winnow_guarantee_and_density(spark):
    # two docs sharing a long run (>= w+k-1 = 8 tokens) MUST share a
    # fingerprint; a doc with no shared run must not pair
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, f"intro one two {shared} tail x y z"),
            (2, f"other prefix {shared} different ending w"),
            (3, "totally unrelated words nothing matching here at all ok"),
            (4, "shorty"),  # < k+w-1 tokens → no fingerprints
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in D.winnow_dup_pairs(
            df, "text", "doc_id", min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs
    assert all({a, b} == {1, 2} for a, b in pairs)
    fps = D.winnow_fingerprints(df, "text", "doc_id").collect()
    ids = {r.id for r in fps}
    assert 4 not in ids  # too short for a full hash window
    # sampling: selected fingerprints are a strict subset of all
    # k-gram hashes (density ~2/(w+1))
    n1 = len([r for r in fps if r.id == 1])
    n_grams = len(f"intro one two {shared} tail x y z".split()) - 5 + 1
    assert 0 < n1 < n_grams


def test_winnow_deterministic_and_partition_independent(docs):
    a = sorted(
        (r.id, r.fp) for r in D.winnow_fingerprints(docs, "text", "doc_id").collect()
    )
    b = sorted(
        (r.id, r.fp)
        for r in D.winnow_fingerprints(
            docs.repartition(5), "text", "doc_id"
        ).collect()
    )
    assert a == b


def test_simhash_properties(docs, spark):
    fp = {r.id: r.simhash for r in D.simhash(docs, "text", "doc_id").collect()}
    assert fp[0] == fp[1]       # normalization-identical docs
    ham02 = _ham64(fp[0], fp[2])
    ham03 = _ham64(fp[0], fp[3])
    assert ham02 < ham03        # near-dup closer than unrelated

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.dedup_simhash(docs, "text", "doc_id", max_hamming=10).collect()
    }
    assert pairs.get((0, 1)) == 0


def test_embedding_dedup_blocked(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0], 0),     # same block, near-identical
        (3, [0.0, 1.0, 0.0], 0),        # same block, orthogonal
        (4, [1.0, 0.0, 0.0], 1),        # other block: never paired w/ 1
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {(r.id_a, r.id_b) for r in D.dedup_embedding(emb, threshold=0.95).collect()}
    assert out == {(1, 2)}


def test_embedding_dedup_rejects_unknown_engine(spark):
    """ADVICE r8: a typo'd engine must raise, not silently fall
    through to the SQL path (different degenerate-input semantics)."""
    import pytest

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id long, embedding array<double>, label int"
    )
    for bad in ("GEMM", "sql ", "numpy"):
        with pytest.raises(ValueError, match="unknown engine"):
            D.dedup_embedding(emb, engine=bad)


def test_connected_components_transitive(spark):
    """A~B, B~C must form ONE cluster rooted at the min id, even
    though (A,C) was never a pair; separate components stay apart."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 20)], "id_a long, id_b long"
    )
    cc = {
        r.node: r.cluster_id
        for r in D.connected_components(edges).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_chain_beyond_one_hop(spark):
    """A long path needs multiple propagation rounds: the label of
    the far end must still reach the minimum."""
    n = 9
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    cc = D.connected_components(edges).collect()
    assert {r.cluster_id for r in cc} == {0}
    assert len(cc) == n + 1


def test_connected_components_converges_under_max_iter(spark):
    """Near-dup cliques converge in one round regardless of size."""
    clique = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    edges = spark.createDataFrame(clique, "id_a long, id_b long")
    cc = D.connected_components(edges, max_iter=2).collect()
    assert all(r.cluster_id == 0 for r in cc) and len(cc) == 6


def test_connected_components_monotone_chain_converges(spark, driver_cap):
    """ADVICE r4: value-order contraction removes ~1 node per round
    on a monotone-id path, so a 600-node chain would blow through
    max_iter=25.  Hash-priority contraction shrinks it geometrically:
    the same chain must fully converge (distributed path forced so
    the driver finish can't mask the contraction behavior)."""
    n = 600
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    driver_cap(-1)
    cc = D.connected_components(edges).collect()
    assert {r.cluster_id for r in cc} == {0}
    assert len(cc) == n + 1


def test_semantic_dedup_sound_and_recall(spark):
    """SemDeDup soundness: every reported pair's cosine really clears
    the threshold (subset of the exact all-pairs set); recall: the
    deterministic quantizer + multi-probe recovers most of the exact
    pairs on the real embeddings table."""
    from gdelt_extractor_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # exact all-pairs baseline: reuse the blocked join with ONE block
    exact = {
        (r.id_a, r.id_b)
        for r in D.dedup_embedding(
            emb.withColumn("_all", F.lit(1)),
            block_col="_all",
            threshold=0.3,
        ).collect()
    }
    sem = {
        (r.id_a, r.id_b): r.cosine
        for r in D.dedup_semantic(emb, threshold=0.3, m=8, nprobe=2).collect()
    }
    assert set(sem) <= exact, "semantic pairs must be a subset of exact"
    assert all(c >= 0.3 for c in sem.values())
    recall = len(sem) / max(1, len(exact))
    assert recall >= 0.5, f"recall {recall:.2f} below floor"
    # the registry configuration (nprobe=4, ~free after the GEMM
    # rewrite) must hold a much tighter floor
    sem4 = {
        (r.id_a, r.id_b)
        for r in D.dedup_semantic(emb, threshold=0.3, m=8, nprobe=4).collect()
    }
    assert sem4 <= exact
    assert len(sem4) / max(1, len(exact)) >= 0.9


def test_semantic_dedup_deterministic(spark):
    """Fixed quantizer seed + stable assignment: two runs agree."""
    from gdelt_extractor_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    r1 = sorted(
        (r.id_a, r.id_b) for r in D.dedup_semantic(emb, threshold=0.3, m=8).collect()
    )
    r2 = sorted(
        (r.id_a, r.id_b) for r in D.dedup_semantic(emb, threshold=0.3, m=8).collect()
    )
    assert r1 == r2 and r1


def test_keep_canonical_applies_clusters(spark):
    """Cluster members other than the canonical (min) id are dropped;
    unclustered docs pass through untouched."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (3, 1), (4, 4), (5, 4)], "node long, cluster_id long"
    )
    kept = sorted(
        r.doc_id for r in D.keep_canonical(docs, clusters).collect()
    )
    assert kept == [0, 1, 2, 4]


def test_connected_components_distributed_matches_driver_finish(
    spark, driver_cap, spy
):
    """A cap of -1 forces the fully distributed contraction loop;
    results must be identical to the default driver finish, and each
    run must take the route it is meant to."""
    import random

    calls = spy(D, "_driver_union_find")
    rng = random.Random(7)
    nodes = list(range(400))
    edges = [(a, rng.choice(nodes)) for a in nodes for _ in range(2)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    hybrid = sorted(map(tuple, D.connected_components(df).collect()))
    assert len(calls) == 1
    driver_cap(-1)
    dist = sorted(map(tuple, D.connected_components(df).collect()))
    assert len(calls) == 1
    assert hybrid == dist and hybrid


def test_connected_components_empty_edges(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(df).count() == 0


@pytest.mark.parametrize(
    "pairs", [[("01", "1")], [("01", "x"), ("1", "y")]], ids=["01-1", "01-x-1-y"]
)
def test_connected_components_string_ids(spark, driver_cap, spy, pairs):
    """String ids stay strings on the driver finish: "01" and "1" are
    different nodes (formerly int()-parsed into one node, or a crash
    on a non-numeric id), and the result equals the distributed
    loop's, values and types."""
    calls = spy(D, "_driver_union_find")
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    drv = D.connected_components(df)
    drv_rows = sorted(map(tuple, drv.collect()))
    assert len(calls) == 1
    driver_cap(-1)
    dist = D.connected_components(df)
    assert drv_rows == sorted(map(tuple, dist.collect()))
    assert len(calls) == 1
    assert drv.schema == dist.schema
    assert drv.schema.simpleString() == "struct<node:string,cluster_id:string>"
    nodes = {n for p in pairs for n in p}
    assert {n for n, _ in drv_rows} == nodes


def test_connected_components_schema_identity(spark, driver_cap, spy):
    """Both routes return the same schema, nullability included: on
    non-null ``spark.range`` edges ``node`` stays non-null, and empty
    input keeps the input's id type (formerly always bigint)."""
    calls = spy(D, "_driver_union_find")
    frames = [
        spark.range(n).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        for n in (0, 5)
    ] + [
        spark.createDataFrame([], "id_a string, id_b string"),
        spark.createDataFrame([(1, 2)], "id_a int, id_b int"),
    ]
    drv = [D.connected_components(e).schema for e in frames]
    assert len(calls) == 2  # the empty frames need no union-find
    driver_cap(-1)
    assert [D.connected_components(e).schema for e in frames] == drv
    assert len(calls) == 2
    assert [f.nullable for f in drv[1]] == [False, True]
    assert [f.dataType.simpleString() for f in drv[2]] == ["string", "string"]
    assert [f.dataType.simpleString() for f in drv[3]] == ["int", "int"]


def test_connected_components_round_pays_one_probe(spark, driver_cap, spy):
    """On admitted (integral) ids the size probe's None already proves
    the edge set non-empty, so a distributed round runs no separate
    emptiness job; only the negative test cap, where the probe proves
    nothing, falls back to ``isEmpty``."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    empties = spy(type(edges), "isEmpty")
    driver_cap(3)
    assert {r.cluster_id for r in D.connected_components(edges).collect()} == {0}
    assert empties == []
    driver_cap(-1)
    assert {r.cluster_id for r in D.connected_components(edges).collect()} == {0}
    assert empties


def test_connected_components_driver_finish_is_one_job(spark, driver_cap):
    """On admitted ids the whole answer is one probe job over the
    pairs: no symmetrize checkpoint and no relabelling join, since the
    union-find roots already are the component minima.  Rows and
    schema equal the distributed loop's."""
    edges = spark.range(12).selectExpr("id AS id_a", "(id DIV 3) * 3 AS id_b")
    edges = edges.where("id_a <> id_b")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    drv = D.connected_components(edges)
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    driver_cap(-1)
    dist = D.connected_components(edges)
    assert drv.schema == dist.schema
    assert sorted(map(tuple, drv.collect())) == sorted(map(tuple, dist.collect()))


def test_connected_components_driver_route_counts_symmetrized_edges(
    spark, driver_cap, spy
):
    """The probe runs on the pairs but admits by the symmetrized count
    (two rows per pair): at a cap of 3 one edge takes the driver
    finish and two do not."""
    calls = spy(D, "_driver_union_find")
    driver_cap(3)
    one = spark.createDataFrame([(5, 2)], "id_a long, id_b long")
    assert sorted(map(tuple, D.connected_components(one).collect())) == [(2, 2), (5, 2)]
    assert len(calls) == 1
    # disjoint, so the contracted graph is empty after one round and
    # no later round reaches the driver either
    two = spark.createDataFrame([(5, 2), (7, 9)], "id_a long, id_b long")
    assert sorted(map(tuple, D.connected_components(two).collect())) == [
        (2, 2), (5, 2), (7, 7), (9, 7)
    ]
    assert len(calls) == 1


def test_connected_components_collated_ids_route_distributed(spark, spy):
    """Collated strings compare unlike Python's ``str`` (UTF8_LCASE
    makes "A" == "a"), so the driver finish must not take them."""
    calls = spy(D, "_driver_union_find")
    df = spark.createDataFrame([("A", "b"), ("a", "c")], "id_a string, id_b string")
    df = df.select(*(F.collate(c, "UTF8_LCASE").alias(c) for c in df.columns))
    out = D.connected_components(df)
    assert out.count() > 0 and calls == []
    assert out.schema["node"].dataType == df.schema["id_a"].dataType


def test_duplicate_spans_exact_semantics(spark):
    # doc 10 repeats a 4-token phrase internally; docs 11/12 share it;
    # doc 13 is unrelated; doc 14 is shorter than k
    df = spark.createDataFrame(
        [
            (10, "one two three four filler one two three four"),
            (11, "zz one two three four yy"),
            (12, "prefix words one two three four suffix"),
            (13, "totally different words with no overlap at all here"),
            (14, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.span: (r.n_docs, r.n_total, r.first_doc)
        for r in D.duplicate_spans(df, k=4).collect()
    }
    assert out["one two three four"] == (3, 4, 10)
    # windows overlapping the shared phrase only within doc 10 twice
    # ("two three four filler" appears once) are NOT duplicated
    assert "two three four filler" not in out
    # no span from the unrelated or short doc
    assert not any("totally" in s or "tiny" in s for s in out)
    # every reported span is exactly k tokens
    assert all(len(s.split(" ")) == 4 for s in out)


def test_duplicate_spans_short_and_null_docs_excluded(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    # k=5 > every doc length: nothing to report, and nulls don't blow up
    assert D.duplicate_spans(df, k=5).count() == 0
    # k=3: the full 3-token doc text is itself the only window
    out = D.duplicate_spans(df, k=3).collect()
    assert len(out) == 1 and out[0].span == "a b c" and out[0].n_docs == 2


def test_span_dup_fraction_scores(spark):
    df = spark.createDataFrame(
        [
            (10, "one two three four filler one two three four"),
            (11, "zz one two three four yy"),
            (12, "totally different words with no overlap at all"),
            (13, "na"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.span_dup_fraction(df, k=4).collect()}
    assert set(out) == {10, 11, 12, 13}  # corpus row count preserved
    # doc 10: 6 windows, 2 of them the duplicated phrase
    assert out[10].n_windows == 6 and out[10].n_dup_windows == 2
    assert out[10].dup_frac == round(2 / 6, 6)
    # doc 11: 3 windows, 1 duplicated
    assert out[11].n_windows == 3 and out[11].n_dup_windows == 1
    # clean doc: zero dup fraction
    assert out[12].n_dup_windows == 0 and out[12].dup_frac == 0.0
    # short doc: no windows at all, still present with 0.0
    assert out[13].n_windows == 0 and out[13].dup_frac == 0.0


def test_containment_catches_quote_inclusion(spark):
    """A short doc quoted whole inside a long one: containment ~1
    while Jaccard stays below any dedup threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = (
        "intro words before the quote " + short +
        " and then a very long tail of completely unrelated prose "
        "continuing on and on with many additional distinct tokens "
        "that dilute the union far below the jaccard threshold"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "nothing shared here at all friends")],
        "doc_id long, text string",
    )
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in D.dedup_containment(df, "text", "doc_id", threshold=0.8).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    assert len(cont) == 1
    jac = {
        (r.id_a, r.id_b)
        for r in D.dedup_ngram_jaccard(df, "text", "doc_id", threshold=0.5).collect()
    }
    assert (1, 2) not in jac


def test_cut_duplicate_spans_removes_covered_tokens(spark):
    df = spark.createDataFrame(
        [
            (10, "one two three four filler one two three four"),
            (11, "zz one two three four yy"),
            (12, "clean words only in here nothing shared"),
            (13, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in D.cut_duplicate_spans(df, k=4).collect()}
    assert set(out) == {10, 11, 12, 13}
    # doc 10: dup windows at pos 0 and 5 cover tokens 0-3 and 5-8;
    # only "filler" (pos 4) survives
    assert out[10].clean_text == "filler"
    assert out[10].n_tokens == 9 and out[10].n_tokens_removed == 8
    # doc 11: window at pos 1 covers tokens 1-4
    assert out[11].clean_text == "zz yy"
    assert out[11].n_tokens_removed == 4
    # untouched doc passes through whole
    assert out[12].clean_text == "clean words only in here nothing shared"
    assert out[12].n_tokens_removed == 0
    # null text: empty, zero counts
    assert out[13].clean_text == "" and out[13].n_tokens == 0


def test_dedup_incremental_and_updated_index(spark):
    """Batch-internal dups collapse keep-lowest-id; anything whose
    hash exists in the historical index is dropped; survivors union
    into the index without growing duplicates."""
    from gdelt_extractor_spark.operators.dedup import (
        dedup_incremental,
        updated_index,
        with_content_hash,
    )

    hist = spark.createDataFrame(
        [(1, "old doc one"), (2, "old doc two")], "doc_id long, text string"
    )
    seen = with_content_hash(hist, "text").select("content_hash")
    batch = spark.createDataFrame(
        [
            (10, "brand new"),
            (11, "brand  NEW"),      # dup of 10 after normalization
            (12, "old doc one"),     # already seen
            (13, "also new"),
        ],
        "doc_id long, text string",
    )
    out = dedup_incremental(batch, seen)
    assert sorted(r.doc_id for r in out.collect()) == [10, 13]
    idx = updated_index(seen, out)
    assert idx.count() == 4
    assert idx.distinct().count() == 4


class TestIncrementalMinhash:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    BASE = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm windowsill in the afternoon sun today"
    )

    def test_drops_near_dup_of_history_keeps_novel(self, spark):
        from gdelt_extractor_spark.operators.dedup import (
            dedup_incremental_minhash,
            minhash_band_index,
        )

        hist = self._mk(spark, [(1, self.BASE)])
        idx = minhash_band_index(hist)
        batch = self._mk(
            spark,
            [
                # near-dup of history: one word changed
                (10, self.BASE.replace("warm", "cold")),
                # novel document
                (11, "completely different content about spark plans "
                     "and shuffle boundaries at large scale with "
                     "partition pruning and broadcast joins everywhere"),
            ],
        )
        got = dedup_incremental_minhash(batch, idx, threshold=0.5).collect()
        assert {r.doc_id for r in got} == {11}

    def test_batch_internal_keep_first(self, spark):
        from gdelt_extractor_spark.operators.dedup import (
            dedup_incremental_minhash,
            minhash_band_index,
        )

        empty = minhash_band_index(self._mk(spark, []).limit(0))
        batch = self._mk(
            spark,
            [
                (20, self.BASE),
                (21, self.BASE.replace("afternoon", "morning")),
                (22, "unrelated text on bucketed sinks and exactly "
                     "once semantics for streaming rollup pipelines "
                     "with watermarks and stateful session windows"),
            ],
        )
        got = dedup_incremental_minhash(batch, empty, threshold=0.5).collect()
        assert {r.doc_id for r in got} == {20, 22}

    def test_replay_converges(self, spark):
        """Running the same batch against the UPDATED index drops
        everything — the exactly-once property of the daily loop."""
        from gdelt_extractor_spark.operators.dedup import (
            dedup_incremental_minhash,
            minhash_band_index,
            updated_band_index,
        )

        hist = self._mk(spark, [(1, self.BASE)])
        idx = minhash_band_index(hist)
        batch = self._mk(
            spark,
            [(30, self.BASE.replace("fox", "wolf")),
             (31, "fresh subject matter entirely about decimal sums "
                  "and order independent aggregation over doubles in "
                  "distributed query engines with adaptive execution")],
        )
        s1 = dedup_incremental_minhash(batch, idx, threshold=0.5)
        assert {r.doc_id for r in s1.collect()} == {31}
        idx2 = updated_band_index(idx, s1)
        s2 = dedup_incremental_minhash(batch, idx2, threshold=0.5).collect()
        assert s2 == []


def test_editdistance_finds_small_mutations(spark):
    from gdelt_extractor_spark.operators.dedup import dedup_editdistance

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("lazy", "hazy")),          # 1 edit, same prefix
        (3, base.replace("jumps", "vaults")),       # few edits
        (4, "a completely different document about spark engines"),
        (5, base + " " + base),                     # same prefix, far length band
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.edit_distance
           for r in dedup_editdistance(df, "text", "doc_id").collect()}
    assert (1, 2) in out and out[(1, 2)] == 1
    assert (1, 3) in out and 0 < out[(1, 3)] <= 16
    assert not any(4 in p for p in out)
    # doc 5 shares the block prefix but lands in another length band:
    # the documented blocking recall boundary
    assert not any(5 in p for p in out)


def test_editdistance_matches_python_levenshtein(spark):
    from gdelt_extractor_spark.operators.dedup import dedup_editdistance

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    texts = {
        10: "shared prefix block aaaa bbbb cccc dddd",
        11: "shared prefix block aaaa bbXb cccc dddd",
        12: "shared prefix block aaaa bbbb cccc dxdd extra",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {(r.id_a, r.id_b): r.edit_distance
           for r in dedup_editdistance(df, "text", "doc_id").collect()}
    for (a, b), d in out.items():
        assert d == lev(texts[a][:64], texts[b][:64])
    assert (10, 11) in out


def test_span_ops_hashed_default_matches_exact_strings(spark):
    """The default xxhash64-keyed grouping must report byte-identical
    results to the collision-proof string grouping."""
    df = spark.createDataFrame(
        [
            (10, "one two three four filler one two three four"),
            (11, "zz one two three four yy"),
            (12, "clean words only in here nothing shared"),
            (13, "one two three four one two three four tail"),
            (14, None),
        ],
        "doc_id long, text string",
    )
    for fn in (D.duplicate_spans, D.span_dup_fraction, D.cut_duplicate_spans):
        hashed = sorted(map(tuple, fn(df, k=4).collect()))
        strings = sorted(map(tuple, fn(df, k=4, exact_strings=True).collect()))
        assert hashed == strings, fn.__name__


def test_dedup_semantic_string_ids(spark):
    """The GEMM rewrite must stay id-type generic: string ids pass
    through the applyInPandas schema and pair canonicalization."""
    rows = [
        ("docB", [1.0, 0.0, 0.0]),
        ("docA", [0.999, 0.01, 0.0]),
        ("docC", [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = {(r.id_a, r.id_b): r.cosine
           for r in D.dedup_semantic(emb, threshold=0.95, m=1).collect()}
    assert set(out) == {("docA", "docB")}


def test_hamming_pairs_long_wide_max_hamming(spark):
    """The 64-bit long form with max_hamming=8 (9 chunks — the old
    ceil-width layout made chunk 8 start at bit 64, a constant-0
    key) still returns exactly the within-distance pairs."""
    fps = [
        (1, 0),
        (2, 0xFF),        # 8 bits from id 1
        (3, 0x1FF),       # 9 bits from id 1, 1 from id 2
        (4, -1),          # 64 bits from id 1
    ]
    df = spark.createDataFrame(fps, "id long, fp long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.hamming_pairs(df, "id", "fp", max_hamming=8).collect()
    }
    assert got == {(1, 2): 8, (2, 3): 1}


def test_dedup_eval_shared_pass_matches_composition(spark, docs):
    """The shared-pass dedup_eval audit equals the naive composition
    of dedup_minhash_lsh(md5) vs dedup_ngram_jaccard through
    dedup_pair_eval (r10: one tokenize/shingle pass, same values)."""
    composed = D.dedup_pair_eval(
        D.dedup_minhash_lsh(docs, "text", "doc_id", threshold=0.6),
        D.dedup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.6,
                              max_shingle_df=100),
    ).collect()[0]
    shared = D.dedup_eval(docs, "text", "doc_id", n=3, threshold=0.6).collect()[0]
    assert shared.asDict() == composed.asDict()
    # and the audit finds the known near-dup structure of the corpus
    assert shared.n_true >= 1 and shared.n_pred >= 1


def test_dedup_eval_48bit_collision_divergence(spark):
    """Pin the DOCUMENTED truth-side divergence (r10 ADVICE low) with
    a REAL 48-bit collision: md5('mhlsh-v1:c8304179') and
    md5('mhlsh-v1:c22770794') share the first 12 hex chars
    (3fe03f9f567d — found by birthday search), so dedup_eval's
    hash-set truth sees the two tokens as one shared shingle while
    dedup_ngram_jaccard's exact string sets do not.  Two docs
    differing only in the collided token: string Jaccard 2/4 = 0.5,
    hash Jaccard 3/3 = 1.0 — at threshold 0.7 the string baseline
    reports no pair but the hash-set audit counts one."""
    import hashlib

    a, b = "c8304179", "c22770794"
    assert a != b
    assert (
        hashlib.md5(f"mhlsh-v1:{a}".encode()).hexdigest()[:12]
        == hashlib.md5(f"mhlsh-v1:{b}".encode()).hexdigest()[:12]
        == "3fe03f9f567d"
    )
    df = spark.createDataFrame(
        [(1, f"{a} x1 x2"), (2, f"{b} x1 x2")], "doc_id long, text string"
    )
    # exact string sets: jaccard 0.5 < 0.7 → no pair
    assert (
        D.dedup_ngram_jaccard(df, "text", "doc_id", n=1, threshold=0.7).count()
        == 0
    )
    # hash sets: the collision merges the differing tokens → jaccard
    # 1.0 → the audit's truth side counts the pair
    ev = D.dedup_eval(df, "text", "doc_id", n=1, threshold=0.7).collect()[0]
    assert ev.n_true == 1
    # below both jaccards the two sides agree again — the divergence
    # is exactly the collision, nothing else
    assert (
        D.dedup_ngram_jaccard(df, "text", "doc_id", n=1, threshold=0.4).count()
        == 1
    )
    ev_lo = D.dedup_eval(df, "text", "doc_id", n=1, threshold=0.4).collect()[0]
    assert ev_lo.n_true == 1


def test_dedup_incremental_minhash_md5_portable(spark, docs):
    """The md5-portable incremental path: an indexed near-dup
    arriving in the batch drops, genuinely new docs survive, and
    results are deterministic."""
    hist = docs.filter(F.col("doc_id") <= 2)
    idx = D.minhash_band_index(hist)
    batch = spark.createDataFrame(
        [
            # near-dup of history doc 0 (tail appended) → must drop
            (10, DOCS[0][1] + " zz yy"),
            # exact dup of in-batch id 10 → internal drop (lower id wins)
            (11, DOCS[0][1] + " zz yy"),
            # genuinely new → survives
            (12, "completely different tokens about streaming watermark state eviction policies"),
        ],
        "doc_id long, text string",
    )
    out1 = sorted(
        r.doc_id
        for r in D.dedup_incremental_minhash(
            batch, idx, threshold=0.5
        ).collect()
    )
    out2 = sorted(
        r.doc_id
        for r in D.dedup_incremental_minhash(
            batch, idx, threshold=0.5
        ).collect()
    )
    assert out1 == out2 == [12]


def test_updated_band_index_md5_roundtrip(spark, docs):
    """updated_band_index extends the index from the survivors' own
    sig column so the same survivor re-submitted tomorrow is
    dropped."""
    hist = docs.filter(F.col("doc_id") <= 2)
    idx = D.minhash_band_index(hist)
    batch = spark.createDataFrame(
        [(20, "completely different tokens about streaming watermark state eviction policies")],
        "doc_id long, text string",
    )
    surv = D.dedup_incremental_minhash(batch, idx, threshold=0.5)
    assert [r.doc_id for r in surv.collect()] == [20]
    idx2 = D.updated_band_index(idx, surv)
    resubmit = spark.createDataFrame(
        [(30, "completely different tokens about streaming watermark state eviction policies")],
        "doc_id long, text string",
    )
    again = D.dedup_incremental_minhash(resubmit, idx2, threshold=0.5)
    assert again.count() == 0


def test_hot_shingle_checkpoint_bound(spark):
    """r12 ADVICE (low): the capped path's flagged checkpoint keeps
    hot-shingle rows resident — they are excluded from CANDIDATE
    GENERATION only, because the verify counts full distinct
    intersections (hot shingles included).  Pin both halves of that
    contract on an everywhere-hot-shingle corpus:

    (a) correctness — docs sharing ONLY the hot shingle never pair
        (no cold candidate path), while a true near-dup pair still
        verifies with the hot shingle counted in its exact jaccard;
    (b) footprint — every block the query leaves persisted (the
        flagged index checkpoint included) carries a storage level
        with DISK enabled, so a pathological mega-hot shingle spills
        to executor-local disk instead of growing the heap unbounded
        (localCheckpoint's MEMORY_AND_DISK default, documented at the
        flagged sites in dedup.py).
    """
    sc = spark.sparkContext
    spark.catalog.clearCache()
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist()

    n_docs = 30
    rows = [
        (i, f"hot stuff here w{i}a w{i}b w{i}c w{i}d w{i}e")
        for i in range(n_docs - 2)
    ]
    # 28/29: near-dup pair sharing cold shingles beyond the hot one
    rows.append((28, "hot stuff here same same same same tail one"))
    rows.append((29, "hot stuff here same same same same tail two"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.dedup_ngram_jaccard(
        df, "text", "doc_id", n=3, threshold=0.05, max_shingle_df=5
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    # (a) only the cold-shingle near-dup pair survives; its jaccard
    # counts the hot shingle: |A∩B|=5 (1 hot + 4 cold), |A∪B|=7
    assert set(pairs) == {(28, 29)}
    assert pairs[(28, 29)] == round(5 / 7, 6)
    # (b) everything left persisted (flagged index + bounded result
    # checkpoints) must be allowed to spill
    jrdds = list(sc._jsc.getPersistentRDDs().values())
    assert jrdds, "expected the flagged/result checkpoints to be persisted"
    assert all(r.getStorageLevel().useDisk() for r in jrdds)
    for rdd in jrdds:
        rdd.unpersist()


def test_shingle_pairs_keep_rounding_edge_pairs(spark):
    """A pair whose exact value is 2/3 rounds to 0.666667, so at
    threshold 0.666667 it belongs in the output.  Every candidate
    filter of the three shingle-pair operators must carry the same
    1e-6 slack as the round(value, 6) ≥ threshold acceptance, capped
    or not."""
    t = 0.666667
    schema = "doc_id long, text string"
    jdf = spark.createDataFrame([(1, "p q"), (2, "p q r")], schema)
    cdf = spark.createDataFrame([(1, "p q r"), (2, "p q s t")], schema)
    for cap in (100, None):
        jac = D.dedup_ngram_jaccard(
            jdf, "text", "doc_id", n=1, threshold=t, max_shingle_df=cap
        )
        assert [tuple(r) for r in jac.collect()] == [(1, 2, t)], cap
        cont = D.dedup_containment(
            cdf, "text", "doc_id", n=1, threshold=t, max_shingle_df=cap
        )
        assert [tuple(r) for r in cont.collect()] == [(1, 2, t)], cap
        ev = D.dedup_eval(
            jdf, "text", "doc_id", n=1, threshold=t, max_shingle_df=cap
        ).collect()[0]
        assert (ev.n_pred, ev.n_true, ev.n_hit, ev.precision) == (1, 1, 1, 1.0), cap
