"""Property tests (hypothesis) for hash/dedup/text invariants.

Each example materializes a whole batch of generated documents into
one Spark job, so examples stay cheap; max_examples is small because
every example is already a many-row test.
"""

from __future__ import annotations

import itertools
import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gdelt_extractor_spark.functions.text import normalize_text, tokens
from gdelt_extractor_spark.operators.curation import sample_split
from gdelt_extractor_spark.operators.dedup import dedup_exact, simhash
from gdelt_extractor_spark.operators.textstats import token_stats

TEXT = st.text(
    alphabet=st.characters(codec="ascii", exclude_categories=("Cc", "Cs")),
    min_size=0,
    max_size=120,
)
DOCS = st.lists(TEXT, min_size=1, max_size=24)

PROP = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@given(DOCS)
@PROP
def test_normalize_idempotent(spark, texts):
    df = _df(spark, texts).select(
        normalize_text("text").alias("n1"),
        normalize_text(normalize_text("text")).alias("n2"),
    )
    assert df.filter(F.col("n1") != F.col("n2")).count() == 0


@given(DOCS)
@PROP
def test_dedup_exact_partitions_rows(spark, texts):
    """Group sizes must sum to the row count, and keep_id must be a
    real doc id — dedup never invents or drops rows."""
    df = _df(spark, texts)
    groups = dedup_exact(df, "text", "doc_id").collect()
    assert sum(g.n_dups for g in groups) == len(texts)
    ids = set(range(len(texts)))
    assert all(g.keep_id in ids for g in groups)


@given(DOCS)
@PROP
def test_simhash_equal_text_equal_hash(spark, texts):
    """Docs with identical text must collide exactly (same token
    multiset → same bit votes → same fingerprint)."""
    df = _df(spark, texts + texts)  # guaranteed duplicates
    rows = (
        simhash(df, "text", "doc_id")
        .join(df.select(F.col("doc_id").alias("id"), "text"), "id")
        .collect()
    )
    by_text: dict[str, set] = {}
    for r in rows:
        by_text.setdefault(r.text, set()).add(r.simhash)
    assert all(len(v) == 1 for v in by_text.values())


@given(st.lists(st.integers(min_value=0, max_value=2**31), min_size=1, max_size=50))
@PROP
def test_sample_split_is_content_stable(spark, ids):
    """bucket/split depend only on the id value — identical across
    duplicate rows, orderings, and partitionings — and ~90/10."""
    df = spark.createDataFrame([(i,) for i in ids + ids], "doc_id long")
    out = sample_split(df, "doc_id").collect()
    by_id: dict[int, set] = {}
    for r in out:
        by_id.setdefault(r.doc_id, set()).add((r.bucket, r.split))
    assert all(len(v) == 1 for v in by_id.values())
    assert all(0 <= r.bucket < 100 for r in out)
    assert all((r.split == "train") == (r.bucket < 90) for r in out)


@given(DOCS)
@PROP
def test_token_stats_bounds(spark, texts):
    rows = token_stats(_df(spark, texts), "doc_id", "text").collect()
    for r in rows:
        assert 0 <= r.n_unique <= r.n_tokens
        assert r.n_subwords >= r.n_tokens or r.n_tokens == 0 or r.n_subwords >= 0


from gdelt_extractor_spark.operators.dedup import (  # noqa: E402
    dedup_containment,
    dedup_ngram_jaccard,
)

# repeated phrases across docs → real hot shingles; suffixes keep
# some docs near-dup and others not
HOT_DOCS = st.lists(
    st.tuples(st.sampled_from(["all rights reserved by corp", "breaking news today now"]),
              st.text(alphabet="abcdef ", min_size=0, max_size=30)),
    min_size=2,
    max_size=12,
)


def _reference_pairs(texts, n, threshold, cap, containment):
    """Pure-Python exact shingle-pair search: lowercase, collapse
    whitespace, trim, split on spaces, distinct n-token windows (a
    doc shorter than n keeps its one partial window).  A pair is
    reported when round(value, 6) ≥ threshold and it shares at least
    one shingle in at most ``cap`` docs (``cap=None``: any)."""
    sets = []
    for t in texts:
        toks = re.sub(r"[ \t\n\x0b\f\r]+", " ", t.lower()).strip(" ").split(" ")
        sets.append({tuple(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)})
    nd = Counter(x for s in sets for x in s)
    out = {}
    for a, b in itertools.combinations(range(len(sets)), 2):
        shared = sets[a] & sets[b]
        if not any(cap is None or nd[x] <= cap for x in shared):
            continue
        den = min(len(sets[a]), len(sets[b])) if containment else len(sets[a] | sets[b])
        v = round(len(shared) / den, 6)
        if v >= threshold:
            out[(a, b)] = v
    return out


def _check_cap_property(spark, parts, op, col, containment):
    """Uncapped, the operator returns EXACTLY the reference pairs and
    values.  With cap 2, a shingle shared by three or more docs is
    hot, and the operator returns exactly the reference pairs minus
    those whose shared shingles are all hot."""
    texts = [f"{p} {s}" for p, s in parts]
    df = _df(spark, texts)
    for cap in (None, 2):
        got = {
            (r.id_a, r.id_b): r[col]
            for r in op(
                df, "text", "doc_id", threshold=0.6, max_shingle_df=cap
            ).collect()
        }
        assert got == _reference_pairs(texts, 3, 0.6, cap, containment), cap


@given(HOT_DOCS)
@PROP
def test_ngram_jaccard_cap_preserves_pairs(spark, parts):
    _check_cap_property(spark, parts, dedup_ngram_jaccard, "jaccard", False)


@given(HOT_DOCS)
@PROP
def test_containment_cap_preserves_pairs(spark, parts):
    _check_cap_property(spark, parts, dedup_containment, "containment", True)


# ---------------------------------------------------- temporal ops

from gdelt_extractor_spark.operators.temporal import asof_join, range_join  # noqa: E402

ASOF_CASE = st.tuples(
    # left: (user, ts) rows
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=20
    ),
    # right: unique (user, ts) -> value (dict kills equal-ts ambiguity
    # between two right rows, which no engine orders deterministically)
    st.dictionaries(
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        st.integers(-100, 100),
        max_size=20,
    ),
    st.booleans(),
)


@given(ASOF_CASE)
@PROP
def test_asof_join_matches_naive(spark, case):
    left_rows, right_map, strict = case
    left = spark.createDataFrame(
        [(i, u, t) for i, (u, t) in enumerate(left_rows)],
        "event_id long, user_id long, ts long",
    )
    right_rows = [(u, t, v) for (u, t), v in right_map.items()]
    right = spark.createDataFrame(
        right_rows or [(99, 99, 0)], "user_id long, ts long, val long"
    )
    if not right_rows:
        right = right.filter("user_id < 0")
    got = {
        r.event_id: r.asof_val
        for r in asof_join(
            left, right, on="ts", by="user_id", value_cols=["val"], strict=strict
        ).collect()
    }

    def naive(u, t):
        cand = [
            (rt, v)
            for (ru, rt), v in right_map.items()
            if ru == u and (rt < t if strict else rt <= t)
        ]
        return max(cand)[1] if cand else None

    assert got == {i: naive(u, t) for i, (u, t) in enumerate(left_rows)}


RANGE_CASE = st.tuples(
    st.lists(  # (start, length) intervals
        st.tuples(st.integers(-20, 40), st.integers(0, 15)), min_size=1, max_size=15
    ),
    st.lists(st.integers(-25, 60), max_size=25),  # points
    st.integers(1, 12),  # bin width
)


@given(RANGE_CASE)
@PROP
def test_range_join_matches_naive(spark, case):
    ivals, pts, bw = case
    intervals = spark.createDataFrame(
        [(i, s, s + ln) for i, (s, ln) in enumerate(ivals)],
        "iid long, lo long, hi long",
    )
    points = spark.createDataFrame(
        [(j, p) for j, p in enumerate(pts)] or [(0, 0)], "pid long, pt long"
    )
    if not pts:
        points = points.filter("pid < 0")
    joined = range_join(
        intervals, points, start_col="lo", end_col="hi", point_col="pt",
        bin_width=bw, interval_id="iid", how="left",
    ).collect()
    got_pairs = {(r.iid, r.pid) for r in joined if r.pid is not None}
    want_pairs = {
        (i, j)
        for i, (s, ln) in enumerate(ivals)
        for j, p in enumerate(pts)
        if s < p <= s + ln
    }
    assert got_pairs == want_pairs
    # left semantics: every interval appears; unmatched exactly once, null point
    matched_ids = {i for i, _ in want_pairs}
    for i in range(len(ivals)):
        rows_i = [r for r in joined if r.iid == i]
        if i in matched_ids:
            assert all(r.pid is not None for r in rows_i)
        else:
            assert len(rows_i) == 1 and rows_i[0].pid is None


@given(DOCS, st.integers(1, 8), st.integers(1, 8))
@PROP
def test_chunk_documents_covers_every_token(spark, texts, chunk, stride):
    """Chunking invariants for any text and any VALID (chunk, stride)
    — stride is clamped to <= chunk (the operator refuses
    gap-creating configs; see test_chunk_documents_rejects_gaps):
    chunk 0 starts at token 0, consecutive starts are stride apart,
    every token lands in >= 1 chunk, and when stride == chunk the
    chunks are disjoint and concatenate back to the document."""
    from gdelt_extractor_spark.operators.packing import chunk_documents

    stride = min(stride, chunk)
    df = _df(spark, texts)
    toks = df.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    ).collect()
    n_by_doc = {r.doc_id: r.n for r in toks}

    out = chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, n in n_by_doc.items():
        rows = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        assert len(rows) == -(-n // stride)  # ceil
        covered = 0
        for r in rows:
            start = r.chunk_id * stride
            assert r.n_chunk_tokens == min(chunk, n - start)
            covered = max(covered, start + r.n_chunk_tokens)
        assert covered == n  # no token past the last chunk's end
        if stride >= chunk:
            total = sum(r.n_chunk_tokens for r in rows)
            assert total == min(n, len(rows) * chunk)


def test_chunk_documents_rejects_gaps(spark):
    """stride > chunk_tokens would leave tokens uncovered between
    consecutive chunks — the operator must refuse loudly."""
    import pytest

    from gdelt_extractor_spark.operators.packing import chunk_documents

    df = _df(spark, ["a b c"])
    with pytest.raises(ValueError, match="uncovered"):
        chunk_documents(df, chunk_tokens=1, stride=2)


URLISH = st.text(
    alphabet=st.characters(codec="ascii", exclude_categories=("Cc", "Cs", "Zs")),
    min_size=0,
    max_size=60,
)


@given(st.lists(URLISH, min_size=1, max_size=24))
@PROP
def test_normalize_url_idempotent_and_lowercase(spark, urls):
    """normalize_url is idempotent on arbitrary ascii input (a
    normalized URL re-normalizes to itself) and never emits
    uppercase, '?', or '#'."""
    from gdelt_extractor_spark.operators.curation import normalize_url

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        normalize_url(F.col("url")).alias("n1"),
        normalize_url(normalize_url(F.col("url"))).alias("n2"),
    ).collect()
    for r in rows:
        assert r.n1 == r.n2
        assert r.n1 == r.n1.lower()
        assert "?" not in r.n1 and "#" not in r.n1


@given(DOCS)
@PROP
def test_compression_stats_bounds_and_determinism(spark, texts):
    """zlib ratio contract: NULL only for empty text; positive
    everywhere else; bounded above by 1 + small header overhead for
    short strings; deterministic across runs; and a pathological
    repetitive document compresses below 0.1."""
    from gdelt_extractor_spark.operators.textstats import compression_stats

    texts = texts + ["xyzzy " * 400]  # guaranteed repetitive doc
    df = _df(spark, texts)
    a = {r.doc_id: r for r in compression_stats(df, "doc_id", "text").collect()}
    b = {r.doc_id: r for r in compression_stats(df, "doc_id", "text").collect()}
    for i, t in enumerate(texts):
        ra, rb = a[i], b[i]
        assert (ra.n_bytes, ra.n_compressed) == (rb.n_bytes, rb.n_compressed)
        if len(t.encode("utf-8")) == 0:
            assert ra.compression_ratio is None
        else:
            assert ra.compression_ratio > 0
            # zlib header+footer is ~11 bytes; tiny inputs can exceed 1.0
            assert ra.n_compressed <= ra.n_bytes + 16
    assert a[len(texts) - 1].compression_ratio < 0.1


EDGES = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=60,
)


@given(EDGES)
@PROP
def test_connected_components_matches_union_find(spark, driver_cap, pairs):
    """Distributed star contraction (driver finish disabled, so the
    hash-priority contraction rounds do ALL the work) must label every
    node with its component's minimum id, for arbitrary random graphs
    — chains, stars, cliques, self-parallel edges, whatever hypothesis
    draws."""
    from gdelt_extractor_spark.operators.dedup import connected_components

    driver_cap(-1)
    df = spark.createDataFrame(pairs, "id_a long, id_b long").dropDuplicates()
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    assert got == expected


@given(DOCS)
@PROP
def test_ngram_repetition_invariants(spark, texts):
    """For any corpus: fractions live in [0,1]; the top n-gram's
    mass never exceeds the duplicated mass when it is itself
    duplicated; gram counts are consistent (n_grams = n_toks-n+1
    for docs long enough, distinct <= total)."""
    from gdelt_extractor_spark.operators.textstats import ngram_repetition

    n = 2
    df = _df(spark, texts)
    toks_n = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n")
        ).collect()
    }
    out = {r.doc_id: r for r in ngram_repetition(df, n=n).collect()}
    for doc_id, nt in toks_n.items():
        if nt < n:
            assert doc_id not in out
            continue
        r = out[doc_id]
        assert r.n_grams == nt - n + 1
        assert 1 <= r.n_distinct_grams <= r.n_grams
        assert 0.0 <= r.top_ngram_char_frac <= 1.0
        assert 0.0 <= r.dup_ngram_char_frac <= 1.0
        if r.top_gram_count >= 2:
            assert r.top_ngram_char_frac <= r.dup_ngram_char_frac + 1e-9
        if r.n_distinct_grams == r.n_grams:
            assert r.dup_ngram_char_frac == 0.0


@given(DOCS)
@PROP
def test_source_overlap_doc_matches_exact_sets(spark, texts):
    """Doc-granularity overlap equals the brute-force computation
    over normalized-content sets, for any corpus split into two
    sources."""
    from gdelt_extractor_spark.operators.curation import source_overlap

    rows = [
        (i, t, "A" if i % 2 == 0 else "B") for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    import re as _re

    def norm(s):
        return _re.sub(r"\s+", " ", s.lower()).strip()

    sets = {"A": set(), "B": set()}
    for i, t, s in rows:
        sets[s].add(norm(t))
    shared = len(sets["A"] & sets["B"])
    got = source_overlap(df, "text", "source").collect()
    if shared == 0 or not sets["A"] or not sets["B"]:
        assert got == [] or shared > 0
    else:
        assert len(got) == 1
        r = got[0]
        assert r.n_shared == shared
        assert r.n_a == len(sets["A"]) and r.n_b == len(sets["B"])
        assert r.containment == round(shared / min(len(sets["A"]), len(sets["B"])), 6)


# ---------------------------------------------------- grid_join / fill_gaps

_COORD = st.floats(min_value=-89.9, max_value=89.9, allow_nan=False)
_LON = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)


@PROP
@given(
    pts=st.lists(st.tuples(_COORD, _LON), min_size=1, max_size=25),
    boxes=st.lists(
        st.tuples(_COORD, _COORD, _LON, _LON), min_size=1, max_size=6
    ),
    cell=st.sampled_from([3.0, 10.0, 45.0]),
)
def test_grid_join_equals_naive_containment(spark, pts, boxes, cell):
    """The grid decomposition must be EXACTLY containment: compare
    against the naive all-pairs predicate on random geometry."""
    from gdelt_extractor_spark.operators.geo import grid_join

    pdf = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "event_id long, lat double, lon double",
    )
    norm_boxes = [
        (j, min(a, b), max(a, b), min(c, d), max(c, d))
        for j, (a, b, c, d) in enumerate(boxes)
    ]
    bdf = spark.createDataFrame(
        norm_boxes,
        "box_id long, lat_min double, lat_max double, "
        "lon_min double, lon_max double",
    )
    got = sorted(
        (r.event_id, r.box_id)
        for r in grid_join(pdf, bdf, cell_deg=cell).collect()
    )
    want = sorted(
        (i, j)
        for i, (la, lo) in enumerate(pts)
        for j, lat_min, lat_max, lon_min, lon_max in norm_boxes
        if lat_min <= la < lat_max and lon_min <= lo < lon_max
    )
    assert got == want


@PROP
@given(
    obs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=40),
                  st.floats(min_value=-5, max_value=5, allow_nan=False)),
        min_size=1, max_size=15, unique_by=lambda t: t[0],
    )
)
def test_fill_gaps_matches_pandas_ffill(spark, obs):
    """Forward fill over random sparse day series == pandas ffill
    over the same reindexed span."""
    import pandas as _pd
    from datetime import datetime, timedelta

    from gdelt_extractor_spark.operators.temporal import fill_gaps

    base = datetime(2024, 1, 1)
    rows = [("k", base + timedelta(days=d), v) for d, v in obs]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {
        r.day: (r.v, r.is_observed)
        for r in fill_gaps(df, "k", "ts", "v").collect()
    }
    days = sorted(d for d, _ in obs)
    idx = _pd.date_range(base + timedelta(days=days[0]),
                         base + timedelta(days=days[-1]), freq="D")
    ser = _pd.Series(
        {base + timedelta(days=d): v for d, v in obs}
    ).reindex(idx).ffill()
    assert len(got) == len(idx)
    for t, v in ser.items():
        pv, _ = got[t.to_pydatetime()]
        assert pv == v


# --- apply_cdc vs a naive driver-side replay -----------------------

CDC_OPS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),            # key
        st.sampled_from(["I", "U", "D"]),                 # op
        st.integers(min_value=1, max_value=9),            # ts (day)
        st.integers(min_value=0, max_value=99),           # value
    ),
    min_size=0,
    max_size=30,
)
SNAP = st.dictionaries(
    st.integers(min_value=0, max_value=6),
    st.integers(min_value=0, max_value=99),
    max_size=5,
)


@given(SNAP, CDC_OPS)
@PROP
def test_apply_cdc_matches_naive_replay(spark, snap, ops):
    """apply_cdc == keep the latest change per key (ts desc, D>U>I on
    ties) applied over the snapshot — computed naively in Python."""
    import datetime as dt

    from gdelt_extractor_spark.operators.temporal import apply_cdc

    snap_df = spark.createDataFrame(
        [(k, v) for k, v in snap.items()], "k long, v long"
    )
    chg_df = spark.createDataFrame(
        [(k, op, dt.datetime(2024, 1, ts), v) for k, op, ts, v in ops],
        "k long, op string, ts timestamp, v long",
    )
    got = {r.k: r.v for r in apply_cdc(snap_df, chg_df, "k", ["v"]).collect()}

    expected = dict(snap)
    rank = {"D": 0, "U": 1, "I": 2}
    latest: dict[int, tuple] = {}
    for k, op, ts, v in ops:
        cur = latest.get(k)
        # mirror the operator's total order: ts desc, D>U>I, then
        # smallest attribute value (None sorts first, like Spark's
        # nulls-first asc)
        key = (-ts, rank[op], (v is not None, v))
        if cur is None or key < (-cur[1], rank[cur[0]],
                                 (cur[2] is not None, cur[2])):
            latest[k] = (op, ts, v)
    for k, (op, _ts, v) in latest.items():
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = v
    assert got == expected


@given(DOCS)
@PROP
def test_length_buckets_conserves_docs_and_tokens(spark, texts):
    """Bucket totals must partition the corpus exactly: Σ n_docs ==
    |docs|, Σ n_tokens == Σ per-doc token counts, and no bucket's
    max exceeds its boundary."""
    from gdelt_extractor_spark.operators.packing import length_buckets

    df = _df(spark, texts)
    rows = length_buckets(df, "doc_id", "text", boundaries=(2, 4, 8)).collect()
    n_total = sum(r.n_docs for r in rows)
    tok_total = sum(r.n_tokens for r in rows)
    per_doc = [r.n for r in df.select(F.size(tokens("text")).alias("n")).collect()]
    assert n_total == len(texts)
    assert tok_total == sum(per_doc)
    for r in rows:
        if r.bucket > 0:
            assert r.max_tokens <= r.bucket
            assert r.n_padded == r.bucket * r.n_docs
        else:
            assert r.max_tokens > 8


@given(DOCS)
@PROP
def test_bm25_matches_naive_python(spark, texts):
    """bm25_search == a straight-line Python BM25 with the same
    rational idf, on random corpora (scores to 6dp, same ranking)."""
    import re as _re

    from gdelt_extractor_spark.operators.textstats import bm25_search

    terms = ["spark", "data", "a"]
    df = _df(spark, texts)
    got = {
        r[0]: (r.score, r.n_terms_hit)
        for r in bm25_search(df, "doc_id", "text", terms, top_k=1000).collect()
    }

    def toks(t):
        return [w for w in _re.sub(r"\s+", " ", t.lower()).strip().split(" ") if w != ""] or [""]

    docs = {i: toks(t) for i, t in enumerate(texts)}
    # mirror the operator: dl counts ALL tokens of the normalized
    # text (split of "" yields one empty token, as in Spark)
    dls = {i: len((_re.sub(r"\s+", " ", t.lower()).strip() or "").split(" ")) for i, t in enumerate(texts)}
    n = len(texts)
    total = sum(dls.values())
    avgdl = total / n
    dfreq = {t: sum(1 for w in docs.values() if t in w) for t in terms}
    expected = {}
    for i, ws in docs.items():
        score, hits = 0.0, 0
        for t in terms:
            tf = ws.count(t)
            if tf == 0:
                continue
            hits += 1
            idf = (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            contrib = idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dls[i] / avgdl))
            score += round(contrib, 6)
        if hits:
            expected[i] = (round(score, 6), hits)
    assert set(got) == set(expected)
    for i in expected:
        assert got[i][1] == expected[i][1], (i, got[i], expected[i])
        assert abs(got[i][0] - expected[i][0]) < 2e-6, (i, got[i], expected[i])


WORD = st.text(alphabet="abcd", min_size=1, max_size=3)
SENT = st.lists(WORD, min_size=0, max_size=12).map(" ".join)


@given(st.lists(st.tuples(SENT, SENT), min_size=1, max_size=8),
       st.integers(1, 3))
@PROP
def test_rouge_n_matches_python_reference(spark, pairs, n):
    """rouge_n == a naive Python clipped-multiset implementation on
    random small-vocab pairs (small alphabet forces real overlap and
    clipping cases)."""
    from collections import Counter
    from gdelt_extractor_spark.operators.textstats import rouge_n

    df = spark.createDataFrame(
        [(i, c, r) for i, (c, r) in enumerate(pairs)],
        "pair_id long, cand string, ref string",
    )
    got = {r.pair_id: r for r in rouge_n(df, n=n).collect()}

    def grams(s):
        t = [w for w in s.lower().split() if w]
        return Counter(
            " ".join(t[i:i + n]) for i in range(len(t) - n + 1)
        )

    assert len(got) == len(pairs)
    for i, (c, r) in enumerate(pairs):
        gc, gr = grams(c), grams(r)
        m = sum(min(v, gr[g]) for g, v in gc.items())
        row = got[i]
        assert (row.n_match, row.n_cand, row.n_ref) == (
            m, sum(gc.values()), sum(gr.values()))
        if sum(gc.values()) and sum(gr.values()):
            p, rr = m / sum(gc.values()), m / sum(gr.values())
            assert row.rouge_p == round(p, 6) and row.rouge_r == round(rr, 6)
            expect_f = 0.0 if m == 0 else 2.0 * p * rr / (p + rr)
            assert row.rouge_f == round(expect_f, 6)
        else:
            assert row.rouge_f is None


@given(st.lists(st.floats(min_value=-5, max_value=15,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=40),
       st.lists(st.floats(min_value=-5, max_value=15,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=40))
@PROP
def test_psi_drift_matches_numpy_reference(spark, old_vals, new_vals):
    """psi_drift over frozen [0,10)×5 bins == a numpy clamped
    histogram reference; total psi is the sum of the emitted terms."""
    import numpy as np
    from gdelt_extractor_spark.operators.profiling import psi_drift

    old = spark.createDataFrame([(v,) for v in old_vals], "v double")
    new = spark.createDataFrame([(v,) for v in new_vals], "v double")
    out = psi_drift(old, new, "v", n_bins=5, lo=0.0, hi=10.0).collect()

    def binned(vals):
        b = np.clip(np.floor((np.asarray(vals) - 0.0) / 2.0), 0, 4)
        return {i: int((b == i).sum()) for i in range(5)}

    co, cn = binned(old_vals), binned(new_vals)
    no, nn = sum(co.values()), sum(cn.values())
    for r in out:
        p, q = co[r.bin] / no, cn[r.bin] / nn
        assert r.p_old == round(p, 6) and r.q_new == round(q, 6)
        term = (q - p) * np.log((q + 1e-6) / (p + 1e-6))
        assert abs(r.psi_term - term) < 2e-6
    # emitted rows = occupied bins; psi consistent across rows
    occupied = {i for i in range(5) if co[i] or cn[i]}
    assert {r.bin for r in out} == occupied
    assert len({r.psi for r in out}) == 1


GRAPH_EDGES = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=40,
)


@given(GRAPH_EDGES)
@PROP
def test_triangle_count_matches_naive(spark, pairs):
    import itertools

    from gdelt_extractor_spark.operators.graph import triangle_count

    edges = [(f"n{a}", f"n{b}") for a, b in pairs if a != b]
    if not edges:
        return
    canon = {tuple(sorted(e)) for e in edges}
    nodes = sorted({n for e in canon for n in e})
    tri = {n: 0 for n in nodes}
    for x, y, z in itertools.combinations(nodes, 3):
        if (
            tuple(sorted((x, y))) in canon
            and tuple(sorted((y, z))) in canon
            and tuple(sorted((x, z))) in canon
        ):
            for n in (x, y, z):
                tri[n] += 1
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.triangles for r in triangle_count(df).collect()}
    assert got == tri


SCORED = st.lists(
    st.tuples(st.integers(0, 8), st.booleans()), min_size=2, max_size=60
)


@given(SCORED)
@PROP
def test_auc_matches_naive_pair_counting(spark, rows):
    from gdelt_extractor_spark.operators.profiling import auc_score

    data = [(float(s), l) for s, l in rows]
    pos = [s for s, l in data if l]
    neg = [s for s, l in data if not l]
    df = spark.createDataFrame(data, "score double, label boolean")
    got = auc_score(df, "score", "label").collect()[0]
    if not pos or not neg:
        assert got.auc is None
        return
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    assert got.auc == round((wins + 0.5 * ties) / (len(pos) * len(neg)), 6)


DURATIONS = st.lists(
    st.tuples(st.integers(1, 9), st.booleans()), min_size=1, max_size=50
)


@given(DURATIONS)
@PROP
def test_kaplan_meier_matches_naive_product_limit(spark, rows):
    from collections import Counter

    from gdelt_extractor_spark.operators.temporal import kaplan_meier

    data = [(float(d), o) for d, o in rows]
    df = spark.createDataFrame(data, "dur double, obs boolean")
    got = {
        r.duration: r.survival for r in kaplan_meier(df, "dur", "obs").collect()
    }
    d_events = Counter(d for d, o in data if o)
    d_all = Counter(d for d, _ in data)
    n, s, want = len(data), 1.0, {}
    dead = False
    for t in sorted(d_all):
        d = d_events.get(t, 0)
        if d >= n and d > 0:
            dead = True
        elif d:
            s *= 1 - d / n
        want[t] = 0.0 if dead else round(s, 6)
        n -= d_all[t]
    assert got == want


# multi-line docs with terminal punctuation and the C4 kill markers
# appearing at realistic rates
_C4_LINE = st.lists(
    st.sampled_from(["good", "words", "here", "now", "javascript",
                     "lorem", "ipsum", "{", "x"]),
    min_size=0, max_size=6,
).map(" ".join)
_C4_DOC = st.lists(
    st.tuples(_C4_LINE, st.sampled_from([".", "!", "?", '"', "", " "])),
    min_size=0, max_size=8,
).map(lambda ls: "\n".join(a + b for a, b in ls))
C4_DOCS = st.lists(_C4_DOC, min_size=1, max_size=10)


def _c4_reference(text: str, min_words: int = 3, min_kept: int = 1):
    """Pure-Python rendition of the published C4 line rules — the
    independent twin the Spark operator must match exactly."""
    lines = text.split("\n")
    kept = []
    for ln in lines:
        t = ln.strip()
        if (
            t
            and t[-1] in '.!?"'
            and len([w for w in __import__("re").split(r"\s+", t) if True])
            >= min_words
            and "javascript" not in t.lower()
        ):
            kept.append(t)
    page_kill = "lorem ipsum" in text.lower() or "{" in text
    return (
        "\n".join(kept),
        len(lines),
        len(kept),
        page_kill or len(kept) < min_kept,
    )


@given(C4_DOCS)
@PROP
def test_c4_line_filter_matches_reference(spark, texts):
    from gdelt_extractor_spark.operators.curation import c4_line_filter

    df = _df(spark, texts)
    got = {r.doc_id: r for r in c4_line_filter(df).collect()}
    assert set(got) == set(range(len(texts)))
    for i, t in enumerate(texts):
        clean, n_lines, n_kept, dropped = _c4_reference(t)
        r = got[i]
        assert (r.clean_text, r.n_lines, r.n_kept, r.doc_dropped) == (
            clean, n_lines, n_kept, dropped
        ), f"doc {i}: {t!r}"
