"""Similarity search over embedding columns (SURVEY.md §2c 29-30).

- ``ann_bruteforce``: exact top-k cosine for a (small) query set.
  The query side is broadcast, so the plan is one scan of the vector
  table with per-row expression work — no shuffle except the final
  per-query top-k, which is a window over k·|Q| rows.  This is the
  correctness baseline and is also the right physical plan at scale
  when |Q| is small.
- ``ann_lsh``: random-hyperplane LSH. Vectors get a sign-bit bucket
  from seeded pseudo-random hyperplanes (deterministic: numpy
  RandomState(LSH_SEED), Arrow-batched pandas UDF); queries probe their
  bucket only, turning the scan into an equi-join on bucket id.
- One vector-quantization core serves IVF, PQ and ``clustering``:
  ``_fit_sample`` (the bounded hash-ordered training sample),
  ``_lloyd`` (driver-side rounds on it) and ``_nearest`` (the one
  nearest-centroid kernel); ``_lsh_probes`` is the one LSH bucket
  kernel of both ``ann_lsh`` UDFs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _md5_int


def _as_double(vec_col: str | Column) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def _norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)
    )


def _finite_vec(vec_col: str | Column) -> Column:
    """True iff the array is non-NULL and every element is a finite
    non-NULL double.  The numpy-GEMM engines drop rows failing this
    BEFORE vectorizing: a NULL/NaN/Inf element would otherwise become
    NaN inside the GEMM, and the HALF_UP integer-micro round would
    cast that NaN to INT64_MIN (cosine ~-9.2e12) and poison every
    neighborhood average it touches (r10 ADVICE, high).  The sql
    engine needs no filter — NULL elements null the zip_with dot and
    NaN fails the margin comparison, so dirty rows fall out of the
    margin filter on their own; the filter makes the kernels match
    that drop semantics exactly.  Pure codegen (forall), so it rides
    the scan."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return col.isNotNull() & F.forall(
        col,
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _with_norm(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Attach ``_norm(vec)`` as a column BELOW the scoring join.

    The higher-order zip_with/aggregate norm fold runs on Catalyst's
    interpreted expression walker (the repo's measured 7× vs codegen),
    and ``cosine()`` inlined above a scoring join evaluates THREE such
    folds per joined PAIR — dot, ‖q‖ and ‖v‖ — so each side's norm is
    recomputed once per pair instead of once per row (|Q|× on the
    corpus side, |V|× on the query side).  Hoisting the norms into the
    input frames evaluates each exactly once per input row (broadcast
    side: once per query, total); the pair expression keeps only the
    irreducible dot.  cos = dot/(nq·nv) multiplies in cosine()'s exact
    order, so values are IEEE-bit-identical (same discipline as
    embedding_align's na/nb hoist, similarity.py:1168) and every
    oracle gate replays unchanged.  guide §2.3 project-early /
    §1.2 per-task work.  r13 A/B: flat at sf0.1 on the ann family
    (fixed costs dominate 2000×8 pairs), semantic_decontam −24%
    (7/7 pairwise); kept family-wide on strictly-less-work grounds —
    corpus-side norms drop |Q|-fold, query-side norms |V|-fold."""
    return df.withColumn(out, _norm(F.col(vec)))


def _pair_cosine() -> "callable":
    """cos expression for a scoring join whose sides carry hoisted
    norms ``_nq``/``_nv`` (see _with_norm)."""
    return lambda q, v: _dot(F.col(q), F.col(v)) / (
        F.col("_nq") * F.col("_nv")
    )


def ann_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Ties broken by neighbor id for determinism.  ``queries`` must be
    small (it is broadcast).
    """
    v = _with_norm(
        vectors.select(
            F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("v")
        ),
        "v",
        "_nv",
    )
    q = _with_norm(
        queries.select(
            F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        ),
        "qv",
        "_nq",
    )
    scored = (
        v.join(F.broadcast(q), F.col("nbr_id") != F.col("query_id"))
        .withColumn("cos", _pair_cosine()("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", F.round("cos", 6).alias("cosine"))
    )


# Rocchio weights of the original query and of the feedback centroid
# (q' = α·q + β·mean); the DuckDB oracle interpolates them.
ROCCHIO_ALPHA = 1.0
ROCCHIO_BETA = 0.75


def prf_expand_search(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_fb: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    ann: str | None = None,
    m: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Pseudo-relevance feedback by Rocchio query expansion (Rocchio
    1971, the classic PRF loop): retrieve each query's top ``k_fb``
    neighbors, move the query toward their centroid — q' = α·q +
    β·mean(feedback vectors), α = ``ROCCHIO_ALPHA``, β =
    ``ROCCHIO_BETA`` — and re-rank the corpus against the
    expanded query.  The zero-model recall lever that closes the
    retrieval family (bm25 → ann → hybrid fusion → PRF → MMR →
    retrieval_eval).

    Determinism & portability: the per-dimension feedback mean
    decimal-sums its components (order-free), every scalar step
    (α·x + β·m, cosine fold in index order, 6-decimal round, id
    tie-break) is the identical IEEE computation in Spark and
    DuckDB, so the WHOLE two-pass loop is value-hash oracle-gated.

    Plan shape at scale: pass 1 is ``ann_bruteforce`` (broadcast
    query side); the expansion frame is (|Q|·d) rows aggregated to
    |Q| expanded vectors — driver-free, assembled with a sorted
    struct collect; pass 2 is one corpus scan with the |Q|-row
    expanded-query frame broadcast.  Two scans total, no UDF.

    ``ann="ivf"`` (r9 verdict item 7) swaps the second pass's
    corpus-wide broadcast-nested-loop rerank for ``ann_ivf`` against
    the expanded queries: the rerank scans only the ``nprobe``/``m``
    cell fraction — the compose-at-100 TB path.  Approximate by the
    usual IVF contract; with ``nprobe == m`` every vector is probed
    and the output is identical to the exact default (pinned by
    tests/test_similarity.py).  The exact default stays the oracle
    entry."""
    if ann not in (None, "ivf"):
        raise ValueError(
            f"prf_expand_search: unknown ann {ann!r} (expected None or 'ivf')"
        )
    fb = ann_bruteforce(
        vectors, queries, k=k_fb, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    fbx = (
        fb.join(
            vectors.select(
                F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("_v")
            ),
            "nbr_id",
        )
        .select("query_id", F.posexplode("_v").alias("dim", "x"))
        .groupBy("query_id", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    qx = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("_q")
    ).select("query_id", F.posexplode("_q").alias("dim", "qx"))
    q2 = (
        qx.join(fbx, ["query_id", "dim"], "left")
        .select(
            "query_id",
            "dim",
            (
                F.lit(ROCCHIO_ALPHA) * F.col("qx")
                + F.lit(ROCCHIO_BETA) * F.coalesce(F.col("m"), F.lit(0.0))
            ).alias("val"),
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("val")))
                ),
                lambda s: s["val"],
            ).alias("qv")
        )
    )
    if ann == "ivf":
        # expanded queries are a |Q|-row frame with the corpus'
        # vec-col shape — ann_ivf probes cells instead of scanning
        return ann_ivf(
            vectors,
            q2.select("query_id", F.col("qv").alias(vec_col)),
            k=k,
            m=m,
            nprobe=nprobe,
            id_col=id_col,
            vec_col=vec_col,
        )
    v = _with_norm(
        vectors.select(
            F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("v")
        ),
        "v",
        "_nv",
    )
    scored = (
        v.join(
            F.broadcast(_with_norm(q2, "qv", "_nq")),
            F.col("nbr_id") != F.col("query_id"),
        )
        .withColumn("cos", _pair_cosine()("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", F.round("cos", 6).alias("cosine"))
    )


# MMR's relevance weight λ (1 − λ weighs redundancy); the DuckDB
# oracle interpolates it.
MMR_LAMBDA = 0.5


def mmr_rerank(
    results: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR 1998): greedily re-rank a first-stage candidate
    list so each pick maximizes ``λ·relevance − (1−λ)·max
    similarity to the already-picked set`` — the standard
    redundancy-removal pass between retrieval and the context window.

    ``results`` is any bounded per-query candidate frame
    (query_id, nbr_id, cosine) — e.g. ``ann_bruteforce`` /
    ``ann_ivf`` output; relevance = its ``cosine``.  Returns
    (query_id, nbr_id, mmr_rank, relevance, mmr_score) with
    ``mmr_score`` the objective value at selection time (first pick:
    max-sim term is 0 → pure relevance).

    Determinism & portability: candidate-candidate cosines are
    rounded HALF_UP to 6 decimals (the repo GEMM rule) and relevance
    arrives already 6-rounded, so every comparison runs on doubles
    both engines share bit-for-bit; ties break to the LOWEST nbr_id.
    The greedy is sequential per query but queries are independent —
    ONE ``applyInPandas`` over the query key, numpy GEMM for the
    pairwise sims of the ≤N candidates, O(N·k) selection.  At scale
    the first-stage retriever bounds N, so this is per-query-constant
    work after one join to fetch candidate embeddings.

    The output id types are derived from the INPUT schema (ADVICE r9:
    a hardcoded ``long`` miscast string / int doc ids at the Arrow
    boundary), so any id type the retriever emits round-trips."""
    qid_dt = results.schema["query_id"].dataType.simpleString()
    nid_dt = results.schema["nbr_id"].dataType.simpleString()
    cand = results.select(
        "query_id", "nbr_id", F.col("cosine").alias("_rel")
    ).join(
        vectors.select(F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("_v"))
        # a NULL vector can't contribute to the sims matrix (and would
        # break the numpy stack) — same drop rule as pca_project
        .filter(F.col("_v").isNotNull()),
        "nbr_id",
    )

    def _select(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("nbr_id").reset_index(drop=True)
        X = np.vstack(pdf["_v"].to_numpy())
        nrm = np.sqrt((X * X).sum(axis=1))
        nrm[nrm == 0] = 1.0
        sims = (X @ X.T) / np.outer(nrm, nrm)
        # HALF_UP 6-decimal round — F.round / DuckDB round semantics
        sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
        rel = pdf["_rel"].to_numpy()
        n = len(pdf)
        sel: list[int] = []
        scores: list[float] = []
        while len(sel) < min(k, n):
            best, best_s = -1, None
            for i in range(n):  # ascending nbr_id → strict > keeps low id
                if i in sel:
                    continue
                ms = max(sims[i][j] for j in sel) if sel else 0.0
                s = MMR_LAMBDA * rel[i] - (1.0 - MMR_LAMBDA) * ms
                if best_s is None or s > best_s:
                    best, best_s = i, s
            sel.append(best)
            scores.append(best_s)
        out = pdf.iloc[sel][["query_id", "nbr_id"]].copy()
        out["mmr_rank"] = np.arange(1, len(sel) + 1, dtype=np.int32)
        out["relevance"] = rel[sel]
        out["mmr_score"] = np.round(
            np.sign(scores) * np.floor(np.abs(scores) * 1e6 + 0.5) / 1e6, 6
        )
        return out

    return cand.groupBy("query_id").applyInPandas(
        _select,
        f"query_id {qid_dt}, nbr_id {nid_dt}, mmr_rank int, "
        "relevance double, mmr_score double",
    )


# Seed of the random-hyperplane LSH planes.  One constant, not a
# per-call option: vectors and queries must be bucketed by the same
# planes, and the DuckDB oracle regenerates them from this value.
LSH_SEED = 42


def _lsh_planes(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """The (n_tables, dim, n_planes) hyperplanes: one
    RandomState(LSH_SEED) draw, bit-reproducible across machines, so
    bucket assignment is deterministic cluster-wide."""
    return np.random.RandomState(LSH_SEED).standard_normal(
        (n_tables, dim, n_planes)
    )


def _lsh_probes(mat: np.ndarray, planes: np.ndarray, flips: bool = False) -> np.ndarray:
    """The (batch, L, P) per-table probe buckets of the rows of
    ``mat`` under the (L, dim, n_planes) ``planes``: column 0 of each
    table is the row's sign-bit bucket; with ``flips`` the n_planes
    buckets at Hamming distance 1 follow it, one per flipped bit (so
    P = 1 + n_planes, else P = 1)."""
    weights = 1 << np.arange(planes.shape[2], dtype=np.int64)
    base = np.stack([((mat @ pl) > 0) @ weights for pl in planes], axis=1)[:, :, None]
    return np.concatenate([base, base ^ weights], axis=2) if flips else base


def lsh_multitable_udf(dim: int, n_planes: int, n_tables: int):
    """Pandas UDF: vector → array of one bucket id per hash table.

    Multi-table LSH is the standard recall lever: a true neighbor is
    a candidate if it collides in ANY of the ``n_tables``
    independent plane sets — P(miss) = (1-p^k)^L instead of
    1-p^k.  All tables are evaluated in one Arrow batch pass; the
    planes matrix rides the closure, shipped once per executor.
    """
    planes = _lsh_planes(dim, n_planes, n_tables)  # (L, d, k)

    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(_lsh_probes(np.vstack(vecs.to_numpy()), planes)[:, :, 0]))

    return buckets


# Salts of the bounded fit samples, one hash space per quantizer.
IVF_FIT_SALT = "ivf-fit"
PQ_FIT_SALT = "pq-fit"


def _fit_sample(
    vectors: DataFrame, n_cents: int, salt: str, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """The bounded training sample of a quantizer with ``n_cents``
    centroids (IVF cells, PQ codewords, k-means clusters): the top
    max(64·n_cents, 1024) rows by (xxhash64(id, ``salt``), id) — an
    unbiased, reproducible choice that is independent of partitioning
    (TakeOrdered), and the ONE Spark job a fit runs regardless of its
    round count.  Returns (ids, X) in that hash order; the fit then
    iterates driver-side on the (S, dim) matrix, a few MB at any
    corpus size."""
    v = vectors.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    sample = (
        v.orderBy(
            F.xxhash64(F.col("id").cast("string"), F.lit(salt)).asc(),
            F.col("id").asc(),
        )
        .limit(max(64 * n_cents, 1024))
        .collect()
    )
    return np.array([r.id for r in sample]), np.vstack([r.v for r in sample])


def _nearest(X: np.ndarray, C: np.ndarray, k: int | None = None) -> np.ndarray:
    """Nearest centroids (rows of ``C``) of each row of ``X`` by L2,
    ranked on the expanded form ‖c‖² − 2x·c (‖x‖² is constant per
    row).  ``k=None``: the (n,) nearest ids by argmin — ties and NaN
    rows go to the lowest id.  An int ``k``: the (n, k) nearest ids
    in ascending distance by stable argsort — ties keep id order.
    The one distance kernel of every fit, assignment, probe and PQ
    code in this module and ``clustering``."""
    d = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
    if k is None:
        return np.argmin(d, axis=1)
    return np.argsort(d, axis=1, kind="stable")[:, :k]


def _lloyd(X: np.ndarray, init: np.ndarray, n_iter: int) -> np.ndarray:
    """``n_iter`` driver-side Lloyd rounds over the fixed-order rows
    of ``X`` from the ``init`` centroids: each row joins its nearest
    centroid (``_nearest``), each centroid moves to its cell's mean,
    and an empty cell keeps its centroid.  numpy reductions over a
    fixed-order array are bit-stable, so the result never depends on
    cluster layout."""
    cents = init.copy()
    for _ in range(n_iter):
        a = _nearest(X, cents)
        nxt = cents.copy()
        for c in range(cents.shape[0]):
            mask = a == c
            if mask.any():
                nxt[c] = X[mask].mean(axis=0)
        cents = nxt
    return cents


def ivf_fit_centroids(
    vectors: DataFrame,
    m: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd k-means coarse quantizer for IVF,
    trained on a bounded sample (the standard IVF recipe — e.g.
    FAISS trains its quantizer on ~(tens of)·m vectors, not the
    corpus): ``_fit_sample`` then ``_lloyd``, while assignment of the
    full table stays distributed (`_ivf_assign_udf`).  Init is the m
    lowest-id sample rows.
    """
    ids, X = _fit_sample(vectors, m, IVF_FIT_SALT, id_col, vec_col)
    return _lloyd(X, X[np.argsort(ids, kind="stable")[:m]], n_iter)


def _ivf_assign_udf(centroids: np.ndarray):
    """Pandas UDF: vector → nearest centroid id by L2 (ties → lowest
    id).  Centroid matrix rides the closure to executors once per
    task set."""

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        return pd.Series(_nearest(np.vstack(vecs.to_numpy()), centroids).astype(np.int32))

    return assign


def _ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    """Pandas UDF: query vector → the ``nprobe`` nearest centroid ids
    (ascending distance, deterministic tie-break by id)."""
    npb = min(nprobe, centroids.shape[0])

    @F.pandas_udf("array<int>")
    def probe(vecs: pd.Series) -> pd.Series:
        near = _nearest(np.vstack(vecs.to_numpy()), centroids, npb)
        return pd.Series(list(near.astype(np.int32)))

    return probe


# Lloyd iterations of ``ann_ivf``'s quantizer (the pinned centroids
# of ``_kmeans_pins`` are fit with it).
IVF_N_ITER = 2


def ann_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse k-means
    quantizer, vectors partitioned into m cells, queries probe only
    their ``nprobe`` nearest cells, exact cosine rerank inside.

    Plan shape at scale: the quantizer trains on a bounded sample
    (one TakeOrdered job); the main table is scanned once to tag each vector with
    its cell; the probe join is a broadcast equi-join on cell id —
    the classic IVF cost model (scan fraction ≈ nprobe/m).  Size m ≈
    √N so cells stay executor-memory friendly.  Recall is tested
    against ann_bruteforce (tests/test_similarity.py)."""
    cents = ivf_fit_centroids(
        vectors, m=m, n_iter=IVF_N_ITER, id_col=id_col, vec_col=vec_col
    )
    assign = _ivf_assign_udf(cents)
    probe = _ivf_probe_udf(cents, nprobe)
    v = _with_norm(
        vectors.select(F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("v"))
        .withColumn("cell", assign("v")),
        "v",
        "_nv",
    )
    q = _with_norm(
        queries.select(
            F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        )
        .withColumn("cells", probe("qv"))
        .select("query_id", "qv", F.explode("cells").alias("cell")),
        "qv",
        "_nq",
    )
    scored = (
        v.join(F.broadcast(q), "cell")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .withColumn("cos", _pair_cosine()("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", F.round("cos", 6).alias("cosine"))
    )


def lsh_query_probes_udf(dim: int, n_planes: int, n_tables: int, multiprobe: int = 0):
    """Pandas UDF: query vector → per-table probe bucket lists
    (array<array<long>>).

    multiprobe=0 probes only the query's own bucket per table;
    multiprobe=1 adds every bucket at Hamming distance 1 (each
    single bit flip) — the standard multi-probe LSH recall lever:
    near-miss neighbors usually differ in exactly the plane whose
    projection was closest to zero, so probing adjacent buckets
    recovers them without more tables (Lv et al., VLDB'07)."""
    planes = _lsh_planes(dim, n_planes, n_tables)

    @F.pandas_udf("array<array<long>>")
    def probes(vecs: pd.Series) -> pd.Series:
        return pd.Series(
            _lsh_probes(np.vstack(vecs.to_numpy()), planes, multiprobe >= 1).tolist()
        )

    return probes


# Hyperplanes per table and tables of ``ann_lsh``.
LSH_PLANES = 8
LSH_TABLES = 6


def ann_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    multiprobe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: exact cosine rerank restricted to LSH
    candidates (multi-table random-hyperplane, optional multi-probe).

    Plan shape at scale: one scan of the vector table computing all
    table buckets in a single Arrow pass, posexplode to
    (table, bucket) rows, equi-join with the (broadcast) query
    buckets, distinct candidate pairs, rerank.  No full scan per
    query, no cartesian product; recall tuned by (``LSH_PLANES``,
    ``LSH_TABLES``, multiprobe) and tested against ann_bruteforce."""
    buckets = lsh_multitable_udf(dim, LSH_PLANES, LSH_TABLES)
    probes = lsh_query_probes_udf(dim, LSH_PLANES, LSH_TABLES, multiprobe)
    v = (
        vectors.select(F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("v"))
        .withColumn("bks", buckets("v"))
        .select("nbr_id", "v", F.posexplode("bks").alias("tbl", "bkt"))
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        )
        .withColumn("pbs", probes("qv"))
        .select("query_id", "qv", F.posexplode("pbs").alias("tbl", "bkts"))
        .select("query_id", "qv", "tbl", F.explode("bkts").alias("bkt"))
    )
    candidates = (
        v.join(
            F.broadcast(q.select("query_id", "tbl", "bkt")),
            ["tbl", "bkt"],
        )
        .filter(F.col("nbr_id") != F.col("query_id"))
        .select("query_id", "nbr_id")
        .distinct()
    )
    qv = _with_norm(
        queries.select(
            F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        ),
        "qv",
        "_nq",
    )
    vv = _with_norm(
        vectors.select(F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("v")),
        "v",
        "_nv",
    )
    scored = (
        candidates.join(F.broadcast(qv), "query_id")
        .join(vv, "nbr_id")
        .withColumn("cos", _pair_cosine()("qv", "v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "rank", F.round("cos", 6).alias("cosine"))
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    threshold: float = 0.6,
    max_token_df: int | None = None,
) -> DataFrame:
    """Set-similarity join between TWO tables (entity resolution /
    record linkage): pairs (left_id, right_id, jaccard) whose
    token-set Jaccard ≥ ``threshold`` — the "match catalog A's names
    against catalog B" operator, distinct from the dedup family's
    self-joins.

    Exact (no approximation): the blocking key is the shared token,
    so only pairs sharing ≥ 1 token are ever scored, and surviving
    pairs are verified on their full distinct-token sets.
    ``max_token_df`` is the hot-token guard (the dedup_ngram_jaccard
    discipline): tokens on more than that many rows PER SIDE are
    excluded from candidate generation only — verification still
    uses full sets, so reported values stay exact; a true pair is
    lost only if ALL its shared tokens are hot.

    Plan shape: each side tokenizes once into (id, token) rows —
    distinct at ROW level, one partial-aggregated shuffle each — the
    candidate join is an equi-join on the token, and per-id set
    sizes re-enter on the id keys.  Never a cartesian product; at
    catalog scale the hot-token cap bounds the join fan-out exactly
    like the shingle cap does for near-dup.
    """
    from ..functions.text import tokens

    def side(df: DataFrame, id_col: str, col: str, name: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(name), F.explode(tokens(col)).alias("tok")
            )
            .filter(F.col("tok") != "")
            .distinct()
        )

    lt = side(left, left_id, left_col, "lid")
    rt = side(right, right_id, right_col, "rid")
    lsz = lt.groupBy("lid").agg(F.count(F.lit(1)).alias("sz_l"))
    rsz = rt.groupBy("rid").agg(F.count(F.lit(1)).alias("sz_r"))
    ltc, rtc = lt, rt
    if max_token_df is not None:
        w = Window.partitionBy("tok")
        ltc = (
            lt.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_token_df)
            .drop("_df")
        )
        rtc = (
            rt.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_token_df)
            .drop("_df")
        )
    common = (
        ltc.join(rtc, "tok")
        .groupBy("lid", "rid")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if max_token_df is not None:
        # capped candidates under-count shared tokens: re-count on the
        # full token rows for surviving candidates only
        full = (
            lt.join(rt, "tok")
            .join(common.select("lid", "rid"), ["lid", "rid"], "left_semi")
            .groupBy("lid", "rid")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        common = full
    jac = F.col("n_common") / (
        F.col("sz_l") + F.col("sz_r") - F.col("n_common")
    )
    return (
        common.join(lsz, "lid")
        .join(rsz, "rid")
        .select(
            F.col("lid").alias(left_id + "_l"),
            F.col("rid").alias(right_id + "_r"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale =
    max|x|/127, q_i = round_half_up(x_i/scale) ∈ [-127, 127] —
    the standard 4× embedding-storage cut (float32 → int8 + one
    scale) that keeps cosine ranking within quantization noise.

    One codegen projection, zero shuffle, streams unchanged.
    Rounding is ``floor(x/scale + 0.5)`` — the same IEEE double
    sequence in any engine, so the DuckDB oracle reproduces q and
    the reconstruction error bit-for-bit (no engine rounding-mode
    dependence; same discipline as plans/queries.py).  Zero vectors
    quantize to zeros with scale 0.  Output: (id, scale, qvec
    array<int>, max_err) where max_err = max_i |q_i·scale - x_i| ≤
    scale/2 (unit-tested bound)."""
    v = _as_double(vec_col)
    out = (
        vectors.select(F.col(id_col), v.alias("_v"))
        .withColumn(
            "scale",
            F.array_max(F.transform("_v", lambda x: F.abs(x))) / F.lit(127.0),
        )
        .withColumn(
            "qvec",
            F.when(
                F.col("scale") > 0,
                F.transform(
                    "_v",
                    lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
                ),
            ).otherwise(F.transform("_v", lambda x: F.lit(0))),
        )
        .withColumn(
            "max_err",
            F.when(
                F.col("scale") > 0,
                F.array_max(
                    F.zip_with(
                        "_v",
                        "qvec",
                        lambda x, q: F.abs(q.cast("double") * F.col("scale") - x),
                    )
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    return out.select(id_col, "scale", "qvec", "max_err")


# ------------------------------------------------ product quantization

def pq_fit_codebooks(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011): the vector
    splits into ``m`` contiguous subspaces and each subspace gets its
    own ``ksub``-centroid Lloyd codebook — compression is
    m·log2(ksub) bits per vector vs dim·32 raw (64-dim float → 4
    bytes at m=4, ksub=16: a 64× cut vs int8's 4×).

    One bounded sample (``_fit_sample``: the top max(64·ksub, 1024)
    rows in salted content-hash order), then one ``_lloyd`` per
    subspace on its column slice.  Init per subspace is the first
    ksub rows IN SAMPLE (hash) ORDER — deterministic and
    hash-scattered, so the seeds don't all land in one id-adjacent
    cluster.  Returns (m, ksub, dim//m).
    """
    _, X = _fit_sample(vectors, ksub, PQ_FIT_SALT, id_col, vec_col)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if X.shape[0] < ksub:
        raise ValueError(
            f"PQ needs >= ksub={ksub} sample vectors, got {X.shape[0]}; "
            "lower ksub or provide more data"
        )
    subspaces = np.split(X, m, axis=1)
    return np.stack([_lloyd(Xj, Xj[:ksub], n_iter) for Xj in subspaces])


def _pq_encode_udf(books: np.ndarray):
    """Arrow UDF: vector → array<int> of per-subspace nearest-centroid
    codes (ties → lowest code, ``_nearest`` on each column slice)."""
    m, _, dsub = books.shape

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        X = np.vstack(vecs.to_numpy())
        codes = [_nearest(X[:, j * dsub : (j + 1) * dsub], books[j]) for j in range(m)]
        return pd.Series(list(np.stack(codes, axis=1).astype(np.int32)))

    return encode


def pq_encode(
    vectors: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → (id, codes array<int>): one scan, one vectorized
    Arrow pass, no shuffle.  Stored codes are the 100 TB artifact —
    m·log2(ksub) bits a vector."""
    enc = _pq_encode_udf(books)
    return vectors.select(
        F.col(id_col).alias("vec_id"), enc(_as_double(vec_col)).alias("codes")
    )


# Subspaces and Lloyd iterations of ``ann_pq``'s codebooks (the pinned
# codebooks of ``_kmeans_pins`` are fit with them).
PQ_M = 4
PQ_N_ITER = 3


def ann_pq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    corpus vectors live only as their codes; each query precomputes a
    tiny (m × ksub) table of exact partial squared distances to every
    codebook centroid, and a vector's approximate distance is the sum
    of m table lookups — the classic memory-bound ANN scan.

    Plan: codes come from one Arrow pass (``pq_encode``); the lookup
    is codes-posexploded (m rows per vector) equi-joined to the
    BROADCAST partial table on (query, subspace, code), then one
    (query, vector) aggregate and a per-query top-k window.  Scan
    cost is Θ(|Q|·m·N) additions — same asymptotics as brute force
    but each term is a lookup+add instead of a dim-length dot, and
    the corpus payload is codes, not floats.  The queries frame is
    BOUNDED by contract (same as ann_bruteforce's broadcast side):
    its driver collect is |Q|·dim doubles.  Approximate distances
    decimal-sum so ranking is partition-independent.
    """
    books = pq_fit_codebooks(
        vectors, m=PQ_M, ksub=ksub, n_iter=PQ_N_ITER, id_col=id_col, vec_col=vec_col
    )
    codes = pq_encode(vectors, books, id_col=id_col, vec_col=vec_col)
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).collect()  # bounded probe set by contract
    spark = vectors.sparkSession
    dsub = books.shape[2]
    partial_rows = []
    for r in q_rows:
        qv = np.asarray(r.qv)
        for j in range(PQ_M):
            qj = qv[j * dsub : (j + 1) * dsub]
            d = ((books[j] - qj[None, :]) ** 2).sum(axis=1)
            for c in range(ksub):
                # HALF_UP to 9 decimals — DuckDB round semantics, NOT
                # Python round()'s half-even (ADVICE r9: an exact
                # half-tie at the 9th decimal would diverge)
                x = float(d[c])
                partial_rows.append(
                    (
                        r.query_id,
                        j,
                        c,
                        math.copysign(
                            math.floor(abs(x) * 1e9 + 0.5) / 1e9, x
                        ),
                    )
                )
    partials = spark.createDataFrame(
        partial_rows, "query_id long, j int, code int, pd double"
    )
    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("j", "code")
    )
    scored = (
        exploded.join(F.broadcast(partials), ["j", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("pd").cast("decimal(25,9)")).cast("double").alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("nbr_id"), "rank",
                F.round("adist", 6).alias("approx_dist"))
    )


def ranking_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "nbr_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Retrieval-quality metrics per query — recall@k, MRR, NDCG@k
    (binary relevance) — the evaluation loop that closes the ANN /
    BM25 family: ``results`` is any ranked (query, doc, rank) frame,
    ``qrels`` the relevant (query, doc) pairs.

    Engine-portable NDCG: the 1/log2(r+1) discounts are PRECOMPUTED
    driver-side into a k-row table joined in (broadcast), so both
    this plan and any SQL oracle share literally identical doubles —
    no transcendental evaluated engine-side (the bm25/mixture
    lesson).  Per-query sums are decimal-cast; recall/MRR are exact
    rationals.

    Plan: results filter to rank ≤ k (codegen), one equi-join to
    qrels on (query, doc) marking hits, the k-row discount broadcast,
    one (query) aggregate joined to the |relevant|-per-query
    aggregate.  Scales with |results|, never with the corpus.
    """
    import math as _math

    spark = results.sparkSession
    discounts = spark.createDataFrame(
        [(r, 1.0 / _math.log2(r + 1)) for r in range(1, k + 1)],
        f"{rank_col} long, _disc double",
    )
    # ideal DCG per relevant-count: idcg(n) = sum of first min(n,k)
    # discounts — also driver-precomputed so engines agree
    acc, idcg_rows = 0.0, []
    for r in range(1, k + 1):
        acc += 1.0 / _math.log2(r + 1)
        idcg_rows.append((r, acc))
    idcg = spark.createDataFrame(idcg_rows, "_nrel_c long, _idcg double")

    topk = results.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).alias(rank_col),
    ).filter(F.col(rank_col) <= k)
    # rel feeds BOTH the hits join and the n_rel aggregate — two
    # static evaluations of the qrels-build lineage (an eval-set
    # bounded frame with corpus-scale inputs); one eager
    # materialization runs it once (r12, guide §5; A/B flat at
    # sf0.1 where the lineage is a cheap filtered join).
    rel = (
        qrels.select(
            F.col(query_col).alias("_q"), F.col(doc_col).alias("_d")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_rel = rel.groupBy("_q").agg(F.count(F.lit(1)).alias("n_relevant"))

    hits = (
        topk.join(rel.withColumn("_hit", F.lit(1)), ["_q", "_d"], "left")
        .join(F.broadcast(discounts), rank_col)
        .withColumn("_hit", F.coalesce("_hit", F.lit(0)))
    )
    per_q = hits.groupBy("_q").agg(
        F.sum("_hit").alias("n_hits"),
        F.min(F.when(F.col("_hit") == 1, F.col(rank_col))).alias("_first"),
        F.sum(
            F.when(F.col("_hit") == 1, F.col("_disc"))
            .otherwise(0.0)
            .cast("decimal(25,9)")
        )
        .cast("double")
        .alias("_dcg"),
    )
    return (
        per_q.join(n_rel, "_q")
        .join(
            F.broadcast(idcg),
            F.least(F.col("n_relevant"), F.lit(k)) == F.col("_nrel_c"),
            "left",
        )
        .select(
            F.col("_q").alias(query_col),
            "n_relevant",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / F.col("n_relevant"), 6).alias(
                f"recall_at_{k}"
            ),
            F.round(
                F.coalesce(1.0 / F.col("_first"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(F.col("_dcg") / F.col("_idcg"), 6).alias(f"ndcg_at_{k}"),
        )
    )


def _margin_from_scored(
    scored: DataFrame,
    k: int,
    margin_threshold: float,
    broadcast_avg: bool = True,
) -> DataFrame:
    """Shared ratio-margin algebra over a (id_a, id_b, cos) candidate
    frame: per-direction top-k windows feed ONE aggregate each — the
    forward side carries the rank-1 best match via ``min_by`` so no
    third pass or best⋈avg self-join ever materializes — then the
    fwd⋈bwd join attaches the b-sized average table
    (``broadcast_avg=True`` hints it broadcast — correct under the
    bounded-b gemm/sql contract; the ivf large×large path passes
    False and lets AQE pick, since a corpus-sized average table must
    not be forced onto every executor).  Neighborhood averages
    decimal-sum 6-rounded cosines (order-free) and divide by the
    constant ``k`` (LASER convention: fewer than k candidates still
    divide by k), so an SQL oracle reproduces the doubles exactly.
    A zero average denominator (possible only when every candidate
    cosine is exactly 0) yields NULL margin and is filtered — ANSI
    mode would otherwise abort on the division."""
    wf = Window.partitionBy("id_a").orderBy(
        F.col("cos").desc(), F.col("id_b").asc()
    )
    wb = Window.partitionBy("id_b").orderBy(
        F.col("cos").desc(), F.col("id_a").asc()
    )
    dsum = lambda c: F.sum(F.col(c).cast("decimal(25,6)")).cast("double")  # noqa: E731
    fwd = (
        scored.withColumn("rf", F.row_number().over(wf))
        .filter(F.col("rf") <= k)
        .groupBy("id_a")
        .agg(
            (dsum("cos") / k).alias("avg_f"),
            F.min_by("id_b", "rf").alias("id_b"),
            F.min_by("cos", "rf").alias("cos"),
        )
    )
    bwd = (
        scored.withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= k)
        .groupBy("id_b")
        .agg((dsum("cos") / k).alias("avg_b"))
    )
    denom = (F.col("avg_f") + F.col("avg_b")) / 2.0
    return (
        fwd.join(F.broadcast(bwd) if broadcast_avg else bwd, "id_b")
        .withColumn(
            "margin",
            F.when(denom != 0.0, F.round(F.col("cos") / denom, 6)),
        )
        .filter(F.col("margin") >= margin_threshold)
        .select(
            "id_a", "id_b", F.col("cos").alias("cosine"), "margin"
        )
    )


def align_embeddings(
    a: DataFrame,
    b: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "gemm",
    m: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Margin-based cross-corpus alignment mining — the
    LASER/CCMatrix bitext-mining recipe (Artetxe & Schwenk 2019,
    "ratio" margin): for every vector in corpus ``a`` take its best
    cosine match in corpus ``b``, then score the pair by how much it
    stands out above each side's neighborhood,

        margin(x, y) = cos(x, y) /
            ((avgTopK(x→B) + avgTopK(y→A)) / 2)

    and keep pairs with margin ≥ ``margin_threshold``.  The margin
    denominator is what makes mining robust: a hub vector that is
    "close to everything" has a high neighborhood average and is
    penalized, while a genuinely aligned pair in a sparse region
    scores > 1.  This is the standard operator for mining parallel
    text / cross-modal pairs out of two embedded corpora.

    Returns (id_a, id_b, cosine, margin) with margin ≥ threshold,
    one row per ``a`` vector (its best match).

    Engines (the r9 verdict item: this was the last interpreted
    per-pair fold in the hot set):

    - ``engine="gemm"`` (default): ONE ``mapInPandas`` scan of ``a``
      with the bounded ``b`` matrix shipped once per executor
      (``SparkContext.broadcast`` — the same small-side contract as
      ``ann_bruteforce``'s broadcast join).  Each Arrow batch runs a
      numpy GEMM against B, finishes the FORWARD aggregate in-kernel
      (per-``a``-row top-k is wholly local), and emits per-batch
      per-``id_b`` top-k BACKWARD candidates, so the shuffle carries
      O(|a| + batches·|b|·k) rows instead of |a|·|b|.  The same
      rewrite that took dedup_semantic 12.3s→0.8s (r7) and
      dedup_embedding 2.59s→0.41s (r8).  Requires ``b`` uniform-width
      (raises on ragged — use ``engine="sql"``); NULL / width-
      mismatched vectors drop, the same rule as ``_gemm_block_pairs``.
    - ``engine="sql"``: the legacy two-pass broadcast-join plan with
      the per-pair ``zip_with``/``aggregate`` fold — exact,
      expression-only, the oracle-replay reference for ragged input.
    - ``engine="ivf"``: the 100 TB large×large path — both sides
      cell-blocked by the deterministic IVF quantizer (fit on ``b``;
      ``a`` multiprobes its ``nprobe`` nearest cells), candidate
      pairs scored by a per-cell cogrouped GEMM, then the identical
      margin algebra over candidates.  Approximate: top-k
      neighborhoods come from co-probed cells only; with
      ``nprobe == m`` every pair meets and output equals the exact
      engines (pinned by tests/test_similarity.py).  No broadcast of
      either corpus and no nested-loop join anywhere — the pair
      frame is an equi-join on cell id.  Width restriction (r10
      ADVICE, documented divergence): the quantizer is fit at ``b``'s
      DOMINANT vector width and BOTH corpora are restricted to it —
      minority-width rows (and the same-width pairs the sql engine
      would score among them) are discarded, beyond the nprobe
      approximation.  Mixed-width corpora should use ``engine="sql"``
      or be aligned per width group.

    Dirty vectors (ALL engines, r10 ADVICE fix + r11 review): a
    vector whose ELEMENTS contain NULL / NaN / ±Inf is dropped by a
    codegen ``forall`` filter (``_finite_vec``) before any scoring.
    In the numpy engines such a row would become NaN inside the GEMM
    and INT64_MIN in the integer micro round, corrupting neighborhood
    averages of clean pairs; in the sql engine a NULL element falls
    out naturally (NULL cosine) but a NaN element would sort FIRST
    under ``cos.desc()`` and hijack the forward top-k — the shared
    filter gives all three engines identical drop semantics.

    Engine-portable numerics: cosines are rounded HALF_UP to 6
    decimals (``sign(x)·floor(|x|·1e6+0.5)/1e6`` — Spark ``F.round``
    / DuckDB ``round`` semantics); neighborhood averages decimal-sum
    the 6-rounded values (order-free).  The GEMM's summation order
    differs from a sequential fold in the last float bits — the
    6-decimal round absorbs that except on adversarial midpoints,
    the same documented tolerance as ``dedup_semantic`` /
    ``dedup_embedding``.

    Degenerate inputs (documented divergence, same rule as
    ``_gemm_block_pairs``): zero-norm vectors are defined to cosine 0
    in the gemm/ivf kernels, while the sql engine's 0-denominator
    division aborts under ANSI mode — don't feed zero vectors to
    ``engine="sql"``.  An all-zero-cosine neighborhood yields NULL
    margin (filtered) instead of a 0/0 abort in every engine.
    """
    if engine not in ("gemm", "sql", "ivf"):
        raise ValueError(
            f"align_embeddings: unknown engine {engine!r} "
            "(expected 'gemm', 'sql' or 'ivf')"
        )
    # per-side id types: a string-id corpus b next to a long-id corpus
    # a must round-trip both (the Arrow schemas below name each side)
    id_dt_a = a.schema[id_col].dataType.simpleString()
    id_dt_b = b.schema[id_col].dataType.simpleString()
    av = a.select(
        F.col(id_col).alias("id_a"), _as_double(vec_col).alias("va")
    )
    bv = b.select(
        F.col(id_col).alias("id_b"), _as_double(vec_col).alias("vb")
    )
    if engine == "gemm":
        return _align_gemm(av, bv, k, margin_threshold, id_dt_a, id_dt_b)
    if engine == "ivf":
        return _align_ivf(
            av, bv, k, margin_threshold, id_dt_a, id_dt_b, m, nprobe
        )
    # sql engine: NULL elements already null the zip_with dot and fall
    # out of the margin filter, but a NaN/Inf ELEMENT would make the
    # pair's cosine NaN — NaN sorts FIRST under cos.desc() in Spark,
    # hijacking the forward top-k (and ANSI mode aborts on the decimal
    # cast) — so the three engines share the same explicit drop
    # (r11 review finding)
    av = av.filter(_finite_vec("va"))
    bv = bv.filter(_finite_vec("vb"))
    av = av.withColumn("na", _norm(F.col("va")))
    bv = bv.withColumn("nb", _norm(F.col("vb")))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = (
        av.join(F.broadcast(bv))
        .withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .select("id_a", "id_b", "cos")
    )
    return _margin_from_scored(scored, k, margin_threshold)


def _round6_micro(raw: np.ndarray) -> np.ndarray:
    """HALF_UP 6-decimal round in integer micro-units — Spark
    ``F.round`` / DuckDB ``round`` semantics, NOT numpy's
    half-even."""
    return (np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5)).astype(np.int64)


def _align_gemm(
    av: DataFrame,
    bv: DataFrame,
    k: int,
    margin_threshold: float,
    id_dt_a: str,
    id_dt_b: str,
) -> DataFrame:
    """GEMM engine for ``align_embeddings``: one scan of ``a``, the
    forward aggregate fused into the kernel, backward top-k finished
    by one small window over per-batch candidates."""
    spark = av.sparkSession
    # element-level validation at collect time: a b vector with a
    # NULL/NaN/Inf element would poison every batch's GEMM column
    # (r10 ADVICE) — drop it here like the sql engine drops its
    # NULL-cosine rows
    b_rows = (
        bv.filter(_finite_vec("vb")).orderBy("id_b").collect()
    )  # bounded by the broadcast-side contract (SURVEY §6)
    out_schema = (
        f"tag int, id_a {id_dt_a}, id_b {id_dt_b}, cos double, avg double"
    )
    if not b_rows:
        return spark.createDataFrame(
            [], f"id_a {id_dt_a}, id_b {id_dt_b}, cosine double, margin double"
        )
    widths = {len(r.vb) for r in b_rows}
    if len(widths) != 1:
        raise ValueError(
            "align_embeddings engine='gemm' requires a uniform-width "
            f"corpus b (saw widths {sorted(widths)}); use engine='sql' "
            "for ragged input"
        )
    dim = widths.pop()
    ids_b = np.array([r.id_b for r in b_rows])
    B = np.array([r.vb for r in b_rows], dtype=np.float64)
    nb = np.sqrt((B * B).sum(axis=1))
    nb[nb == 0.0] = 1.0
    bc = spark.sparkContext.broadcast((ids_b, B, nb))
    kk = k

    def _score(batches):
        ids_b_, B_, nb_ = bc.value
        n_b = len(ids_b_)
        kq = min(kk, n_b)
        for pdf in batches:
            pdf = pdf[pdf["va"].map(lambda v: v is not None and len(v) == dim)]
            if pdf.empty:
                continue
            A = np.array(pdf["va"].tolist(), dtype=np.float64)
            # defensive twin of the Spark-side _finite_vec filter: a
            # NaN/Inf element that slipped through would become
            # INT64_MIN in the micro round and corrupt the backward
            # averages of every clean pair in the batch (r10 ADVICE)
            finite = np.isfinite(A).all(axis=1)
            if not finite.all():
                pdf = pdf[finite]
                if pdf.empty:
                    continue
                A = A[finite]
            na = np.sqrt((A * A).sum(axis=1))
            na[na == 0.0] = 1.0
            micro = _round6_micro((A @ B_.T) / (na[:, None] * nb_[None, :]))
            cos = micro / 1e6
            ids_a = pdf["id_a"].to_numpy()
            n_a = len(ids_a)
            # forward: per-a-row top-k is wholly local to the batch —
            # finish avg_f (decimal-sum ≡ integer micro-unit sum, then
            # /1e6 → nearest double, then /k: bit-identical to Spark's
            # CAST(SUM(DECIMAL(25,6)) AS DOUBLE)/k) and the rank-1 best
            f_idb, f_cos, f_avg = [], [], []
            for i in range(n_a):
                o = np.lexsort((ids_b_, -micro[i]))[:kq]
                f_idb.append(ids_b_[o[0]])
                f_cos.append(cos[i, o[0]])
                f_avg.append((int(micro[i, o].sum()) / 1_000_000) / kk)
            # backward: global per-id_b top-k ⊆ union of per-batch
            # top-k, so emit kq candidate rows per id_b per batch
            b_ida, b_idb, b_cos = [], [], []
            kb = min(kk, n_a)
            for j in range(n_b):
                o = np.lexsort((ids_a, -micro[:, j]))[:kb]
                b_idb.extend([ids_b_[j]] * kb)
                b_ida.extend(ids_a[o])
                b_cos.extend(cos[o, j])
            yield pd.DataFrame(
                {
                    "tag": np.concatenate(
                        [np.zeros(n_a, np.int32), np.ones(len(b_ida), np.int32)]
                    ),
                    "id_a": np.concatenate([ids_a, np.array(b_ida)]),
                    "id_b": np.concatenate([np.array(f_idb), np.array(b_idb)]),
                    "cos": np.concatenate([np.array(f_cos), np.array(b_cos)]),
                    "avg": np.concatenate(
                        [np.array(f_avg), np.full(len(b_ida), np.nan)]
                    ),
                }
            )

    # one GEMM pass feeds both directions; materialize it once so the
    # fwd/bwd consumers don't each rerun the scan (the hamming_pairs
    # localCheckpoint discipline — the tagged frame is O(|a| +
    # batches·|b|·k), three orders below the corpus)
    out = (
        av.filter(_finite_vec("va"))
        .mapInPandas(_score, out_schema)
        .localCheckpoint(eager=True)
    )
    # the checkpoint already materialized every GEMM batch — release
    # the executor-side B matrix now instead of letting broadcast
    # state accumulate across calls in a long-lived session
    bc.destroy()
    fwd = out.filter(F.col("tag") == 0).select(
        "id_a", "id_b", "cos", F.col("avg").alias("avg_f")
    )
    wb = Window.partitionBy("id_b").orderBy(
        F.col("cos").desc(), F.col("id_a").asc()
    )
    dsum = lambda c: F.sum(F.col(c).cast("decimal(25,6)")).cast("double")  # noqa: E731
    bwd = (
        out.filter(F.col("tag") == 1)
        .withColumn("rb", F.row_number().over(wb))
        .filter(F.col("rb") <= k)
        .groupBy("id_b")
        .agg((dsum("cos") / k).alias("avg_b"))
    )
    denom = (F.col("avg_f") + F.col("avg_b")) / 2.0
    return (
        fwd.join(F.broadcast(bwd), "id_b")
        .withColumn(
            "margin",
            # NULL (filtered) on an all-zero-cosine neighborhood —
            # ANSI mode would abort on the 0-denominator division
            F.when(denom != 0.0, F.round(F.col("cos") / denom, 6)),
        )
        .filter(F.col("margin") >= margin_threshold)
        .select("id_a", "id_b", F.col("cos").alias("cosine"), "margin")
    )


def _align_ivf(
    av: DataFrame,
    bv: DataFrame,
    k: int,
    margin_threshold: float,
    id_dt_a: str,
    id_dt_b: str,
    m: int,
    nprobe: int,
) -> DataFrame:
    """IVF cell-blocked engine for ``align_embeddings``: the
    large×large path — neither corpus is broadcast or collected.
    Quantizer fit on ``b`` (one bounded-sample job); ``b`` assigned to
    its cell, ``a`` multiprobes ``nprobe`` cells; candidates scored by
    a cogrouped per-cell numpy GEMM (an equi-join on cell id — never a
    nested loop), deduped across probes, then the exact margin algebra
    runs over the candidate frame (averages NOT broadcast — they are
    corpus-b-sized here)."""
    # NULL / dirty-element / width-mismatched vectors drop BEFORE the
    # quantizer (the sql engine's NULL-cosine rows fall out of the
    # margin filter the same way): the fit, assign and probe kernels
    # all np.vstack their batches, so a ragged row would crash them,
    # and a NULL/NaN/Inf ELEMENT would poison the centroids and turn
    # into INT64_MIN in the per-cell GEMM's micro round (r10 ADVICE)
    bnn = bv.filter(_finite_vec("vb"))
    dim = bnn.select(F.size("vb").alias("d")).groupBy("d").count()
    dims = dim.orderBy(F.col("count").desc(), F.col("d").asc()).limit(1).collect()
    if not dims:
        return av.sparkSession.createDataFrame(
            [], f"id_a {id_dt_a}, id_b {id_dt_b}, cosine double, margin double"
        )
    d_b = dims[0].d  # dominant b width, deterministic tie-break
    bu = bnn.filter(F.size("vb") == d_b)
    au = av.filter(_finite_vec("va") & (F.size("va") == d_b))
    cents = ivf_fit_centroids(bu, m=m, id_col="id_b", vec_col="vb")
    assign = _ivf_assign_udf(cents)
    probe = _ivf_probe_udf(cents, nprobe)
    bt = bu.withColumn("_blk", assign("vb"))
    at = (
        au.withColumn("_cells", probe("va"))
        .select("id_a", "va", F.explode("_cells").alias("_blk"))
    )

    def _cross(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype=left["id_a"].dtype if len(left) else "object"),
                "id_b": pd.Series(dtype=right["id_b"].dtype if len(right) else "object"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        if left.empty or right.empty:
            return empty
        # widths are uniform by construction (both sides filtered to
        # the quantizer width above), so one GEMM per cell
        A = np.array(left["va"].tolist(), dtype=np.float64)
        B = np.array(right["vb"].tolist(), dtype=np.float64)
        na = np.sqrt((A * A).sum(axis=1))
        na[na == 0.0] = 1.0
        nb = np.sqrt((B * B).sum(axis=1))
        nb[nb == 0.0] = 1.0
        cos = _round6_micro((A @ B.T) / (na[:, None] * nb[None, :])) / 1e6
        ia, ib = np.meshgrid(
            np.arange(len(left)), np.arange(len(right)), indexing="ij"
        )
        return pd.DataFrame(
            {
                "id_a": left["id_a"].to_numpy()[ia.ravel()],
                "id_b": right["id_b"].to_numpy()[ib.ravel()],
                "cos": cos.ravel(),
            }
        )

    scored = (
        at.groupBy("_blk")
        .cogroup(bt.groupBy("_blk"))
        .applyInPandas(_cross, f"id_a {id_dt_a}, id_b {id_dt_b}, cos double")
        # a pair meeting in several probed cells carries the identical
        # cosine — keep one
        .groupBy("id_a", "id_b")
        .agg(F.max("cos").alias("cos"))
    )
    return _margin_from_scored(scored, k, margin_threshold, broadcast_avg=False)


# Salt of source_similarity's shingle hashes and permutations; the
# DuckDB oracle interpolates this value.
SRCSIM_SALT = "srcsim-v1"


def source_similarity(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 5,
    m: int = 32,
) -> DataFrame:
    """Corpus-level similarity triage: estimated shingle-set Jaccard
    between every pair of SOURCES via per-source MinHash signatures —
    "which feeds are near-copies of each other" answered from m longs
    per source, the step BEFORE any doc-level dedup is pointed at a
    suspicious source pair.  Returns (source_a < source_b,
    est_jaccard, n_slots) where est_jaccard is the fraction of the m
    signature slots on which the two sources' minima agree (the
    classic unbiased MinHash estimate of |A∩B| / |A∪B| over k-token
    shingle sets).

    Hashing is the production one-strong-hash + cheap-permutations
    MinHash: each distinct shingle is md5'd ONCE (salted, 48-bit
    ``h0``), and slot ``i``'s value is the universal-family
    permutation ``(h0·a_i + b_i) mod 2^48`` with per-slot odd
    multipliers ``a_i ∈ [1, 2^14)`` and offsets ``b_i ∈ [0, 2^48)``
    both derived from md5(SRCSIM_SALT:perm:i) — so the m-fold
    expansion is pure integer codegen, not m cryptographic hashes
    (A/B at sf0.1: 2.5s → see BENCH_FULL), products stay ≤ 62 bits
    (no signed-64 overflow), and every step remains engine-portable /
    DuckDB-replicable — this operator is value-level oracle-gated,
    not rows-only.

    Scale shape: per-source distinct shingles (one md5 each) → ONE
    explode by the m slots with integer-only per-slot math → ONE
    partial-aggregated min per (source, slot) — the signature table
    is |sources|·m rows no matter the corpus size; the pairwise
    comparison joins signatures on the slot key and aggregates per
    pair, O(|sources|²·m) on a tiny frame.  At 100 TB the only
    corpus-sized work is the shingle scan."""
    from ..functions.text import tokens
    from .dedup import _md5_perm_consts

    base = (
        docs.select(F.col(source_col).alias("source"), tokens(text_col).alias("_t"))
        .withColumn("_n", F.size("_t"))
        .filter(F.col("_n") >= k)
    )
    shingles = (
        base.select(
            "source",
            F.explode(F.sequence(F.lit(0), (F.col("_n") - k).cast("int"))).alias("pos"),
            "_t",
        )
        .select(
            "source",
            F.concat_ws(" ", F.slice("_t", (F.col("pos") + 1).cast("int"), k)).alias(
                "shingle"
            ),
        )
        .distinct()  # set semantics per source
    )
    h0 = shingles.select(
        "source",
        _md5_int(SRCSIM_SALT, 12, F.col("shingle")).cast("long").alias("_h0"),
    )
    mask = (1 << 48) - 1
    # the m slot minima are m wide aggregate expressions over the
    # distinct-shingle stream, not a posexplode ×m followed by a
    # (source, slot) min: the per-slot arithmetic is identical, but
    # no m-fold row expansion is ever materialized and the partial
    # aggregate reduces to ONE row of m longs per source per task
    # before the exchange (A/B flat at sf0.1 — md5+distinct dominate
    # locally — and strictly fewer generated rows at scale)
    mins = [
        F.min(
            (F.col("_h0") * F.lit(a) + F.lit(b)) % F.lit(mask + 1)
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(_md5_perm_consts(SRCSIM_SALT, m))
    ]
    sig = (
        h0.groupBy("source")
        .agg(*mins)
        .select(
            "source",
            F.posexplode(
                F.array(*[F.col(f"_m{i}") for i in range(m)])
            ).alias("slot", "mh"),
        )
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.slot") == F.col("b.slot"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(
            F.round(
                F.avg((F.col("a.mh") == F.col("b.mh")).cast("double")), 6
            ).alias("est_jaccard"),
            F.count(F.lit(1)).alias("n_slots"),
        )
    )
