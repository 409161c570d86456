"""Distributed k-means clustering over embedding columns.

Shares the vector-quantization core of ``similarity``: the bounded
fit sample (``_fit_sample``) and the nearest-centroid kernel
(``_nearest``).  IVF and PQ iterate Lloyd driver-side on that sample
(``_lloyd``); here Lloyd iterates over the FULL corpus, the shape
used when the clusters themselves are the product — SemDeDup-style
pruning budgets, domain discovery, curriculum buckets — rather than
just an ANN routing table.

Scale shape (per round, the classic map-side-combine k-means):

1. one ``mapInPandas`` pass over the corpus with the (k, dim)
   centroid matrix in its closure assigns each row (``_nearest``)
   and accumulates per-partition PARTIAL sums — each partition emits
   at most k rows of (cell, int64 sum vector + count), so the only
   shuffle is over n_partitions × k tiny rows;
2. the final per-cell reduce is a posexplode + groupBy(cell, pos)
   SUM over those partials, and the driver collects exactly
   k × (dim+1) longs to form the next centroid matrix.

The corpus is scanned once per round and NEVER shuffled; driver
state is k×dim doubles.  The projected vector frame is persisted
across rounds (``DataFrame.persist`` spills to local disk when it
outgrows executor memory).

Determinism (partition-INDEPENDENT, same discipline as the decimal
sums in plans/queries.py): per-element contributions quantize to
integer micro-units — ``floor(x * 2^20 + 0.5)`` is the same IEEE
sequence everywhere — so partial and final sums are exact integer
arithmetic with no float-accumulation order dependence; the division
back to a double centroid happens once, on the driver.  Two runs on
different partitionings produce bit-identical centroids and
assignments (tested).  Int64 headroom: a partition overflows only at
``rows_per_partition × |x| > 2^43`` — out of reach for any sane
split size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double, _fit_sample, _ivf_assign_udf, _nearest

_SCALE = float(1 << 20)

# Salt of the k-means init sample's hash order.
KMEANS_FIT_SALT = "kmeans-fit"


def _greedy_init(vectors: DataFrame, k: int, id_col: str, vec_col: str) -> np.ndarray:
    """Deterministic farthest-point init on the bounded fit sample
    (``_fit_sample``, rows put in id order).  Seeding is greedy
    MAX-MIN distance instead of IVF's lowest-id: lowest-id seeding
    can drop all k seeds into one dense region, and Lloyd never
    recovers well-separated clusters from that (measured: 3 distant
    blobs collapsed to 2).  Greedy farthest-point is the standard fix
    and is fully deterministic (np.argmax returns the first index on
    ties; the sample order is fixed by the (hash, id) sort)."""
    ids, X = _fit_sample(vectors, k, KMEANS_FIT_SALT, id_col, vec_col)
    X = X[np.argsort(ids, kind="stable")]
    cents = [X[0]]
    d = ((X - X[0]) ** 2).sum(axis=1)
    for _ in range(1, min(k, X.shape[0])):
        i = int(np.argmax(d))
        cents.append(X[i])
        d = np.minimum(d, ((X - X[i]) ** 2).sum(axis=1))
    while len(cents) < k:  # fewer distinct points than clusters
        cents.append(cents[0])
    return np.vstack(cents)


# Lloyd stops early once no centroid moves more than this.
KMEANS_TOL = 1e-6


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Full-corpus Lloyd: returns the (k, dim) centroid matrix.

    Init is deterministic farthest-point on a bounded sample (one
    extra job);
    each round is one corpus scan + one tiny partial-sum shuffle +
    a k×(dim+1)-long driver collect.  Empty clusters keep their
    previous centroid; the loop stops early once the max per-element
    centroid shift drops below ``KMEANS_TOL``.
    """
    v = vectors.select(_as_double(vec_col).alias("v")).persist()
    try:
        cents = _greedy_init(vectors, k, id_col, vec_col)
        dim = cents.shape[1]

        for _ in range(n_iter):
            # Assignment is FUSED into the partial-sum mapInPandas:
            # an assignment UDF ahead of it (ArrowEvalPython) would
            # ship the vector column JVM→Python for the argmin, back,
            # then JVM→Python AGAIN for the partial sums (measured on
            # the 4-query kmeans family: 11.75s → 9.66s total with
            # the fusion).  One crossing per round;
            # tests/test_plan_shape.py pins it.  The argmin is the
            # shared ``_nearest`` kernel, so cells are bit-identical
            # to the assignment UDF's.
            def partials(batches, _c=cents):
                acc: dict[int, list] = {}
                for pdf in batches:
                    if not len(pdf):
                        continue
                    mat = np.vstack(pdf["v"].to_numpy())
                    cells = _nearest(mat, _c).astype(np.int32)
                    quant = np.floor(mat * _SCALE + 0.5).astype(np.int64)
                    for c in np.unique(cells):
                        mask = cells == c
                        s = quant[mask].sum(axis=0)
                        n = int(mask.sum())
                        if c in acc:
                            acc[c][0] += s
                            acc[c][1] += n
                        else:
                            acc[c] = [s, n]
                rows = [
                    {"cell": int(c), "acc": s.tolist() + [n]}
                    for c, (s, n) in acc.items()
                ]
                if rows:
                    yield pd.DataFrame(rows, columns=["cell", "acc"])

            reduced = (
                v.mapInPandas(partials, schema="cell int, acc array<long>")
                .select("cell", F.posexplode("acc").alias("pos", "val"))
                .groupBy("cell", "pos")
                .agg(F.sum("val").alias("s"))
                .collect()
            )

            sums = np.zeros((k, dim), dtype=np.float64)
            counts = np.zeros(k, dtype=np.float64)
            for r in reduced:
                if r.pos == dim:
                    counts[r.cell] = r.s
                else:
                    sums[r.cell, r.pos] = r.s

            nxt = cents.copy()  # empty clusters keep their centroid
            shift = 0.0
            for c in range(k):
                if counts[c] > 0:
                    cand = sums[c] / (_SCALE * counts[c])
                    shift = max(shift, float(np.abs(cand - nxt[c]).max()))
                    nxt[c] = cand
            cents = nxt
            if shift < KMEANS_TOL:
                break
        return cents
    finally:
        v.unpersist()


def kmeans_cluster(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit on the full corpus, then tag every vector with its
    cluster: (id, cluster).  The tagging pass is one scan with the
    final centroids broadcast — identical in shape to IVF cell
    assignment, so the output drops straight into the SemDeDup /
    blocked-join machinery as a blocking key."""
    cents = kmeans_fit(
        vectors,
        k=k,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
    )
    assign = _ivf_assign_udf(cents)
    return vectors.select(
        F.col(id_col),
        assign(_as_double(vec_col)).cast("long").alias("cluster"),
    )


def _assign_dist_udf(centroids: np.ndarray):
    """Pandas UDF: vector → (nearest cell, EXACT L2 distance to that
    centroid).  The cell is ``_nearest``'s expanded-form argmin; the
    reported distance recomputes ||v-c|| directly against the winning
    centroid — the expanded form loses precision to cancellation
    exactly where pruning needs it (near-prototype rows, small
    distances)."""

    @F.pandas_udf("struct<cell:int,dist:double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        mat = np.vstack(vecs.to_numpy())
        a = _nearest(mat, centroids)
        diff = mat - centroids[a]
        return pd.DataFrame(
            {
                "cell": a.astype(np.int32),
                "dist": np.sqrt((diff * diff).sum(axis=1)),
            }
        )

    return assign


def cluster_prune(
    vectors: DataFrame,
    k: int = 8,
    keep_fraction: float = 0.5,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drop: str = "prototypes",
) -> DataFrame:
    """Diversity pruning over embedding clusters — the D4 /
    SSL-prototypes recipe (Tirumala et al. 2023; Sorscher et al.
    2022): k-means the corpus, then per cluster drop the
    ``1-keep_fraction`` most PROTOTYPICAL examples (closest to their
    centroid — the most redundant mass), keeping the diverse tail.
    ``drop='outliers'`` flips the rule (drop farthest — a noise
    filter instead of a redundancy filter).

    Scale shape: one full-corpus k-means fit (see ``kmeans_fit``),
    one tagging scan (cell + exact distance in a single Arrow pass),
    then ONE shuffle on the cluster id for the per-cluster
    rank/count window.  Cluster sizes are the skew exposure; at
    100 TB pick k large enough that N/k fits a task (same knob as
    SemDeDup's m).  Survivor count per cluster is exactly
    n - floor((1-keep_fraction)·n); ties break by id, so the result
    is deterministic and partition-independent.
    """
    from pyspark.sql import Window

    cents = kmeans_fit(
        vectors,
        k=k,
        n_iter=n_iter,
        id_col=id_col,
        vec_col=vec_col,
    )
    ad = _assign_dist_udf(cents)
    tagged = (
        vectors.select(F.col(id_col), _as_double(vec_col).alias("_v"))
        .withColumn("_ad", ad("_v"))
        .select(
            id_col,
            F.col("_ad.cell").cast("long").alias("cluster"),
            F.col("_ad.dist").alias("dist"),
        )
    )
    order = F.col("dist").asc() if drop == "prototypes" else F.col("dist").desc()
    w = Window.partitionBy("cluster").orderBy(order, F.col(id_col).asc())
    wc = Window.partitionBy("cluster")
    n_drop = F.floor((1.0 - keep_fraction) * F.col("_n"))
    return (
        tagged.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rk") > n_drop)
        .select(id_col, "cluster", F.round("dist", 6).alias("dist"))
    )


# Salt of contrastive_triplets' in-cluster ring order; the DuckDB
# oracle interpolates this value.
TRIPLETS_SALT = "triplets-v1"


def contrastive_triplets(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic contrastive-training triplets mined from the
    embedding clusters: each anchor pairs with a POSITIVE from its
    own k-means cluster and a NEGATIVE representative from the next
    cluster — the self-supervised (anchor, pos, neg) mining step,
    with no randomness to replay.

    Positives come from a salted-md5 ring inside each cluster (lead
    over the hash order, wrapping to the first member — every
    non-singleton cluster member gets exactly one positive);
    negatives are each cluster's min-id representative joined from a
    broadcast k-row table, cluster (c+1) mod k.  One cluster-keyed
    window shuffle on top of the k-means tagging pass; singleton
    clusters drop (no in-cluster positive exists), and an anchor
    whose next cluster happens to be empty drops with it (pick a
    smaller k if clusters run empty).  The ring order is engine
    portable (the md5 hex string compares as the hash; same
    discipline as hashed_embedding), which lets the DuckDB oracle
    replay the full mining given pinned centroids.
    """
    from pyspark.sql import Window

    tagged = (
        kmeans_cluster(
            vectors,
            k=k,
            n_iter=n_iter,
            id_col=id_col,
            vec_col=vec_col,
        )
        .select(F.col(id_col).alias("anchor_id"), "cluster")
        # r12: the tagging scan (full corpus through the assignment
        # UDF) feeds BOTH the ring window and the per-cluster reps
        # aggregate; without materialization it ran once per branch
        # (guide §5 cut-the-lineage).  The checkpointed frame is the
        # narrow (id, cluster) pair, never the vectors.
        # Same-session A/B inside the family run: see kmeans_fit note.
        .localCheckpoint(eager=True)
    )
    order = F.md5(
        F.concat(F.lit(TRIPLETS_SALT + ":"), F.col("anchor_id").cast("string"))
    )
    w = Window.partitionBy("cluster").orderBy(order.asc(), F.col("anchor_id").asc())
    ring = tagged.withColumn(
        "positive_id",
        F.coalesce(
            F.lead("anchor_id").over(w),
            F.first("anchor_id").over(
                w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        ),
    ).filter(F.col("positive_id") != F.col("anchor_id"))  # singletons drop
    reps = (
        tagged.groupBy("cluster")
        .agg(F.min("anchor_id").alias("negative_id"))
        .select((F.col("cluster")).alias("_nc"), "negative_id")
    )
    return (
        ring.withColumn("_nc", (F.col("cluster") + 1) % k)
        .join(F.broadcast(reps), "_nc")
        .select("anchor_id", "positive_id", "negative_id", "cluster")
        .orderBy("anchor_id")
    )


def cluster_profile(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster quality audit for a k-means fit — the numbers that
    decide whether k is right and which clusters deserve the D4
    prune or a SemDeDup pass: for each cluster,
    (cluster, n, frac, mean_dist, max_dist, inertia) where distances
    are exact L2 to the winning centroid (``_assign_dist_udf``'s
    direct recomputation, not the cancellation-prone expanded form)
    and inertia is the cluster's Σ dist² (decimal-summed, so the
    audit is partition-order independent like the fit itself).

    Scale shape: the fit is the bounded kmeans_fit job; assignment +
    distance is one Arrow pass; the profile is ONE partial-aggregated
    shuffle on the cluster id (k result rows).  Rows-only gate (the
    quantizer is not SQL-expressible); invariants are unit-tested
    (tight vs loose clusters, fractions sum to 1, inertia ≥ 0)."""
    cents = kmeans_fit(vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    ad = _assign_dist_udf(cents)
    assigned = vectors.select(
        ad(_as_double(vec_col)).alias("_cd")
    ).select(
        F.col("_cd.cell").cast("long").alias("cluster"),
        F.col("_cd.dist").alias("_d"),
    )
    prof = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_d").cast("decimal(30,15)")).alias("_sd"),
        F.max("_d").alias("_md"),
        F.sum((F.col("_d") * F.col("_d")).cast("decimal(30,15)")).alias("_sd2"),
    # r12: k-row frame whose lineage is the full assignment+distance
    # corpus scan, consumed by the total agg AND the final projection
    # — eager checkpoint so the scan runs once (guide §5).
    ).localCheckpoint(eager=True)
    tot = prof.agg(F.sum("n").alias("_tn"))
    return prof.crossJoin(F.broadcast(tot)).select(
        "cluster",
        "n",
        F.round(F.col("n") / F.col("_tn").cast("double"), 6).alias("frac"),
        F.round(F.col("_sd").cast("double") / F.col("n"), 6).alias("mean_dist"),
        F.round(F.col("_md"), 6).alias("max_dist"),
        F.round(F.col("_sd2").cast("double"), 6).alias("inertia"),
    )
