"""Distributed PCA over an embedding column — the dimensionality
reducer in front of ANN indexing, SemDeDup cells, and k-means (lower
d → cheaper distance math and better-conditioned clusters).

Scale shape (100 TB posture): the textbook two-phase split used by
every distributed PCA — the DATA never leaves the cluster, only the
d×d second-moment matrix does:

  phase 1 (distributed): mean vector and Gramian Σ x·xᵀ in ONE Arrow
    pass — vectors quantize to 2^20 integer micro-units and each
    batch emits its int64 numpy Gramian upper triangle + sum + count
    (d(d+1)/2 + d + 1 longs per ~10k-row batch, never per row), then
    a decimal(38) Spark sum reduces batches.  Integer arithmetic is
    exact at every step, so the covariance matrix is EXACTLY
    partition-order-independent → the whole fit is deterministic,
    not just statistically stable (same accumulation recipe as
    clustering.kmeans_fit).  Quantization defines the contract: this
    is exact PCA of the 2^-20-rounded data (≈1e-6 relative), not
    approximate PCA of the raw data.
  phase 2 (driver, bounded): eigendecomposition of the d×d covariance
    (d ≤ a few hundred — 64×64 here; never row-count-sized), sign
    canonicalized so each component's largest-|loading| entry is
    positive.
  projection: one vectorized Arrow pass (numpy matmul per batch).

Rows-only for the oracle gate (eigensolver float details are not
SQL-expressible); the algebraic contracts — orthonormal components,
descending explained variance, total-variance conservation, exact
recovery of a known planted basis — are property-tested in
tests/test_decomposition.py.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _as_double


class PCAModel(NamedTuple):
    mean: np.ndarray          # (d,)
    components: np.ndarray    # (p, d) orthonormal rows
    explained_var: np.ndarray  # (p,) descending
    total_var: float
    n_rows: int


_PCA_SCALE = float(1 << 20)  # micro-unit quantization (≈1e-6 relative)


def pca_fit(
    vectors: DataFrame,
    p: int = 8,
    vec_col: str = "embedding",
) -> PCAModel:
    """Fit PCA; returns the bounded driver-side model (see module
    docstring for the two-phase shape)."""
    v = vectors.select(_as_double(vec_col).alias("v")).filter(
        F.col("v").isNotNull()
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["v"].to_numpy())
            q = np.floor(x * _PCA_SCALE + 0.5).astype(np.int64)
            iu = np.triu_indices(q.shape[1])
            # one row per Arrow batch: [count, sums..., triu(gram)...]
            # int64 throughout — products ≤ 2^40, ≤ ~10k batch rows,
            # so every within-batch sum stays far under 2^63
            acc = np.concatenate(
                [[len(q)], q.sum(axis=0), (q.T @ q)[iu]]
            )
            yield pd.DataFrame({"d": [q.shape[1]], "acc": [acc.tolist()]})

    reduced = (
        v.mapInPandas(partials, schema="d int, acc array<long>")
        .select("d", F.posexplode("acc").alias("pos", "val"))
        .groupBy("d", "pos")
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    widths = {r.d for r in reduced}
    if len(widths) > 1:
        raise ValueError(f"pca_fit: mixed embedding widths {sorted(widths)}")
    if not reduced:
        raise ValueError("pca_fit: need at least 2 rows")
    d = next(iter(widths))
    if not 1 <= p <= d:
        raise ValueError(f"pca_fit: need 1 <= p <= dim, got p={p}, dim={d}")

    flat = np.zeros(1 + d + d * (d + 1) // 2)
    for r in reduced:
        flat[r.pos] = float(r.s)
    n = int(flat[0])
    if n < 2:
        raise ValueError("pca_fit: need at least 2 rows")
    mean = flat[1 : 1 + d] / (_PCA_SCALE * n)
    gram = np.zeros((d, d))
    iu = np.triu_indices(d)
    gram[iu] = flat[1 + d :]
    gram.T[iu] = gram[iu]
    cov = gram / (_PCA_SCALE * _PCA_SCALE * n) - np.outer(mean, mean)

    eigval, eigvec = np.linalg.eigh(cov)           # ascending
    order = np.argsort(eigval)[::-1][:p]
    comps = eigvec[:, order].T                      # (p, d)
    # sign convention: largest-|loading| entry positive
    for k in range(p):
        j = int(np.argmax(np.abs(comps[k])))
        if comps[k, j] < 0:
            comps[k] = -comps[k]
    return PCAModel(
        mean=mean,
        components=comps,
        explained_var=np.maximum(eigval[order], 0.0),
        total_var=float(np.trace(cov)),
        n_rows=int(n),
    )


def pca_project(
    vectors: DataFrame,
    model: PCAModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project rows onto the fitted components: (id, out_col) with
    out_col an array<double> of length p.  One Arrow pass, numpy
    matmul per batch; the (p×d + d) model broadcasts inside the UDF
    closure.  Rows with a NULL embedding are DROPPED (the fit never
    saw them either) rather than crashing the Arrow batch."""
    comps = model.components
    mean = model.mean

    @F.pandas_udf("array<double>")
    def _proj(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        x = np.vstack(col.to_numpy()) - mean
        return pd.Series(list(x @ comps.T))

    return vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), _proj(_as_double(vec_col)).alias(out_col)
    )


_Q = 1_000_000  # output micro-unit quantization (repo convention)


def pca_project_quantized(
    vectors: DataFrame,
    model: PCAModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "v_u",
) -> DataFrame:
    """Engine-portable projection (r9, the hash-gate variant of
    ``pca_project``): quantize the input vector, the mean, and the
    components to 1e-6 micro-unit int64s (``floor(x·1e6 + 0.5)`` —
    the same half-up-toward-+inf rule DuckDB's ``floor`` applies),
    then project with EXACT int64 arithmetic:

        v_u[k] = Σ_i (x_u[i] − mean_u[i]) · comp_u[k][i]

    Integer addition is order-independent, so the result is
    bit-identical across engines and partitionings — a DuckDB oracle
    replays it from pinned component literals.  Magnitudes: |x|,
    |mean| ≤ O(1) and |c| ≤ 1 ⇒ per-term ≤ ~1e13, d=64 terms ⇒
    ≪ 2^63.  Output is EXPLODED (id, dim, v_u) — the driver-hash
    shape (BIGINT values only).  One Arrow pass, int64 matmul per
    batch; the contract is exact projection OF THE QUANTIZED data
    (micro-unit rounding ≈ 1e-6 relative), mirroring ``pca_fit``'s
    own quantized-Gramian contract."""
    mean_u = np.floor(model.mean * _Q + 0.5).astype(np.int64)
    comps_u = np.floor(model.components * _Q + 0.5).astype(np.int64)
    p = comps_u.shape[0]

    @F.pandas_udf("array<long>")
    def _proj(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype=object)
        xu = np.floor(np.vstack(col.to_numpy()) * _Q + 0.5).astype(np.int64)
        out = (xu - mean_u) @ comps_u.T  # exact int64
        return pd.Series(list(out))

    return (
        vectors.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), _proj(_as_double(vec_col)).alias("_vu"))
        .select(
            id_col,
            F.posexplode("_vu").alias("dim", out_col),
        )
        .withColumn("dim", F.col("dim").cast("int"))
    )


def pca(
    vectors: DataFrame,
    p: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit + project in one call; appends the per-component explained
    variance RATIO as a literal array column so downstream consumers
    (and the registry entry) carry the fit quality with the data."""
    model = pca_fit(vectors, p=p, vec_col=vec_col)
    ratio = (
        model.explained_var / model.total_var
        if model.total_var > 0
        else np.zeros_like(model.explained_var)
    )
    out = pca_project(vectors, model, id_col=id_col, vec_col=vec_col)
    return out.withColumn(
        "explained_ratio",
        F.array(*[F.lit(round(float(x), 6)) for x in ratio]),
    )


# Salt of random_projection's sign matrix md5(RPROJ_SALT:i:j); the
# DuckDB oracle interpolates this value.
RPROJ_SALT = "rproj-v1"


def random_projection(
    emb: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss sparse sign projection: reduce a d-dim
    embedding to k dims with a FIXED ±1 matrix, out_j = Σ_i v_i·s_ij /
    √k (Achlioptas 2003, "Database-friendly random projections" — the
    ±1 variant preserves pairwise distances in expectation like the
    Gaussian one at a fraction of the cost).  The model-free, no-fit
    companion to ``pca_fit``: the projection matrix derives from
    md5(RPROJ_SALT:i:j) parity, so it is identical on every engine, every
    run, and every executor — no broadcast of fitted state, nothing to
    persist, and the whole operator is value-level oracle-checkable
    (DuckDB regenerates the same matrix from the same md5s).

    Output is EXPLODED (vec_id, dim, value) rows — the shape ANN
    re-indexing and the driver's value-level comparison both want.

    Scale shape: one Arrow-batched ``mapInPandas`` pass; each Python
    worker materializes the (d × k) sign matrix once per batch stream
    (d·k md5s, thousands — amortized to nothing) and projects the
    whole batch as one numpy GEMM.  No shuffle at all: the operator
    is a pure per-row map, so it composes under whatever partitioning
    the downstream ANN/cluster step needs.  Values are rounded
    HALF_UP to 6 decimals (Spark ``F.round`` semantics) so the
    float64 GEMM and the oracle's per-term double sum agree."""
    import hashlib

    from typing import Iterator

    id_dt = emb.schema[id_col].dataType.simpleString()
    src = emb.select(F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        smat: dict[int, np.ndarray] = {}  # d -> (d, k) sign matrix

        def signs(d: int) -> np.ndarray:
            if d not in smat:
                s = np.empty((d, k), dtype=np.float64)
                for i in range(d):
                    for j in range(k):
                        h = hashlib.md5(f"{RPROJ_SALT}:{i}:{j}".encode()).hexdigest()
                        s[i, j] = 1.0 if int(h[:1], 16) % 2 == 0 else -1.0
                smat[d] = s
            return smat[d]

        for pdf in batches:
            if not len(pdf):
                continue
            ok = pdf[pdf["_v"].map(lambda v: v is not None and len(v) > 0)]
            if not len(ok):
                continue
            for d, grp in ok.groupby(ok["_v"].map(len).to_numpy()):
                V = np.array(grp["_v"].tolist(), dtype=np.float64)
                P = (V @ signs(int(d))) / np.sqrt(float(k))
                # HALF_UP, not numpy's half-even
                P = np.sign(P) * np.floor(np.abs(P) * 1e6 + 0.5) / 1e6
                n = len(grp)
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(grp["_id"].to_numpy(), k),
                        "dim": np.tile(np.arange(k, dtype=np.int32), n),
                        "value": P.reshape(-1),
                    }
                )

    return src.mapInPandas(run, f"vec_id {id_dt}, dim int, value double")
