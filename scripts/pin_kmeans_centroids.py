#!/usr/bin/env python
"""Regenerate the data-pinned k-means centroid literals.

``cluster_embeddings`` and ``cluster_quality`` are iterative fits —
not SQL-expressible — but their converged centroids are a pure
function of the (deterministic) fit inputs, so the DuckDB oracle can
hash-gate the FULL assignment/profile by inlining the centroid
literals and re-running only the (closed-form) assignment step.
Because each testdata SF has different embedding content, the pins
are keyed by a DATA FINGERPRINT the oracle recomputes inside the
query (COUNT + integer micro-sum of the first component): the oracle
carries every pinned set and joins on the matching fingerprint, so
one SQL string is correct at every pinned SF and fails LOUDLY (zero
rows) on unpinned/regenerated data.

Run after any testdata regeneration:
    python scripts/pin_kmeans_centroids.py
writes gdelt_extractor_spark/operators/_kmeans_pins.py.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from gdelt_extractor_spark.session import get_spark  # noqa: E402
from gdelt_extractor_spark.sources.tables import load_table  # noqa: E402

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

FINGERPRINT_SQL = (
    "CAST(COUNT(*) AS VARCHAR) || ':' || CAST(CAST(SUM(CAST(floor("
    "CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)"
    " AS VARCHAR)"
)


def fingerprint(sf_dir: str) -> str:
    con = duckdb.connect()
    return con.sql(
        f"SELECT {FINGERPRINT_SQL} FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]


def main() -> None:
    from gdelt_extractor_spark.operators.clustering import kmeans_fit

    spark = get_spark("pin-kmeans")
    spark.sparkContext.setLogLevel("ERROR")
    # per set: {"cents": [[dim doubles] * k], "csq": [k doubles]} —
    # csq is numpy (c*c).sum(axis=1), stored so the oracle's expanded
    # distance uses the BIT-SAME squared norms the assignment UDF uses
    import numpy as np

    from gdelt_extractor_spark.operators.decomposition import pca_fit

    pins: dict[str, dict[str, dict]] = {
        "assign3": {},  # cluster_embeddings + cluster_prune: k=8, n_iter=3
        "profile4": {},  # cluster_quality:       k=8, n_iter=4
        "triplets2": {},  # contrastive_triplets: k=8, n_iter=2
        "pca8": {},  # pca_embeddings: p=8 micro-unit mean/components
        "ivf16": {},  # ann_ivf_topk: IVF quantizer m=16, n_iter=2
        "ivfsem8": {},  # dedup_semantic: IVF quantizer m=8, n_iter=2
        "pq4x16": {},  # ann_pq_topk: PQ codebooks m=4, ksub=16, n_iter=3
    }
    from gdelt_extractor_spark.operators.similarity import (
        IVF_N_ITER,
        PQ_M,
        PQ_N_ITER,
        ivf_fit_centroids,
        pq_fit_codebooks,
    )

    for sf_dir in SF_DIRS:
        fp = fingerprint(sf_dir)
        emb = load_table(spark, sf_dir, "embeddings")
        for key, n_iter in (("assign3", 3), ("profile4", 4), ("triplets2", 2)):
            c = kmeans_fit(emb, k=8, n_iter=n_iter)
            pins[key][fp] = {
                "cents": [[float(x) for x in row] for row in c],
                "csq": [float(x) for x in (c * c).sum(axis=1)],
            }
        # PCA pins: the micro-unit-quantized mean vector and component
        # rows pca_project_quantized derives from the (deterministic)
        # fit — ints, so the oracle replay is exact by construction
        # IVF coarse-quantizer pins (ann_ivf_topk / dedup_semantic):
        # the bounded-sample Lloyd fit is deterministic, so the oracle
        # replays assignment/probe/rerank from these literals
        for key, m_cells in (("ivf16", 16), ("ivfsem8", 8)):
            c = ivf_fit_centroids(emb, m=m_cells, n_iter=IVF_N_ITER)
            pins[key][fp] = {
                "cents": [[float(x) for x in row] for row in c],
                "csq": [float(x) for x in (c * c).sum(axis=1)],
            }
        books = pq_fit_codebooks(emb, m=PQ_M, ksub=16, n_iter=PQ_N_ITER)
        pins["pq4x16"][fp] = {
            "books": [
                [[float(x) for x in cent] for cent in book] for book in books
            ],
            "bsq": [
                [float(x) for x in (book * book).sum(axis=1)] for book in books
            ],
        }
        m = pca_fit(emb, p=8)
        pins["pca8"][fp] = {
            "mean_u": [int(x) for x in np.floor(m.mean * 1e6 + 0.5)],
            "comps_u": [
                [int(x) for x in np.floor(row * 1e6 + 0.5)]
                for row in m.components
            ],
        }
        print(f"{sf_dir}: fingerprint {fp}")

    out = os.path.join(
        REPO, "gdelt_extractor_spark", "operators", "_kmeans_pins.py"
    )
    with open(out, "w") as fh:
        fh.write(
            '"""Data-pinned k-means centroids (GENERATED — do not edit).\n\n'
            "Regenerate with scripts/pin_kmeans_centroids.py after any\n"
            "testdata change.  Keys are the embeddings-table fingerprint\n"
            "the oracle recomputes in SQL; values are the converged\n"
            "centroid matrices (repr round-trip — bit-exact doubles).\n"
            '"""\n\n'
            f"FINGERPRINT_SQL = {FINGERPRINT_SQL!r}\n\n"
            f"PINS = {pins!r}\n"
        )
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
