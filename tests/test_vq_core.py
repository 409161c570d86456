"""The shared vector-quantization kernels of operators/similarity.py:
the nearest-centroid kernel every fit, assignment, probe and PQ code
ranks with, and the LSH bucket kernel both ``ann_lsh`` UDFs hash
with."""

from __future__ import annotations

import numpy as np

from gdelt_extractor_spark.operators import similarity as S
from gdelt_extractor_spark.sources.tables import load_table


def test_nearest_ties_go_low_and_order_is_stable():
    # ids 0 and 1 are the same point; the origin is equidistant from
    # ids 0, 1 and 2
    C = np.array([[1.0, 0.0], [1.0, 0.0], [-1.0, 0.0], [0.0, 5.0]])
    X = np.array([[2.0, 0.0], [0.0, 0.0], [-3.0, 0.0], [np.nan, 0.0]])
    assert S._nearest(X, C).tolist() == [0, 0, 2, 0]
    assert S._nearest(X[:3], C, 3).tolist() == [[0, 1, 2], [0, 1, 2], [2, 0, 1]]


def test_lsh_query_probes_start_with_the_vector_bucket(spark, sf_dir):
    """A query's first probe per table is the bucket
    ``lsh_multitable_udf`` puts the same vector in; with multiprobe
    the rest are that bucket with one bit flipped, each bit once."""
    v = (
        load_table(spark, sf_dir, "embeddings")
        .limit(50)
        .select(S._as_double("embedding").alias("v"))
        .select(
            S.lsh_multitable_udf(64, 8, 3)("v").alias("bkts"),
            S.lsh_query_probes_udf(64, 8, 3)("v").alias("own"),
            S.lsh_query_probes_udf(64, 8, 3, multiprobe=1)("v").alias("pbs"),
        )
    )
    rows = v.collect()
    assert len(rows) == 50
    for r in rows:
        assert [list(p) for p in r.own] == [[b] for b in r.bkts]
        assert [p[0] for p in r.pbs] == list(r.bkts)
        assert all(sorted(b ^ p[0] for b in p[1:]) == [1 << i for i in range(8)] for p in r.pbs)
