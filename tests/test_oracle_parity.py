"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry at sf0.001 and compare against its
``oracle_sql()`` twin in DuckDB — same columns, same row count, and
exactly equal values after sorting columns by name and rows by all
columns (mirroring an order-insensitive value hash).
"""

from __future__ import annotations

import math

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF0001 as _DEFAULT_SF

# The driver's t2 gate runs at sf0.01; default here is sf0.001 for
# speed.  Override to rehearse the gate at its own scale:
#   SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01 pytest tests/test_oracle_parity.py
SF0001 = os.environ.get("SPARK_GRAFT_PARITY_SF", _DEFAULT_SF)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df) -> list[tuple]:
    """pandas frame → column-name-sorted, row-sorted list of tuples
    with NaN→None so equality is well-defined."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        norm = []
        for v in row:
            if isinstance(v, float) and math.isnan(v):
                norm.append(None)
            else:
                norm.append(v)
        out.append(tuple(norm))
    out.sort(key=lambda r: tuple((x is None, str(type(x)), x) for x in r))
    return out


# the declared no-oracle set, exactly: approximate / non-SQL ops.  A
# graduation or a new rows-only entry must update it.
ROWS_ONLY = (
    "dedup_audio",
    "approx_distinct_users",
    "approx_quantiles",
    "compression_stats",
    "sketch_rollup",
    "text_repair",
)


def test_every_query_has_oracle_or_is_declared():
    assert set(QUERIES) - set(ORACLES) == set(ROWS_ONLY)
    stale = set(ORACLES) - set(QUERIES)
    assert not stale, f"oracles without query: {stale}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(name, spark):
    sdf = QUERIES[name](spark, SF0001).toPandas()
    con = duck_con(SF0001)
    ddf = con.sql(ORACLES[name]).df()

    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: rows {len(sdf)} vs {len(ddf)}"

    s_rows, d_rows = canon(sdf), canon(ddf)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first diffs {mismatches[:3]}"


# hash-gated queries that also keep the Spark-only run check: each
# left ROWS_ONLY on graduating to an oracle.
GRADUATED = (
    "person_influence",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "actor_pagerank",
    "dedup_incremental_minhash",
    "bpe_subwords",
    "related_actors",
)


def test_graduated_queries_are_gated():
    assert set(GRADUATED) <= set(ORACLES)


@pytest.mark.parametrize("name", ROWS_ONLY + GRADUATED)
def test_rows_only_queries_run(name, spark):
    df = QUERIES[name](spark, SF0001)
    assert df.count() >= 0
    assert len(df.columns) >= 2


def test_approx_distinct_error_bound(spark):
    """HLL++ at rsd=0.01 must land within 5·rsd of the exact count
    (generous: the guarantee is probabilistic)."""
    rows = QUERIES["approx_distinct_users"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(3, 0.05 * r.exact_users), (
            r.event_type,
            r.approx_users,
            r.exact_users,
        )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
