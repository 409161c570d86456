"""SQL surface: register the engine's tables as temp views and run
ad-hoc ANSI SQL against them.

The reference delegates all querying to PostgreSQL — its users live
in SQL (reference/extractor/extractor.py pushes every table into
``gdelt_news`` and analysis happens as SQL over those tables).  This
module is the switch-over path for those users: the same table names
become Spark temp views and any SQL they ran against PostgreSQL runs
through Catalyst instead — predicate pushdown, AQE, and the rest of
the engine's planning for free, no DataFrame API required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources.tables import load_table

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def register_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register each ``TESTDATA_TABLES`` parquet table under ``sf_dir``
    as a temp view of the same name; returns the view names.  Views
    are lazy — registration costs nothing until a query scans one, and
    every scan gets the loaders' type normalization (timestamp
    quirks etc.), not a raw parquet read."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return list(TESTDATA_TABLES)


def run_sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-call ad-hoc SQL: register the standard tables, run the
    statement, return the DataFrame (lazy)."""
    register_tables(spark, sf_dir)
    return spark.sql(query)
