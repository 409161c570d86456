"""JDBC (PostgreSQL) sink — Spark re-expression of the reference's
``DataFrame.to_sql(..., if_exists='replace')`` loads plus lastrun
bookkeeping (reference/extractor/extractor.py:123-136,393-396,
408-457).

The test environment has no PostgreSQL server or JDBC driver jar, so
``write_jdbc`` is gated: options construction and plan wiring are
unit-tested, the actual write raises a clear error if the driver is
absent.  On a real cluster this is the standard
``df.write.format('jdbc')`` path with ``numPartitions`` controlling
parallel connections.
"""

from __future__ import annotations

import time
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def jdbc_options(config: dict[str, Any], table: str) -> dict[str, str]:
    """Build Spark JDBC options from a reference-shaped config dict
    (db_name/db_user/db_pass/db_host/db_port — reference
    config.json)."""
    return {
        "url": (
            f"jdbc:postgresql://{config['db_host']}:{config['db_port']}"
            f"/{config['db_name']}"
        ),
        "dbtable": table,
        "user": config["db_user"],
        "password": config["db_pass"],
        "driver": "org.postgresql.Driver",
    }


def write_jdbc(
    df: DataFrame,
    table: str,
    config: dict[str, Any],
    num_partitions: int | None = None,
) -> None:
    """Replace-mode load mirroring ``to_sql(if_exists='replace')``.

    ``num_partitions`` caps concurrent connections (coalesce before
    write) — on a 1000-executor cluster you do NOT want 1000
    simultaneous COPY streams into one postgres.
    """
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    writer = df.write.format("jdbc").mode("overwrite")
    for k, v in jdbc_options(config, table).items():
        writer = writer.option(k, v)
    try:
        writer.save()
    except Exception as exc:  # driver jar absent in this environment
        raise RuntimeError(
            "JDBC write failed — org.postgresql.Driver must be on the "
            "Spark classpath (spark.jars). Gated in the test env."
        ) from exc


def lastrun_df(spark: SparkSession) -> DataFrame:
    """One-row bookkeeping table (reference v2_lastrun/v1_lastrun:
    extractor.py:429-430).  Built from a pandas frame: with Arrow on
    the plan is a LocalRelation and no Python worker runs."""
    return spark.createDataFrame(pd.DataFrame({"runtime": [time.time()]}), "runtime double")
