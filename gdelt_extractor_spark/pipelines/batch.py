"""End-to-end batch pipelines — the Spark equivalents of the
reference entry points ``run_v2``/``run_v1``
(reference/extractor/extractor.py:408-457): collect → clean → enrich
→ geometry → load → lastrun.

Differences by design:
- the load target is parquet (``sinks.files``); a postgres
  deployment writes the returned tables with ``sinks.jdbc.write_jdbc``,
- the events table is written once and the other tables are derived
  from the written files, so the source is scanned once per run,
- enrichment is the injectable-fetcher mapInPandas stage
  (``operators.enrich``) instead of a driver-side multiprocessing
  pool,
- the geometry table mirrors v2_table.py's geom_base projection
  (reference/extractor/v2_table.py:68-84): typed casts of the
  actor1 coordinates + validity filter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import enrich_articles_fetch
from ..operators.geo import geo_project
from ..sinks.files import write_parquet
from ..sinks.jdbc import lastrun_df
from ..sources.gdelt import process_gdelt_events, read_gdelt_v1, read_gdelt_zip

# geom_base's projection (v2_table.py:68-84), lowercased as the
# pipeline emits lowercase columns
GEOM_KEEP = (
    "globaleventid",
    "sqldate",
    "actor1name",
    "actor2name",
    "eventcode",
    "goldsteinscale",
    "numarticles",
    "avgtone",
    "sourceurl",
)


def _load(
    spark: SparkSession,
    clean: DataFrame,
    out_dir: str,
    events: str,
    prefix: str,
    fetcher: Callable[[str], dict] | None = None,
) -> dict[str, DataFrame]:
    """Write the cleaned events table once, then derive every other
    table from the written files (read back with the known schema, so
    no inference job runs): the source scan, unzip and keep-first
    shuffle run once per call, not once per table."""
    write_parquet(clean, f"{out_dir}/{events}")
    written = spark.read.schema(clean.schema).parquet(f"{out_dir}/{events}")
    tables = {events: written}
    if fetcher is not None:
        tables[f"{prefix}_articles"] = enrich_articles_fetch(
            written.select(
                F.col("globaleventid").alias("doc_id"),
                F.col("sourceurl").alias("source"),
            ),
            id_col="doc_id",
            url_col="source",
            fetcher=fetcher,
        )
    tables[f"{prefix}_geom"] = geo_project(
        written, "actor1geo_lat", "actor1geo_long", *[c for c in GEOM_KEEP if c in written.columns]
    )
    tables[f"{prefix}_lastrun"] = lastrun_df(spark)
    for name, df in tables.items():
        if name != events:
            write_parquet(df, f"{out_dir}/{name}")
    return tables


def run_v2_batch(
    spark: SparkSession,
    zip_glob: str,
    out_dir: str,
    fetcher: Callable[[str], dict] | None = None,
) -> dict[str, DataFrame]:
    """run_v2, Spark-native: zipped export drops → cleaned events
    table, geometry table, optional article enrichment, lastrun."""
    clean = process_gdelt_events(read_gdelt_zip(spark, zip_glob))
    return _load(spark, clean, out_dir, "v2_exports", "v2", fetcher)


def run_v1_batch(
    spark: SparkSession, tsv_path: str, out_dir: str
) -> dict[str, DataFrame]:
    """run_v1, Spark-native: daily events TSV → cleaned table +
    geometry + lastrun (reference extractor.py:436-457).

    Discovery: a deployment resolves ``tsv_path`` from the v1 index
    page via ``sources.gdelt.parse_v1_index`` (the pure twin of the
    reference's fetch_last_v1_url) after an env-gated fetch, exactly
    as the v2 flow resolves its zip URLs via ``parse_lastupdate``.
    """
    clean = process_gdelt_events(read_gdelt_v1(spark, tsv_path))
    return _load(spark, clean, out_dir, "v1", "v1")
