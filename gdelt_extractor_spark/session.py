"""SparkSession factory tuned for the test environment (local[N]) but
with settings that carry to a real cluster (AQE, UTC, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "gdelt_extractor_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local-mode knobs come from env: ``SPARK_GRAFT_CPUS`` (default: the
    cores this process may run on) and ``SPARK_GRAFT_DRIVER_MEM``
    (default: half of physical memory, at most 16g).
    Cluster-portable settings: UTC session timezone (oracle
    comparability), Arrow for any Pandas-UDF edge, shuffle partitions
    sized to cores rather than the 200 default, and AQE on for its
    runtime join and skew choices but with partition coalescing off.
    With one shuffle partition per core, coalescing can only merge a
    stage below one task per core: its default 1 MB minimum partition
    size folded every shuffle under ~4 MB into one or two tasks, and
    a 2k-document curation ran its window, five PII regexes, md5 and
    write on one core of a 4-core host (0.67-0.87 s of a ~4.6 s flow;
    off, the flow took ~4.1 s).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark >=4.1 infers parquet isAdjustedToUTC=0 micros as
        # TIMESTAMP_NTZ, which rejects cast-to-double / unix_micros;
        # keep the pre-4.1 TIMESTAMP (LTZ) inference engine-wide.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode the driver JVM IS the executor: 32 concurrent
        # tasks against an 8g heap made later bench queries pay
        # earlier queries' accumulated block/shuffle state through
        # eviction pressure (full-suite A/B at sf0.1:
        # dedup_semantic 5.8s→2.1s, dup_clusters 3.3s→1.3s with a
        # bigger heap).  Heap SIZE itself costs: small-query medians
        # rise ~6% per doubling (G1 bookkeeping), and ZGC was 1.7×
        # worse (concurrent GC steals task CPU on a saturated
        # local[32]).  16g vs 48g full-suite totals measured equal
        # (77.7s vs 77.8s) once operators stopped persisting
        # full-corpus array frames, so 16g is the most the default
        # asks for: same throughput, less memory, faster small
        # queries.  On a smaller host the default is half its memory.
        # -Xmx is a cap, not a reservation; on a real cluster executor
        # memory is sized separately anyway.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(16, phys_gb // 2))}g"))
        .config("spark.ui.enabled", "false")
        # Stage-progress bars write \r frames to stdout; the bench
        # driver parses bench.py's final JSON line from a bounded
        # stdout tail, so keep stdout machine-clean everywhere.
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
