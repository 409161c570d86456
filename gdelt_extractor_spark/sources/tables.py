"""Loaders for the driver-generated parquet testdata (TESTDATA.md).

Reads are ``spark.read.parquet`` so Catalyst gets full pushdown and
pruning; callers select/filter immediately after load.  A parquet read
without a schema is a Spark job: a one-task ``parquet at`` job reads a
footer to infer the schema (~85 ms against ~11 ms with a schema given,
on a 4-core host).  ``load_table`` therefore reads the first part
file's footer on the driver (``_footer_schema``, ~0.5 ms) and hands
Spark that schema, whenever the footer's types map to Spark's
inference exactly; otherwise, and for ``events``, Spark infers it.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, StructField, StructType

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.

    ``events.parquet`` stores its ``ts`` with parquet
    ``isAdjustedToUTC=0``, which different Spark versions surface
    differently; normalize to a plain TIMESTAMP (LTZ) here so every
    query downstream sees one type:

    * TIMESTAMP(NANOS): rejected by default — read nanos as long
      (spark.sql.legacy.parquet.nanosAsLong) and convert to a
      microsecond timestamp column-side, truncating sub-microseconds —
      the same truncation DuckDB applies reading the file.
    * TIMESTAMP(MICROS, isAdjustedToUTC=0): Spark ≥4.1 infers
      TIMESTAMP_NTZ, which rejects ``cast(.. as double)`` /
      ``unix_micros`` — disable spark.sql.parquet.inferTimestampNTZ
      around the read so the stored micros surface as TIMESTAMP
      (no value shift; the reader labels the same int64 micros).
      DuckDB reads the file naively, so values stay comparable under
      the UTC session timezone.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        schema = _footer_schema(spark, path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)
    # These confs are session-wide; save/restore around the read so
    # later parquet reads elsewhere in the session are unaffected.
    # The analyzed plan captures conf values at read time (schema
    # inference is eager in spark.read.parquet), so restoring
    # immediately is safe.
    confs = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer div: double division would lose precision at ~1e18 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # belt-and-braces: never leak NTZ to query code
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return df


def _exact(t: pa.DataType) -> bool:
    """Arrow types, nested through structs and lists, that Spark's
    parquet schema inference maps to the type ``from_arrow_type``
    gives.  Unsigned ints, nanosecond and INT96 timestamps (rejected or
    relabelled under Spark's confs), binary (``binaryAsString``), maps
    and the rest are left to Spark."""
    if pa.types.is_struct(t):
        return all(_exact(f.type) for f in t)
    if pa.types.is_list(t):
        return _exact(t.value_type)
    if pa.types.is_timestamp(t):
        return t.unit in ("ms", "us")
    return (
        pa.types.is_boolean(t)
        or pa.types.is_signed_integer(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_decimal128(t)
        or pa.types.is_string(t)
        or pa.types.is_date32(t)
    )


def _nullable(t: DataType) -> DataType:
    """Spark's ``asNullable``: a file source's schema is nullable all
    the way down, whatever the footer declares."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    return t


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, from the first
    part file's footer, without a Spark job; ``None`` when it cannot
    be derived exactly: no local part file (a missing path then raises
    Spark's own error), partition subdirectories (their columns come
    from the directory names), a Spark-written footer (Spark restores
    its stored schema, field metadata included) or a type outside
    ``_exact``.  A timestamp without a time zone is
    ``isAdjustedToUTC=false``, which Spark reads as TIMESTAMP_NTZ
    exactly when ``spark.sql.parquet.inferTimestampNTZ.enabled``."""
    if os.path.isfile(path):
        first = path
    elif os.path.isdir(path):
        entries = sorted(
            (e for e in os.scandir(path) if not e.name.startswith(("_", "."))),
            key=lambda e: e.name,
        )
        if not entries or any(e.is_dir() for e in entries):
            return None
        first = entries[0].path
    else:
        return None
    arrow = pq.read_schema(first)
    if b"org.apache.spark.sql.parquet.row.metadata" in (arrow.metadata or {}):
        return None
    if not all(_exact(f.type) for f in arrow):
        return None
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return _nullable(from_arrow_schema(arrow, prefer_timestamp_ntz=ntz))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


_SPLIT_MEMO: dict[str, int] = {}

# Spark's JavaUtils.byteStringAs suffixes (case-insensitive); a bare
# number in spark.sql.files.maxPartitionBytes means bytes.
_BYTE_SUFFIX = {
    "": 1,
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def _parse_byte_string(value: str) -> int:
    """Parse a Spark byte-string conf value ("134217728b", "128m",
    "1g", "64") into bytes — every form Spark's own
    ``JavaUtils.byteStringAs`` accepts for size confs."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", value)
    if m is None or m.group(2).lower() not in _BYTE_SUFFIX:
        raise ValueError(f"not a Spark byte-string: {value!r}")
    return int(m.group(1)) * _BYTE_SUFFIX[m.group(2).lower()]


def _estimated_splits(spark: SparkSession, path: str) -> int:
    """Scan-split estimate for ``path``, memoized per process.

    Spark carves files into splits of ``spark.sql.files.
    maxPartitionBytes``; reproducing that arithmetic driver-side from
    file sizes costs microseconds, versus triggering physical
    planning (``df.rdd``) which costs 100s of ms per query.  Paths we
    cannot stat locally (object stores) estimate conservatively high
    (treat as already-parallel) — at that scale splits exceed cores
    anyway.
    """
    if path not in _SPLIT_MEMO:
        max_pb = _parse_byte_string(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        total = 0
        if os.path.isfile(path):
            total = os.path.getsize(path)
        elif os.path.isdir(path):
            total = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            )
        else:  # non-local path: assume wide enough
            _SPLIT_MEMO[path] = 1 << 30
            return _SPLIT_MEMO[path]
        _SPLIT_MEMO[path] = max(1, -(-total // max_pb))
    return _SPLIT_MEMO[path]


def parallelized(df: DataFrame, path: str, min_partitions: int | None = None) -> DataFrame:
    """Guarantee at least ``min_partitions`` (default: the session's
    defaultParallelism) partitions under CPU-heavy per-row operators.

    A freshly-landed extract is often one small single-row-group
    parquet file; parquet row groups are the unit of split, so such a
    scan is ONE task and per-row-expensive work (tokenize / shingle /
    hash / dot-product) runs on one core no matter the cluster size.
    Round-robin repartitioning the raw rows costs one cheap shuffle of
    the input bytes and buys full-width execution of everything above.

    Adaptive: a no-op when the scan already has enough splits — at
    100 TB input splits vastly exceed cores and this never fires; it
    only triggers on the pathological small-file case it exists for.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if _estimated_splits(spark, path) >= target:
        return df
    return df.repartition(target)
