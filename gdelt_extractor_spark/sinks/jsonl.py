"""Sharded JSONL export — the standard text-training interchange:
``shard-<k>.jsonl[.gz]`` files with a checksummed manifest, the
layout dataset hubs and tokenizer pipelines consume.

Differs from ``df.write.json`` on exactly the guarantees a training
handoff needs and Spark's committer does not give:
- FIXED shard count and content-stable row routing (md5 shard
  assignment, the same as ``files.write_training_shards``) — not one
  file per task of whatever
  parallelism the job ran at;
- byte-deterministic output (within-shard id sort, JVM ``to_json``
  with a fixed struct field order, gzip mtime pinned to 0) — two
  runs over the same data produce identical bytes, so shards can be
  content-addressed and diffed;
- a ``manifest.json`` with per-shard row counts, byte sizes, and
  sha256 checksums — the loader-side integrity contract;
- crash-safe finalize (same staging → per-file ``os.replace``
  discipline as ``webdataset.py``; no pre-delete).

Scale shape: ONE shuffle (the shard route); serialization happens
JVM-side (``to_json`` over a struct, whole-stage codegen), and the
Arrow pass only concatenates ready-made line strings into the
executor-local gzip stream — constant memory per task, payload never
on the driver (the driver collects the |n_shards|-row manifest).
LOCAL-FILESYSTEM ONLY (guarded), like every rename-finalize sink
here: object stores need a committer.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .files import shard_assignment


def _require_local(path: str) -> str:
    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"write_jsonl_shards supports local filesystems only "
            f"(path={path!r}); object-store export needs a "
            "committer-backed sink"
        )
    return path.removeprefix("file://")


_MANIFEST_SCHEMA = (
    "shard int, file string, n_rows long, n_bytes long, sha256 string"
)


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    columns: list[str] | None = None,
    n_shards: int = 8,
    compress: bool = True,
) -> list[dict]:
    """Export ``df`` as ``n_shards`` JSONL shards under ``path``.

    ``columns`` fixes the JSON field order (default: all columns in
    DataFrame order); rows are one JSON object per line, sorted by
    ``id_col`` within each shard.  Returns the manifest rows (also
    written as ``manifest.json``).
    """
    cols = columns or df.columns
    path = _require_local(path)
    staging = os.path.join(path, "_staging")
    if os.path.exists(staging):
        shutil.rmtree(staging)  # inert leftover of a crashed export
    os.makedirs(staging, exist_ok=True)
    ext = "jsonl.gz" if compress else "jsonl"

    routed = (
        df.select(
            F.col(id_col).alias("jl_id"),
            F.to_json(F.struct(*cols)).alias("jl_line"),
        )
        .withColumn("jl_shard", shard_assignment("jl_id", n_shards))
        .repartition(n_shards, F.col("jl_shard"))
        .sortWithinPartitions("jl_id")
    )

    def write_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        files: dict[int, object] = {}
        raws: dict[int, object] = {}
        stats: dict[int, list[int]] = {}
        try:
            for pdf in batches:
                for shard, line in zip(pdf["jl_shard"], pdf["jl_line"]):
                    shard = int(shard)
                    if shard not in files:
                        raw = open(
                            os.path.join(
                                staging, f"shard-{shard:05d}.{ext}"
                            ),
                            "wb",
                        )
                        raws[shard] = raw
                        if compress:
                            # filename='' + mtime=0 keeps the gzip
                            # header byte-deterministic
                            files[shard] = gzip.GzipFile(
                                filename="", mode="wb", fileobj=raw,
                                mtime=0,
                            )
                        else:
                            files[shard] = raw
                        stats[shard] = [0, 0]
                    data = (line + "\n").encode("utf-8")
                    files[shard].write(data)
                    stats[shard][0] += 1
                    stats[shard][1] += len(data)
        finally:
            for fh in files.values():
                fh.close()  # gzip trailer; does NOT close the raw file
            for fh in raws.values():
                if not fh.closed:
                    fh.close()  # flush the buffered writer to disk
        rows = []
        for shard, (n_rows, n_bytes) in stats.items():
            name = f"shard-{shard:05d}.{ext}"
            sha = hashlib.sha256()
            with open(os.path.join(staging, name), "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    sha.update(chunk)
            rows.append(
                {
                    "shard": shard,
                    "file": name,
                    "n_rows": n_rows,
                    "n_bytes": n_bytes,
                    "sha256": sha.hexdigest(),
                }
            )
        yield pd.DataFrame(
            rows, columns=["shard", "file", "n_rows", "n_bytes", "sha256"]
        )

    manifest_rows = sorted(
        (
            r.asDict()
            for r in routed.mapInPandas(
                write_partition, _MANIFEST_SCHEMA
            ).collect()
        ),
        key=lambda r: r["shard"],
    )

    # Finalize: per-file os.replace only, manifest swap is the commit
    # point, stale-shard removal strictly after (webdataset.py has the
    # full crash-safety argument; same discipline here).
    with open(os.path.join(staging, "manifest.json"), "w") as fh:
        json.dump(manifest_rows, fh, indent=1)
    new_files = sorted(
        n for n in os.listdir(staging) if n.startswith("shard-")
    )
    for name in new_files:
        os.replace(os.path.join(staging, name), os.path.join(path, name))
    os.replace(
        os.path.join(staging, "manifest.json"),
        os.path.join(path, "manifest.json"),
    )
    for name in os.listdir(path):  # stale shards not in the new export
        if name.startswith("shard-") and name not in new_files:
            os.remove(os.path.join(path, name))
    shutil.rmtree(staging)
    return manifest_rows
