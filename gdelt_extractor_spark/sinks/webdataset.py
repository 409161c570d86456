"""WebDataset-style tar shard export — the multimodal-training
handoff format: each shard is one ``shard-<k>.tar`` whose members are
``<sample-id>.<ext>`` files, consecutive members of one sample
sharing a basename, read sequentially by one dataloader worker per
shard.

Scale shape: ONE shuffle — rows hash-route to their content-stable
shard (``files.shard_assignment``: md5-derived, the training-shard
layout) and sort by id within the partition, then each task STREAMS its
shard's tar straight to executor-local disk inside the Arrow pass
(constant memory per task: one open tar file, one batch of rows).
The driver never sees payload bytes; it collects only the
|n_shards|-row manifest.

Determinism: tar bytes are reproducible run-to-run — member order is
the within-shard id sort, and every tar header pins mtime=0,
uid=gid=0, empty uname/gname (tar headers otherwise embed wall-clock
and user info, which would break byte-identical re-exports).

Crash safety (same discipline as ``files.compact_parquet`` /
``pipelines.live``): tasks write into ``<path>/_staging``; only
after the Spark job fully succeeds does the driver finalize with
per-file ``os.replace`` (manifest staged with the tars, stale-shard
removal only after the manifest swap — no pre-delete).  A crash
leaves whole files only (each shard either old or new bytes, plus a
whole manifest) and re-running converges byte-identically.
LOCAL-FILESYSTEM ONLY (guarded): on an object store this belongs
behind a committer; the rename finalize is not atomic on S3.
"""

from __future__ import annotations

import json
import os
import shutil
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .files import shard_assignment


def _require_local(path: str, what: str) -> str:
    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"write_webdataset supports local filesystems only ({what}={path!r}); "
            "object-store export needs a committer-backed sink"
        )
    return path.removeprefix("file://")


_MANIFEST_SCHEMA = "shard int, n_samples long, n_bytes long"


def write_webdataset(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    members: dict[str, str] | None = None,
    n_shards: int = 8,
) -> list[dict]:
    """Export ``df`` as WebDataset tar shards.

    ``members`` maps tar-member EXTENSION → source column, e.g.
    ``{"txt": "text", "json": "meta_json"}`` or ``{"img": "content"}``
    for binary columns; string values encode UTF-8, bytes pass
    through, NULL skips that member.  Returns the per-shard manifest
    (also written as ``manifest.json``)."""
    members = members or {"txt": "text"}
    path = _require_local(path, "path")
    staging = os.path.join(path, "_staging")
    if os.path.exists(staging):
        shutil.rmtree(staging)  # inert leftover of a crashed export
    os.makedirs(staging, exist_ok=True)

    # POSITIONAL internal member columns (wds_m_0, wds_m_1, ...):
    # extensions are tar-member names, not identifiers — a dotted
    # extension like 'seg.png' (common WebDataset convention) would
    # read as a struct-field reference in Spark and get mangled by
    # pandas itertuples (ADVICE r5), so it never becomes a column name.
    exts = list(members)
    cols = [F.col(id_col).alias("wds_id")] + [
        F.col(src).alias(f"wds_m_{i}") for i, src in enumerate(members.values())
    ]
    routed = (
        df.select(*cols)
        .withColumn("wds_shard", shard_assignment("wds_id", n_shards))
        .repartition(n_shards, F.col("wds_shard"))
        .sortWithinPartitions("wds_id")
    )

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tars: dict[int, tarfile.TarFile] = {}
        stats: dict[int, list[int]] = {}
        try:
            for pdf in batches:
                member_cols = [f"wds_m_{i}" for i in range(len(exts))]
                for wds_id, shard, *vals in zip(
                    pdf["wds_id"], pdf["wds_shard"],
                    *(pdf[c] for c in member_cols),
                ):
                    shard = int(shard)
                    if shard not in tars:
                        tars[shard] = tarfile.open(
                            os.path.join(staging, f"shard-{shard:05d}.tar"), "w"
                        )
                        stats[shard] = [0, 0]
                    tf = tars[shard]
                    for ext, val in zip(exts, vals):
                        if val is None:
                            continue
                        data = (
                            val.encode("utf-8")
                            if isinstance(val, str)
                            else bytes(val)
                        )
                        info = tarfile.TarInfo(name=f"{wds_id}.{ext}")
                        info.size = len(data)
                        info.mtime = 0
                        info.uid = info.gid = 0
                        info.uname = info.gname = ""
                        import io

                        tf.addfile(info, io.BytesIO(data))
                        stats[shard][1] += len(data)
                    stats[shard][0] += 1
        finally:
            for tf in tars.values():
                tf.close()
        yield pd.DataFrame(
            [
                {"shard": s, "n_samples": c, "n_bytes": b}
                for s, (c, b) in stats.items()
            ],
            columns=["shard", "n_samples", "n_bytes"],
        )

    manifest_rows = sorted(
        (r.asDict() for r in routed.mapInPandas(write_partition, _MANIFEST_SCHEMA).collect()),
        key=lambda r: r["shard"],
    )

    # Finalize: job succeeded → per-file os.replace ONLY, no pre-delete
    # (ADVICE r5: the old delete-then-move left missing shards or a
    # stale manifest on a mid-finalize crash).  The new manifest is
    # staged alongside the tars, same-named shards are atomically
    # replaced one file at a time, the manifest swap is the commit
    # point, and only AFTERWARDS are shard names absent from the new
    # export removed.  A crash at any point leaves every shard file
    # whole (old or new bytes, never truncated) plus a whole manifest;
    # re-running the export converges because shard assignment and tar
    # bytes are content-deterministic.
    with open(os.path.join(staging, "manifest.json"), "w") as fh:
        json.dump(manifest_rows, fh, indent=1)
    new_tars = sorted(n for n in os.listdir(staging) if n.endswith(".tar"))
    for name in new_tars:
        os.replace(os.path.join(staging, name), os.path.join(path, name))
    os.replace(
        os.path.join(staging, "manifest.json"), os.path.join(path, "manifest.json")
    )
    for name in os.listdir(path):  # stale shards not in the new export
        if name.endswith(".tar") and name not in new_tars:
            os.remove(os.path.join(path, name))
    shutil.rmtree(staging)
    return manifest_rows
