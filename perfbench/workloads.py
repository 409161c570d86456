"""The benchmark workloads: inputs, the flow each one runs through the
package's public entry points, the output checks and the traced
replay.  See ``perfbench/README.md`` for why each workload exists and
which layers it loads.

A batch workload is a closed loop with one client: ``run`` returns
only after every output table is written, and the next iteration
starts after it.  ``ingest_stream`` is an open loop: a feeder thread
drops files on a fixed schedule whatever the system's speed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.parquet as pq

import gen

# operators.dedup.connected_components' default driver_finish_edges:
# a symmetrized edge list at or below it skips the distributed rounds
CC_DRIVER_FINISH_EDGES = 100_000


def parquet_rows(path: str) -> int:
    """Row count of a written parquet directory, from the footers."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def parquet_column_sum(path: str, col: str) -> int:
    return int(pq.read_table(path, columns=[col]).column(col).to_numpy().sum())


def dir_files_mb(path: str) -> tuple[int, float]:
    """(parquet files, MB) written under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files) / 1e6


class Spans:
    """Benchmark-side spans: one Spark job group per public call, with
    wall-clock bounds kept in memory.  Spans are flat and sequential,
    so a span's self time is its duration.  Jobs the benchmark itself
    adds (row counts between spans) run under the ``bench`` group.
    ``bookkeeping_s`` is the time the spans themselves cost.  A
    ``by_time`` span owns every job submitted inside it: a streaming
    query runs its jobs on its own thread, outside the caller's job
    group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.records: list[dict] = []
        self.bookkeeping_s = 0.0
        self.sc.setJobGroup("bench", "bench")

    @contextmanager
    def span(self, name: str, it: int, by_time: bool = False):
        t = time.perf_counter()
        self.sc.setJobGroup(f"{name}#{it}", name)
        t0 = time.time()
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield
        finally:
            t1 = time.time()
            t = time.perf_counter()
            self.records.append({"span": name, "iter": it, "start": t0, "end": t1, "by_time": by_time})
            self.sc.setJobGroup("bench", "bench")
            self.bookkeeping_s += time.perf_counter() - t


# ------------------------------------------------------------ batch flows


@dataclass
class BatchWorkload:
    name: str
    why: str

    def generate(self, seed: int, data_dir: str, seconds: int = 0) -> dict:
        raise NotImplementedError

    def run(self, spark, data_dir: str, out_dir: str) -> None:
        """One closed-loop iteration: raw input to complete written output."""
        raise NotImplementedError

    def check(self, out_dir: str, exp: dict) -> bool:
        raise NotImplementedError

    def replay(self, spark, data_dir: str, out_dir: str, spans: Spans, it: int) -> dict:
        """The flow's public calls in the flow's order, one span each,
        every call's output materialized at its boundary.  Returns the
        boundary counts."""
        raise NotImplementedError


class GdeltV2Load(BatchWorkload):
    N_ZIPS, ROWS_PER_ZIP, DUP_SHARE, EMPTY_GEO_SHARE = 16, 250, 0.2, 0.1

    def generate(self, seed, data_dir, seconds=0):
        return gen.make_gdelt(seed, os.path.join(data_dir, "zips"), self.N_ZIPS,
                              self.ROWS_PER_ZIP, self.DUP_SHARE, self.EMPTY_GEO_SHARE)

    def run(self, spark, data_dir, out_dir):
        from gdelt_extractor_spark.pipelines.batch import run_v2_batch

        run_v2_batch(spark, os.path.join(data_dir, "zips", "*.zip"), out_dir)

    def check(self, out_dir, exp):
        return (
            parquet_rows(f"{out_dir}/v2_exports") == exp["unique_urls"]
            and parquet_rows(f"{out_dir}/v2_geom") == exp["geom_rows"]
            and parquet_rows(f"{out_dir}/v2_lastrun") == 1
        )

    def replay(self, spark, data_dir, out_dir, spans, it):
        from gdelt_extractor_spark.operators.geo import geo_project
        from gdelt_extractor_spark.pipelines.batch import GEOM_KEEP
        from gdelt_extractor_spark.sinks.files import write_parquet
        from gdelt_extractor_spark.sinks.jdbc import lastrun_df
        from gdelt_extractor_spark.sources.gdelt import process_gdelt_events, read_gdelt_zip

        with spans.span("sources.gdelt.read", it):
            raw = read_gdelt_zip(spark, os.path.join(data_dir, "zips", "*.zip")).localCheckpoint(eager=True)
        with spans.span("sources.gdelt.process", it):
            clean = process_gdelt_events(raw).localCheckpoint(eager=True)
        with spans.span("operators.geo.project", it):
            geom = geo_project(
                clean, "actor1geo_lat", "actor1geo_long", *[c for c in GEOM_KEEP if c in clean.columns]
            ).localCheckpoint(eager=True)
        tables = {"v2_exports": clean, "v2_geom": geom, "v2_lastrun": lastrun_df(spark)}
        for name, df in tables.items():
            with spans.span(f"sinks.files.write.{name}", it):
                write_parquet(df, f"{out_dir}/{name}")
        return {"rows_read": raw.count(), "clean": clean.count(), "geom": geom.count()}


class CorpusWorkload(BatchWorkload):
    """A document corpus through ``_dedup_pipeline`` (and, with
    ``curate``, ``_curation_pipeline`` first), each written to parquet.
    ``cc_distributed`` says on which side of connected_components'
    driver-finish cap the planted pairs must fall."""

    def __init__(self, name, why, curate, cc_distributed, n_files=16, **shape):
        super().__init__(name, why)
        self.curate = curate
        self.cc_distributed = cc_distributed
        self.n_files = n_files
        self.shape = shape

    def generate(self, seed, data_dir, seconds=0):
        corpus = gen.make_corpus(seed, **self.shape)
        # the first CC round's edge list is the symmetrized pair set
        if (2 * corpus.expected["verified_pairs"] > CC_DRIVER_FINISH_EDGES) != self.cc_distributed:
            raise ValueError(f"{self.name}: planted pairs fall on the wrong side of the CC driver-finish cap")
        gen.write_corpus(corpus, data_dir, self.n_files)
        return corpus.expected

    def run(self, spark, data_dir, out_dir):
        import __spark_entry__ as E
        from gdelt_extractor_spark.sinks.files import write_parquet

        # job groups let the traced run count jobs per pipeline
        sc = spark.sparkContext
        if self.curate:
            sc.setJobGroup("flow.curation", "flow.curation")
            write_parquet(E._curation_pipeline(spark, data_dir), f"{out_dir}/curated")
        sc.setJobGroup("flow.dedup", "flow.dedup")
        write_parquet(E._dedup_pipeline(spark, data_dir), f"{out_dir}/dedup")
        sc.setJobGroup("bench", "bench")

    def check(self, out_dir, exp):
        ok = (
            parquet_rows(f"{out_dir}/dedup") == exp["dedup_survivors"]
            and parquet_column_sum(f"{out_dir}/dedup", "doc_id") == exp["dedup_survivor_id_sum"]
        )
        if self.curate:
            split = pq.read_table(f"{out_dir}/curated", columns=["split"]).column("split").to_pylist()
            ok = ok and len(split) == exp["curated"] and split.count("train") == exp["curated_train"]
        return ok

    def replay(self, spark, data_dir, out_dir, spans, it):
        # the same operators, arguments and order as __spark_entry__'s
        # _curation_pipeline and _dedup_pipeline
        from pyspark.sql import functions as F

        from gdelt_extractor_spark.operators import curation as C
        from gdelt_extractor_spark.operators import dedup as D
        from gdelt_extractor_spark.operators import textstats as TS
        from gdelt_extractor_spark.operators.pii import redact_expr
        from gdelt_extractor_spark.sinks.files import write_parquet
        from gdelt_extractor_spark.sources.tables import load_table

        counts = {}
        with spans.span("sources.tables.read", it):
            docs = load_table(spark, data_dir, "documents").localCheckpoint(eager=True)
        if self.curate:
            with spans.span("operators.textstats.gopher", it):
                keep_ids = TS.gopher_rules(docs, "doc_id", "text").filter("keep").select("doc_id")
                kept = docs.join(keep_ids, "doc_id").localCheckpoint(eager=True)
            with spans.span("operators.dedup.exact", it):
                hashed = D.with_content_hash(kept, "text")
                deduped = D.dedup_keep_first(hashed, key="content_hash", order="doc_id").localCheckpoint(eager=True)
            with spans.span("operators.pii.redact", it):
                red = deduped.select(
                    "doc_id", "lang", "source", F.md5(redact_expr(F.col("text"))).alias("text_md5")
                ).localCheckpoint(eager=True)
            with spans.span("operators.curation.split", it):
                split = C.sample_split(red, "doc_id").localCheckpoint(eager=True)
            with spans.span("sinks.files.write.curated", it):
                write_parquet(split, f"{out_dir}/curated")
            counts["gopher_kept"] = kept.count()
        with spans.span("operators.dedup.pairs", it):
            pairs = D.dedup_ngram_jaccard(docs, "text", "doc_id", n=3, threshold=0.6, max_shingle_df=100)
        with spans.span("operators.dedup.cc", it):
            clusters = D.connected_components(pairs).localCheckpoint(eager=True)
        with spans.span("operators.dedup.keep", it):
            kept_docs = D.keep_canonical(docs, clusters).localCheckpoint(eager=True)
        with spans.span("sinks.files.write.dedup", it):
            write_parquet(kept_docs, f"{out_dir}/dedup")
        counts.update(docs=docs.count(), pairs=pairs.count(), kept=kept_docs.count())
        return counts


# ------------------------------------------------------------ open loop


@dataclass
class StreamResult:
    ok: bool
    drops: int
    committed: int
    latencies: list[float]
    late_s: float
    backlog_max: int
    backlog_slope: float
    drain_s: float
    drain_docs: int


class IngestStream:
    """JSONL drops through ``run_incremental_near_dedup_stream``.

    Phase 1 feeds one drop every ``INTERVAL_S`` seconds for three
    times the run's ``seconds``, below the catch-up rate and long
    enough to span several micro-batches, so the backlog's slope covers
    more than one fill-and-drain cycle; phase 2 lands
    ``BACKLOG_DROPS`` drops at once and drains them.  Each invocation
    of the flow drains what has landed, as the paper's scheduled loop
    does; the benchmark re-invokes it whenever a drop is waiting."""

    DROP_DOCS, INTERVAL_S, BACKLOG_DROPS = 100, 2.0, 8
    WARMUP_DROPS = 1

    def __init__(self, name, why):
        self.name, self.why = name, why

    def phase1_drops(self, seconds: int) -> int:
        return max(3, int(3 * seconds / self.INTERVAL_S))

    def generate(self, seed, data_dir, seconds=0):
        n_drops = self.phase1_drops(seconds) + self.BACKLOG_DROPS
        corpus = gen.make_corpus(seed, n_drops * self.DROP_DOCS, cluster_share=0.2,
                                 cluster_size=3, count_pairs=False)
        staging = os.path.join(data_dir, "drops")
        os.makedirs(staging, exist_ok=True)
        drops = gen.stream_drops(corpus, self.DROP_DOCS)
        for i, payload in enumerate(drops):
            with open(os.path.join(staging, f"drop-{i:05d}.json"), "wb") as f:
                f.write(payload)
        # a drop prefix keeps exactly its originals: every copy follows its head
        heads = corpus.docs.groupby(corpus.docs.index // self.DROP_DOCS)
        survivors = [int((g["doc_id"] == g["head_id"]).sum()) for _, g in heads]
        return {"docs": int(len(corpus.docs)), "drop_survivors": survivors}

    def dirs(self, root):
        return {k: os.path.join(root, k) for k in ("landing", "corpus", "checkpoint", "metrics")}

    def _flow(self, spark, d, spans, k):
        from gdelt_extractor_spark.pipelines.incremental import run_incremental_near_dedup_stream

        with spans.span("pipelines.incremental.run", k, by_time=True) if spans else _nullspan():
            run_incremental_near_dedup_stream(
                spark, d["landing"], d["corpus"], d["checkpoint"], metrics_dir=d["metrics"]
            )

    def warmup(self, spark, data_dir, run_dir):
        d = self.dirs(run_dir)
        os.makedirs(d["landing"])
        for i in range(self.WARMUP_DROPS):
            shutil.copy(os.path.join(data_dir, "drops", f"drop-{i:05d}.json"), d["landing"])
        self._flow(spark, d, None, 0)

    def measure(self, spark, data_dir, run_dir, seconds, exp, spans=None) -> StreamResult:
        d = self.dirs(run_dir)
        os.makedirs(d["landing"])
        staging = os.path.join(data_dir, "drops")
        names = sorted(os.listdir(staging))
        n1 = self.phase1_drops(seconds)
        sched: dict[str, float] = {}
        late: list[float] = []
        calls = 0

        def land(name):
            os.rename(os.path.join(staging, name), os.path.join(d["landing"], name))

        def feeder(t0):
            for k, name in enumerate(names[:n1]):
                due = t0 + k * self.INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                land(name)
                sched[name] = due
                late.append(time.time() - due)

        t0 = time.time() + 0.05
        th = threading.Thread(target=feeder, args=(t0,), daemon=True)
        th.start()
        done = 0
        while th.is_alive() or done < n1:
            present = len(os.listdir(d["landing"]))
            if present > done:
                self._flow(spark, d, spans, calls)
                calls += 1
                done = present
            else:
                time.sleep(0.01)
        th.join()

        t2 = time.time()
        for name in names[n1:]:
            land(name)
            sched[name] = t2
        while done < len(names):
            present = len(os.listdir(d["landing"]))
            self._flow(spark, d, spans, calls)
            calls += 1
            done = present
        drain_s = time.time() - t2

        commit = commit_times(d["checkpoint"])
        lat = [commit[n] - sched[n] for n in names[:n1] if n in commit]
        # backlog right after each phase-1 drop: landed minus committed
        backlog = [k + 1 - sum(1 for n in names[:n1] if commit.get(n, 1e30) <= sched[names[k]])
                   for k in range(n1)]
        times = [sched[n] - t0 for n in names[:n1]]
        committed = sum(1 for n in names if n in commit)
        want = sum(exp["drop_survivors"])
        ok = (
            committed == len(names)
            and parquet_column_sum(d["metrics"], "n_seen") == exp["docs"]
            and parquet_column_sum(d["metrics"], "n_survived") == want
            and parquet_rows(d["corpus"]) == want
        )
        return StreamResult(
            ok=ok, drops=len(names), committed=committed, latencies=lat,
            late_s=max(late), backlog_max=max(backlog), backlog_slope=_slope(times, backlog),
            drain_s=drain_s, drain_docs=(len(names) - n1) * self.DROP_DOCS,
        )


@contextmanager
def _nullspan():
    yield


def commit_times(checkpoint: str) -> dict[str, float]:
    """Drop file name -> commit time of the micro-batch that read it,
    from the checkpoint's file-source log and commit-file mtimes."""
    batch_of: dict[str, int] = {}
    src = os.path.join(checkpoint, "sources", "0")
    for fn in os.listdir(src) if os.path.isdir(src) else []:
        if fn.startswith("."):
            continue
        with open(os.path.join(src, fn)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = int(e["batchId"])
    out = {}
    for name, b in batch_of.items():
        p = os.path.join(checkpoint, "commits", str(b))
        if os.path.exists(p):
            out[name] = os.stat(p).st_mtime
    return out


def _slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys over xs (0 for fewer than 2 points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0


WORKLOADS = {
    w.name: w
    for w in (
        GdeltV2Load(
            "gdelt_v2_load",
            "the paper's own load: zipped v2 export drops to cleaned, geometry and lastrun parquet",
        ),
        CorpusWorkload(
            "dedup_high",
            "high near-dup share in 30-doc clusters: candidate join, verify and distributed CC dominate",
            curate=False, cc_distributed=True,
            n_docs=8000, cluster_share=0.5, cluster_size=30, short_share=0.05,
        ),
        CorpusWorkload(
            "curate_low",
            "low near-dup share: row-wise Gopher/PII/split and exact-hash dedup dominate; CC takes the driver finish",
            curate=True, cc_distributed=False,
            n_docs=2000, cluster_share=0.02, cluster_size=2,
            exact_share=0.03, short_share=0.1, pii_share=0.05,
        ),
        IngestStream(
            "ingest_stream",
            "fixed-rate JSONL drops through incremental near-dup ingest, then a backlog drain",
        ),
    )
}
