"""Per-layer metrics from the Spark event log of a traced benchmark run.

    python3 perfbench/eventlog.py <trace-dir>

prints the per-span table of a traced run: ``<trace-dir>`` holds the
run's uncompressed Spark event log (``eventlog/``) and the benchmark's
spans (``spans.json``), as ``run.py --trace 1`` leaves them under
``.bench_trace/<workload>-<seed>/``.

Each span is one public call of the package, run under its own job
group, with its output materialized at its boundary.  Spans are flat
and sequential, so a span's self time is its duration.  The table
splits each span into the time some Spark job of its group was running
(``job_s``) and the rest (``gap_s``: planning, Python and driver
work); ``outside spans`` is the benchmark's own work between spans.
The rows add up to the traced wall time by construction.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from datetime import datetime, timezone

SQL = "org.apache.spark.sql.execution.ui."
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def _union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _plan_nodes(info: dict):
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


class EventLog:
    """Jobs, stages, tasks, SQL executions and streaming progress of
    one application's event log, with times in epoch seconds."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.sql: dict[int, dict] = {}
        self.progress: list[dict] = []
        with open(path) as f:
            for line in f:
                if line.strip():
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "sql": int(sql_id) if sql_id is not None else None,
                "start": e["Submission Time"] / 1e3,
                "end": None,
            }
            for s in e["Stage IDs"]:
                self.stage_job[s] = e["Job ID"]
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            sr = m.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                "accum": {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])},
            })
        elif ev == SQL + "SparkListenerSQLExecutionStart":
            self.sql[e["executionId"]] = {
                "start": e["time"] / 1e3, "end": None,
                "plan": e.get("physicalPlanDescription", ""), "infos": [e["sparkPlanInfo"]],
            }
        elif ev == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            x = self.sql.get(e["executionId"])
            if x is not None:
                x["infos"].append(e["sparkPlanInfo"])
                x["plan"] += e.get("physicalPlanDescription", "")
        elif ev == SQL + "SparkListenerSQLExecutionEnd":
            x = self.sql.get(e["executionId"])
            if x is not None:
                x["end"] = e["time"] / 1e3
        elif ev == PROGRESS:
            self.progress.append(e["progress"])

    # ---------------------------------------------------------- selections

    def job_ids(self, group=None, t0=None, t1=None) -> list[int]:
        """Finished jobs of a job group (any group when None) submitted
        inside ``[t0, t1]``."""
        return [
            j for j, x in self.jobs.items()
            if x["end"] is not None
            and (group is None or x["group"] == group)
            and (t0 is None or x["start"] >= t0)
            and (t1 is None or x["start"] <= t1)
        ]

    def tasks_of(self, jobs: list[int]) -> list[dict]:
        js = set(jobs)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in js]

    def job_time(self, jobs: list[int], t0=None, t1=None) -> float:
        """Wall time during which at least one of ``jobs`` ran,
        clipped to ``[t0, t1]``."""
        lo, hi = t0 if t0 is not None else -1e30, t1 if t1 is not None else 1e30
        iv = [(max(self.jobs[j]["start"], lo), min(self.jobs[j]["end"], hi)) for j in jobs]
        return _union([(s, e) for s, e in iv if e > s])

    def join_output_rows(self, jobs: list[int]) -> int:
        """Largest ``number of output rows`` of any join node in the SQL
        executions that ran ``jobs``, summed from the task updates."""
        execs = {self.jobs[j]["sql"] for j in jobs} - {None}
        ids = set()
        for x in execs:
            for info in self.sql.get(x, {}).get("infos", []):
                for node in _plan_nodes(info):
                    if "Join" in node.get("nodeName", ""):
                        ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                                   if m["name"] == "number of output rows")
        sums = dict.fromkeys(ids, 0)
        for t in self.tasks_of(jobs):
            for i, v in t["accum"].items():
                if i in sums and v is not None:
                    sums[i] += int(v)
        return max(sums.values(), default=0)


def find_log(evdir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(evdir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {evdir}, found {len(logs)}")
    return logs[0]


def spark_metrics(log: EventLog, jobs: list[int], wall: float, cores: int, t0: float, t1: float) -> dict:
    """The ``spark.*`` layer over ``jobs`` run inside a window of ``wall`` seconds."""
    tasks = log.tasks_of(jobs)
    stages = {t["stage"] for t in tasks}
    run_s = sum(t["run_s"] for t in tasks)
    skew = 1.0
    if tasks:
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        longest = max(by_stage.values(), key=sum)
        med = statistics.median(longest)
        skew = max(longest) / med if med > 0 else 1.0
    mb = lambda k: sum(t[k] for t in tasks) / 1e6  # noqa: E731
    return {
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (len(stages), "count"),
        "spark.tasks": (len(tasks), "count"),
        "spark.driver_gap_s": (wall - log.job_time(jobs, t0, t1), "s"),
        "spark.core_busy_frac": (run_s / (wall * cores), "ratio"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.executor_cpu_s": (sum(t["cpu_s"] for t in tasks), "s"),
        "spark.gc_s": (sum(t["gc_s"] for t in tasks), "s"),
        "spark.shuffle_write_mb": (mb("shuffle_write"), "MB"),
        "spark.shuffle_read_mb": (mb("shuffle_read"), "MB"),
        "spark.spill_mb": (mb("spill"), "MB"),
        "spark.input_mb": (mb("input"), "MB"),
        "spark.task_skew": (skew, "ratio"),
    }


def span_jobs(log: EventLog, s: dict) -> list[int]:
    """Jobs of a span: those of its job group, or for a span whose
    jobs run on another thread (a streaming query's), every job
    submitted inside it."""
    if s.get("by_time"):
        return log.job_ids(t0=s["start"], t1=s["end"])
    return log.job_ids(group=f"{s['span']}#{s['iter']}")


def span_table(log: EventLog, spans: list[dict], t0: float, t1: float) -> list[dict]:
    """One row per span, plus the benchmark's own time between spans."""
    rows = []
    for s in spans:
        jobs = span_jobs(log, s)
        tasks = log.tasks_of(jobs)
        self_s = s["end"] - s["start"]
        job_s = log.job_time(jobs, s["start"], s["end"])
        rows.append({
            "span": s["span"], "iter": s["iter"], "self_s": self_s, "job_s": job_s,
            "gap_s": self_s - job_s, "jobs": len(jobs),
            "exec_run_s": sum(t["run_s"] for t in tasks),
            "shuffle_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
        })
    inside = sum(r["self_s"] for r in rows)
    rows.append({"span": "(outside spans)", "iter": "", "self_s": t1 - t0 - inside,
                 "job_s": 0.0, "gap_s": t1 - t0 - inside, "jobs": 0,
                 "exec_run_s": 0.0, "shuffle_mb": 0.0})
    return rows


def format_table(rows: list[dict]) -> str:
    cols = ("span", "iter", "self_s", "job_s", "gap_s", "jobs", "exec_run_s", "shuffle_mb")
    out = ["\t".join(cols)]
    for r in rows:
        out.append("\t".join(f"{r[c]:.3f}" if isinstance(r[c], float) else str(r[c]) for c in cols))
    total = sum(r["self_s"] for r in rows)
    out.append(f"(wall)\t\t{total:.3f}")
    return "\n".join(out)


# every per-layer metric a traced run prints, on every workload; a
# layer the workload does not run reads 0 (its no-change prediction)
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.core_busy_frac": "ratio",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.task_skew": "ratio",
    "sources.gdelt.read_s": "s", "sources.gdelt.rows_read": "count",
    "sources.gdelt.process_s": "s", "sources.gdelt.keep_ratio": "ratio",
    "operators.geo.project_s": "s", "operators.geo.keep_ratio": "ratio",
    "operators.dedup.pairs_s": "s", "operators.dedup.candidates": "count",
    "operators.dedup.pairs": "count", "operators.dedup.verify_ratio": "ratio",
    "operators.dedup.cc_s": "s", "operators.dedup.cc_jobs": "count",
    "operators.dedup.keep_s": "s", "operators.dedup.dropped": "count",
    "operators.dedup.exact_s": "s", "operators.dedup.pipeline_jobs": "count",
    "operators.textstats.gopher_s": "s", "operators.textstats.keep_ratio": "ratio",
    "operators.pii.redact_s": "s", "operators.curation.split_s": "s",
    "sinks.files.write_s": "s", "sinks.files.files_written": "count",
    "sinks.files.mb_written": "MB", "sinks.files.upsert_s": "s",
    "streaming.updates.batches": "count", "streaming.updates.batch_s_p50": "s",
    "streaming.updates.docs_per_batch": "count", "streaming.updates.trigger_overhead_s": "s",
    "pipelines.incremental.index_rows": "count", "pipelines.incremental.ingest_s": "s",
    "pipelines.incremental.survive_ratio": "ratio",
    "pipelines.incremental.band_join_shuffle_mb": "MB",
    "feed.late_s": "s", "feed.backlog_files_max": "count", "feed.backlog_slope": "1/s",
    "bench.trace_overhead_s": "s", "bench.unaccounted_s": "s",
}

# span name prefix -> the per-layer self-time metric it feeds
# the per-layer metrics of the result line: those every gated workload
# measures.  The others read 0 on one of them every time and are
# printed on the traced run's ``layers`` line instead.
RESULT_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s", "spark.core_busy_frac",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.input_mb", "spark.task_skew",
    "sinks.files.write_s", "sinks.files.files_written", "sinks.files.mb_written",
    "bench.trace_overhead_s", "bench.unaccounted_s",
]

SPAN_LAYER = {
    "sources.gdelt.read": "sources.gdelt.read_s",
    "sources.gdelt.process": "sources.gdelt.process_s",
    "operators.geo.project": "operators.geo.project_s",
    "operators.dedup.pairs": "operators.dedup.pairs_s",
    "operators.dedup.cc": "operators.dedup.cc_s",
    "operators.dedup.keep": "operators.dedup.keep_s",
    "operators.dedup.exact": "operators.dedup.exact_s",
    "operators.textstats.gopher": "operators.textstats.gopher_s",
    "operators.pii.redact": "operators.pii.redact_s",
    "operators.curation.split": "operators.curation.split_s",
    "sinks.files.write": "sinks.files.write_s",
}


def layer_metrics(log: EventLog, spans: list[dict], t0: float, t1: float, cores: int,
                  measured: dict) -> tuple[dict, list[dict]]:
    """Every ``PER_LAYER`` metric of the traced window ``[t0, t1]``,
    and the per-span table.  ``measured`` holds the values the
    benchmark took itself (boundary counts, feed, trace overhead)."""
    values = dict.fromkeys(PER_LAYER, 0.0)
    jobs = log.job_ids(t0=t0, t1=t1)
    values.update({k: v for k, (v, _) in spark_metrics(log, jobs, t1 - t0, cores, t0, t1).items()})
    rows = span_table(log, spans, t0, t1)
    for r in rows:
        for prefix, name in SPAN_LAYER.items():
            if r["span"].startswith(prefix):
                values[name] += r["self_s"]
    values["bench.unaccounted_s"] = rows[-1]["self_s"]
    values["operators.dedup.cc_jobs"] = sum(
        len(span_jobs(log, s)) for s in spans if s["span"] == "operators.dedup.cc")
    pair_jobs = [j for s in spans if s["span"] == "operators.dedup.pairs" for j in span_jobs(log, s)]
    if pair_jobs:
        values["operators.dedup.candidates"] = log.join_output_rows(pair_jobs)
    if log.progress:
        epochs = [p for p in log.progress if "addBatch" in p.get("durationMs", {})
                  and t0 <= _iso_s(p["timestamp"]) <= t1]
        dur = [p["durationMs"]["triggerExecution"] / 1e3 for p in epochs]
        add = [p["durationMs"]["addBatch"] / 1e3 for p in epochs]
        values["streaming.updates.batches"] = len(epochs)
        values["streaming.updates.batch_s_p50"] = statistics.median(dur)
        values["streaming.updates.trigger_overhead_s"] = statistics.median(d - a for d, a in zip(dur, add))
        values["pipelines.incremental.ingest_s"] = sum(add)
        execs = [x for x in log.sql.values()
                 if x["end"] is not None and t0 <= x["start"] <= t1]
        values["sinks.files.upsert_s"] = sum(
            x["end"] - x["start"] for x in execs if "InsertIntoHadoopFsRelationCommand" in x["plan"])
        band_jobs = [j for j in jobs if log.jobs[j]["sql"] in log.sql
                     and _has_band_join(log.sql[log.jobs[j]["sql"]]["infos"])]
        values["pipelines.incremental.band_join_shuffle_mb"] = sum(
            t["shuffle_write"] + t["shuffle_read"] for t in log.tasks_of(band_jobs)) / 1e6
    values.update(measured)
    return values, rows


def _has_band_join(infos: list[dict]) -> bool:
    """Whether a SQL execution joins on LSH (band, bucket) keys."""
    return any("Join" in n.get("nodeName", "") and "band" in n.get("simpleString", "")
               and "bucket" in n.get("simpleString", "")
               for info in infos for n in _plan_nodes(info))


def _iso_s(ts: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, ms)."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    d = sys.argv[1]
    with open(os.path.join(d, "spans.json")) as f:
        meta = json.load(f)
    log = EventLog(find_log(os.path.join(d, "eventlog")))
    print(format_table(span_table(log, meta["spans"], meta["t0"], meta["t1"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
