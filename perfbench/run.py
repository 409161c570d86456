"""End-to-end benchmark of gdelt_extractor_spark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from
``--seed``, starts Spark through ``gdelt_extractor_spark.session``,
runs the workload's flow through its public entry points, checks every
written output against counts known by construction and prints, as the
last stdout line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` Spark's event log is on, each public call runs under its
own job group, and the metrics are the per-layer ones (see
``eventlog.py``).  ``--workload all`` runs every workload in turn, one
process each, and prints each one's metrics prefixed by its name.

Everything a run writes lives under ``.bench_work/`` in the current
directory and is removed at exit, except a traced run's event log and
spans (``.bench_trace/<workload>-<seed>/``), which
``python3 perfbench/eventlog.py <that dir>`` turns into a per-span table.
Every process a run starts, directly or not (the gateway JVM, its
launcher shell, Spark's Python workers), has ended and been reaped
before it exits, on every path out of it.

Host-derived settings, recorded in the ``settings`` line of every run:
``SPARK_GRAFT_CPUS`` = ``nproc`` (``PERFBENCH_CPUS`` overrides it, for
the single-core baseline) and ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of
physical memory, capped at 4g.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# The driver JVM compiles with C1 only.  With C2, iterations 2-8 after
# a session start run 20-40% slower than later ones and the settled
# speed differs from process to process (27% spread over five seeds on
# gdelt_v2_load); with C1 the first warm iteration is already as fast
# as C2's settled ones on these inputs.
JVM_OPTS = "-XX:TieredStopAtLevel=1"
PR_SET_CHILD_SUBREAPER = 36


def host_settings() -> dict:
    cpus = int(os.environ.get("PERFBENCH_CPUS") or len(os.sched_getaffinity(0)))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gb = max(1, min(4, int(phys_gb // 4)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g"}


def configure_env(work: str, settings: dict, evdir: str | None) -> None:
    """Environment for the Spark JVM and its Python workers: host
    settings, every temp dir inside ``work``, and for a traced run an
    uncompressed event log in ``evdir``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(settings)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = ["--driver-java-options", shlex.quote(f"{JVM_OPTS} -Djava.io.tmpdir={tmp}")]
    if evdir:
        os.makedirs(evdir)
        confs += ["--conf spark.eventLog.enabled=true", "--conf spark.eventLog.compress=false",
                  "--conf spark.eventLog.rolling.enabled=false",
                  f"--conf spark.eventLog.dir=file://{evdir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(confs + ["pyspark-shell"])


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    its Python workers), sampled from /proc every 50 ms."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._th.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._th.join()

    def _loop(self):
        page = os.sysconf("SC_PAGE_SIZE")
        me = os.getpid()
        while True:
            children: dict[int, list[int]] = {}
            rss: dict[int, int] = {}
            for p in os.listdir("/proc"):
                if not p.isdigit():
                    continue
                try:
                    with open(f"/proc/{p}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                children.setdefault(int(fields[1]), []).append(int(p))
                rss[int(p)] = int(fields[21]) * page
            total, stack = 0, list(children.get(me, []))
            while stack:
                p = stack.pop()
                total += rss.get(p, 0)
                stack.extend(children.get(p, []))
            self.peak = max(self.peak, total)
            if self._stop.wait(0.05):
                return


def nearest_rank(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def metric(value, unit):
    return {"value": value, "unit": unit}


def info(**kw):
    """A non-result line: figures recorded with the run but not bounded."""
    print(json.dumps(kw), flush=True)


def start_spark():
    from gdelt_extractor_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def become_subreaper() -> None:
    """Have processes orphaned below this one (Spark's launcher shell
    and Python workers) re-parented to this process rather
    than to init, so ``stop_processes`` can wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    me, out = os.getpid(), []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(p))
    return out


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark session and its gateway JVM, then reap every child
    (orphans included) until none is left; whatever outlives
    ``grace_s`` is killed.  Runs on every path out of ``main``."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc = pyspark.SparkContext
        if sc._active_spark_context is not None:
            try:
                sc._active_spark_context.stop()
            except Exception as e:  # a dead JVM must not keep its children alive
                print(f"SparkContext.stop failed: {e!r}", file=sys.stderr)
        gw, sc._gateway, sc._jvm = sc._gateway, None, None
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # collect children that have already exited
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        alive = child_pids()
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="gdelt_extractor_spark end-to-end benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    # the package under test must be importable before anything runs
    import gdelt_extractor_spark.session  # noqa: F401

    from workloads import WORKLOADS

    become_subreaper()
    try:
        if args.workload == "all":
            return run_all(args, list(WORKLOADS))
        return run_one(args, WORKLOADS[args.workload])
    finally:
        stop_processes()


def run_one(args, wl) -> int:
    settings = host_settings()
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(os.getcwd(), ".bench_trace", f"{args.workload}-{args.seed}")
    if args.trace:
        shutil.rmtree(trace_dir, ignore_errors=True)
    configure_env(work, settings, os.path.join(trace_dir, "eventlog") if args.trace else None)
    info(settings=settings, workload=wl.name, seed=args.seed)
    try:
        if args.trace:
            result = trace_run(wl, args, work, trace_dir, int(settings["SPARK_GRAFT_CPUS"]))
        else:
            result = plain_run(wl, args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run_all(args, names: list[str]) -> int:
    """Every workload in its own process; one combined result."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"workload {name} exited with {proc.returncode}")
        r = json.loads(lines[-1])
        out["correct"] &= r["correct"]
        out["attempted"] += r["attempted"]
        out["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            out["metrics"][f"{name}.{k}"] = v
            print(f"{name}\t{k}\t{v['value']:.6g}\t{v['unit']}", flush=True)
        print(f"{name}\tfail_frac\t{r['failed'] / r['attempted']:.6g}\tratio", flush=True)
    print(json.dumps(out), flush=True)
    return 0


def setup(wl, seed, seconds, work, rep, spark):
    """Generate inputs, (re)start the session, one untimed warm-up."""
    t0 = time.perf_counter()
    data = os.path.join(work, f"data-{rep}")
    exp = wl.generate(seed, data, seconds)
    if spark is not None:
        spark.stop()
    spark = start_spark()
    warm = os.path.join(work, f"warm-{rep}")
    if hasattr(wl, "warmup"):
        wl.warmup(spark, data, warm)
    else:
        wl.run(spark, data, warm)
    shutil.rmtree(warm, ignore_errors=True)
    return spark, data, exp, time.perf_counter() - t0


def setup_reps(wl, args, work):
    """``SETUP_REPS`` set-ups, each a fresh generation, session and
    warm-up; the last one's session and inputs stay for the timed phase."""
    spark, setups = None, []
    for rep in range(SETUP_REPS):
        if rep:
            shutil.rmtree(data, ignore_errors=True)
        spark, data, exp, s = setup(wl, args.seed, args.seconds, work, rep, spark)
        setups.append(s)
    return spark, data, exp, setups


def plain_run(wl, args, work):
    if hasattr(wl, "measure"):
        spark, data, exp, setups = setup_reps(wl, args, work)
        try:
            with RssSampler() as rss:
                r = wl.measure(spark, data, os.path.join(work, "run"), args.seconds, exp)
        finally:
            spark.stop()
        attempted, failed, peak = r.drops, r.drops - r.committed + (0 if r.ok else 1), rss.peak
        lat = r.latencies
        # the fixed backlog's wall: landed to committed, written output
        wall = r.drain_s
        info(latency_samples=len(lat), latency_p50_s=statistics.median(lat),
             latency_p95_s=nearest_rank(lat, 0.95), catchup_docs_per_s=r.drain_docs / r.drain_s,
             late_s=r.late_s,
             backlog_files_max=r.backlog_max, backlog_slope=r.backlog_slope)
    else:
        setups, walls, attempted, failed, peak = timed_batch(wl, args, work)
        wall = statistics.median(walls) if walls else float("nan")
        info(wall_samples=len(walls), iterations_s=walls)
    # peak RSS follows the JVM's heap sizing more than the flow's
    # working set (15-21% run-to-run spread), so it is recorded, not bounded
    info(fail_frac=failed / attempted, peak_rss_mb=peak / 1e6, setup_reps_s=setups)
    m = {"wall_s": metric(wall, "s"), "setup_s": metric(statistics.median(setups), "s")}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": m}


def timed_batch(wl, args, work):
    """``SETUP_REPS`` set-ups; after each but the first, whose JVM is
    still cold, closed-loop iterations on that set-up's session and
    inputs for an equal share of ``--seconds`` (at least one each).
    The host's steal comes in episodes of tens of seconds, as long as a
    whole timed phase; samples taken after every warm set-up span most
    of the run instead of its last seconds."""
    spark, data, setups, walls, failed, k, peak = None, None, [], [], 0, 0, 0
    share = args.seconds / (SETUP_REPS - 1)
    try:
        for rep in range(SETUP_REPS):
            if data:
                shutil.rmtree(data, ignore_errors=True)
            spark, data, exp, s = setup(wl, args.seed, args.seconds, work, rep, spark)
            setups.append(s)
            if rep == 0:
                continue
            first, t_end = k, time.perf_counter() + share
            with RssSampler() as rss:
                while k == first or time.perf_counter() < t_end:
                    out = os.path.join(work, f"out-{k}")
                    t = time.perf_counter()
                    try:
                        wl.run(spark, data, out)
                        walls.append(time.perf_counter() - t)
                        ok = wl.check(out, exp)
                    except Exception as e:  # a failed iteration counts; the run goes on
                        print(f"iteration {k} failed: {e!r}", file=sys.stderr)
                        ok = False
                    failed += not ok
                    shutil.rmtree(out, ignore_errors=True)
                    k += 1
            peak = max(peak, rss.peak)
    finally:
        if spark is not None:
            spark.stop()
    return setups, walls, k, failed, peak


def trace_run(wl, args, work, trace_dir, cores):
    """One set-up, then the flow twice in one traced session: plainly
    (the untraced wall) and as the span-per-call replay."""
    import pyarrow.parquet as pq
    from eventlog import PER_LAYER, RESULT_LAYER, EventLog, find_log, format_table, layer_metrics
    from workloads import Spans, dir_files_mb

    spark, data, exp, _ = setup(wl, args.seed, args.seconds, work, 0, None)
    spans = Spans(spark)
    measured = {}
    try:
        if hasattr(wl, "measure"):
            t0 = time.time()
            r = wl.measure(spark, data, os.path.join(work, "run"), args.seconds, exp, spans)
            t1 = time.time()
            ok = r.ok
            attempted, failed = r.drops, r.drops - r.committed + (0 if r.ok else 1)
            # nothing is materialized at stream boundaries: the spans
            # themselves are the only tracing work
            measured["bench.trace_overhead_s"] = spans.bookkeeping_s
            mt = pq.read_table(os.path.join(work, "run", "metrics")).to_pandas().sort_values("batch_id")
            before = mt["n_survived"].cumsum() - mt["n_survived"]
            measured.update({
                "pipelines.incremental.index_rows": float(before.mean()),
                "pipelines.incremental.survive_ratio": mt["n_survived"].sum() / mt["n_seen"].sum(),
                # the progress events' input counts repeat per scan of the batch
                "streaming.updates.docs_per_batch": float(mt["n_seen"].mean()),
                "feed.late_s": r.late_s, "feed.backlog_files_max": r.backlog_max,
                "feed.backlog_slope": r.backlog_slope,
            })
        else:
            plain_out, traced_out = os.path.join(work, "plain"), os.path.join(work, "traced")
            t_plain, t = time.time(), time.perf_counter()
            wl.run(spark, data, plain_out)
            plain_s = time.perf_counter() - t
            ok = wl.check(plain_out, exp)
            t0 = time.time()
            counts = wl.replay(spark, data, traced_out, spans, 0)
            t1 = time.time()
            ok = ok and wl.check(traced_out, exp)
            if "verified_pairs" in exp:
                ok = ok and counts["pairs"] == exp["verified_pairs"]
            attempted, failed = 2, int(not ok) * 2
            files, mb = dir_files_mb(traced_out)
            measured.update({
                "bench.trace_overhead_s": (t1 - t0) - plain_s,
                "sinks.files.files_written": files, "sinks.files.mb_written": mb,
            })
            measured.update(derived_counts(counts))
            info(plain_wall_s=plain_s, traced_wall_s=t1 - t0, boundary_counts=counts)
    finally:
        spark.stop()  # flushes and closes the event log
    log = EventLog(find_log(os.path.join(trace_dir, "eventlog")))
    if not hasattr(wl, "measure"):
        # jobs of the plain iteration's _dedup_pipeline (0 where it does not run)
        measured["operators.dedup.pipeline_jobs"] = len(log.job_ids(group="flow.dedup", t0=t_plain))
    values, rows = layer_metrics(log, spans.records, t0, t1, cores, measured)
    if values["operators.dedup.candidates"]:
        values["operators.dedup.verify_ratio"] = values["operators.dedup.pairs"] / values["operators.dedup.candidates"]
    with open(os.path.join(trace_dir, "spans.json"), "w") as f:
        json.dump({"t0": t0, "t1": t1, "spans": spans.records}, f)
    print(format_table(rows), file=sys.stderr)
    info(layers={k: metric(values[k], unit) for k, unit in PER_LAYER.items() if k not in RESULT_LAYER})
    m = {k: metric(values[k], PER_LAYER[k]) for k in RESULT_LAYER}
    return {"correct": ok, "attempted": attempted, "failed": failed, "metrics": m}


def derived_counts(c: dict) -> dict:
    """Layer counts and keep ratios from a replay's boundary counts."""
    if "rows_read" in c:
        return {
            "sources.gdelt.rows_read": c["rows_read"],
            "sources.gdelt.keep_ratio": c["clean"] / c["rows_read"],
            "operators.geo.keep_ratio": c["geom"] / c["clean"],
        }
    out = {"operators.dedup.pairs": c["pairs"], "operators.dedup.dropped": c["docs"] - c["kept"]}
    if "gopher_kept" in c:
        out["operators.textstats.keep_ratio"] = c["gopher_kept"] / c["docs"]
    return out


if __name__ == "__main__":
    sys.exit(main())
