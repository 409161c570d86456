#!/usr/bin/env python
"""Dump the formatted physical plan of every ``queries()`` entry to
a directory (default /tmp/plans) plus a one-line-per-query summary of
the scale-relevant counts: Exchange nodes, broadcast joins, Python
evals, cartesian products, and pushed-filter scans.

The per-operator plan-shape CONTRACTS live in tests/test_plan_shape.py;
this tool is the exploratory companion — run it after touching an
operator to eyeball what Catalyst actually planned, or diff two dumps
across a change:

    python scripts/explain_all.py [outdir] [sf_dir]

It also writes each entry's optimized LOGICAL plan to
``outdir/logical/<name>.txt``, built with ``localCheckpoint`` as the
identity (so a checkpointed frame shows its lineage, not an RDD scan)
and with expression ids, ``plan_id=`` tags and Python lambda-variable
counters stripped.  Those files depend only on the code, so a
plan-identity check of a change against its parent is one command
over two dumps, each made by this script in its own checkout:

    diff -r parent_plans/logical change_plans/logical

One exception: a query with distinct aggregates over different
columns (``event_funnel``, ``gdelt_v2_daily``, ``profile_orders``,
``schema_drift``) plans them through one ``Expand`` whose groups Spark
orders by expression-id hashes, so its file can list the same groups
in another order between two runs of the same code; read those diffs.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from gdelt_extractor_spark.session import get_spark  # noqa: E402

# expression ids (name#12, name#12L), plan_id=3 tags, and the counter
# PySpark appends to a lambda's variable name (x_17)
_IDS = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r",? ?plan_id=\d+"), ""),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1"),
]


def stripped_logical_plan(fn, spark, sf_dir: str) -> str:
    """``fn``'s optimized logical plan, built with localCheckpoint as
    the identity, with the run-specific ids stripped."""
    real = DataFrame.localCheckpoint
    DataFrame.localCheckpoint = lambda self, eager=True, storageLevel=None: self
    try:
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        DataFrame.localCheckpoint = real
    for pattern, repl in _IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plans"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    os.makedirs(os.path.join(outdir, "logical"), exist_ok=True)
    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            logical = stripped_logical_plan(fn, spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — survey tool, keep going
            rows.append((name, f"ERROR {type(exc).__name__}: {exc}"))
            continue
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(plan)
        with open(os.path.join(outdir, "logical", f"{name}.txt"), "w") as f:
            f.write(logical)
        rows.append(
            (
                name,
                "exchanges={} bcast_joins={} py_evals={} cartesian={} pushed_scans={}".format(
                    len(re.findall(r"\(\d+\) Exchange", plan)),
                    plan.count("BroadcastHashJoin"),
                    len(re.findall(r"\(\d+\) \w*EvalPython", plan)),
                    plan.count("CartesianProduct"),
                    sum(
                        1
                        for l in plan.splitlines()
                        if "PushedFilters" in l and "PushedFilters: []" not in l
                    ),
                ),
            )
        )
    width = max(len(n) for n, _ in rows)
    for name, summary in rows:
        print(f"{name:<{width}}  {summary}")
    print(f"\nplans written to {outdir}/")


if __name__ == "__main__":
    main()
