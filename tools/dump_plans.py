#!/usr/bin/env python
"""Dump ``explain("formatted")`` for registry queries into plans/<tag>/.

Optimization-round deliverable (r18): the judge cannot run Spark, so every
plan claim in OPTIMIZATION_r{N}.md is checked against committed
``plans/r{N}/<query>_{before,after}.txt`` files.  For driver-loop fixpoint
queries the returned DataFrame's plan shows only the final aggregate over
the last checkpointed iterate — the supersteps execute behind
localCheckpoint boundaries at plan build — so this tool additionally
appends the loop's per-round executed plans from
``functions.graph.LAST_SUPERSTEPS``; building the plan runs the loop once,
which is exactly what records them.

``build_training_set`` is an action path that runs several SQL
executions — checkpoints, a count, the shard write, the manifest
collect — so for it the tool runs the build once and dumps every
execution it ran, in order, with the executed (AQE-final) plan from the
session's SQL status store.

Usage:
    python tools/dump_plans.py before [query ...]      # default: bench set
    python tools/dump_plans.py after graph_kcore_membership ...
    python tools/dump_plans.py after build_training_set
Writes plans/r28/<query>_<tag>.txt (override dir with --out-dir).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query -> the superstep_loop name whose round record it appends
ROUND_PLAN_SOURCES = {
    "graph_kcore_membership": "kcore",
    "graph_bfs_hops": "bfs",
    "graph_sssp_cost": "sssp",
    "graph_wcc_membership": "cc",
}


def executed_plans(spark, action) -> list[str]:
    """Run ``action()`` and return one block per SQL execution it ran:
    its id, the API call that ran it and its executed (AQE-final)
    formatted plan."""
    store = spark._jsparkSession.sharedState().statusStore()
    listeners = spark.sparkContext._jsc.sc().listenerBus()
    listeners.waitUntilEmpty(30_000)
    first = store.executionsCount()
    action()
    listeners.waitUntilEmpty(30_000)
    execs = store.executionsList(first, store.executionsCount() - first)
    return [
        # the description is "<call> at <file>:<line>"; keep the call
        f"\n-- execution {e.executionId()}: {e.description().split(' at ')[0]} --\n"
        f"{e.physicalPlanDescription()}\n"
        for e in (execs.apply(i) for i in range(execs.size()))
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag", choices=["before", "after"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out-dir", default="plans/r28")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from seisdb_spark.functions.graph import LAST_SUPERSTEPS
    from seisdb_spark.queries import REGISTRY
    from seisdb_spark.session import get_spark

    names = args.names or [n for n, s in REGISTRY.items() if s.bench]
    os.makedirs(args.out_dir, exist_ok=True)

    spark = get_spark(app_name="seisdb-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    for name in sorted(names):
        if name == "build_training_set":
            from seisdb_spark.curation import build_training_set

            with tempfile.TemporaryDirectory() as tmp:
                blocks = executed_plans(
                    spark,
                    lambda: build_training_set(spark, args.sf_dir, tmp).collect(),
                )
            head = (f"== {name} [{args.tag}] sf_dir={args.sf_dir}: "
                    f"{len(blocks)} SQL executions ==\n")
            path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write("".join([head, *blocks]))
            print(f"wrote {path}")
            continue
        # a fixpoint loop runs in this call, recording the round plans
        # appended below
        df = REGISTRY[name].spark(spark, args.sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out = [f"== {name} [{args.tag}] sf_dir={args.sf_dir} ==\n", buf.getvalue()]
        loop = ROUND_PLAN_SOURCES.get(name)
        if loop:
            rounds = LAST_SUPERSTEPS[loop]
            out.append(f"\n== per-round executed plans (superstep loop {loop!r}, "
                       f"{len(rounds)} rounds) ==\n")
            for step in rounds:
                out.append(f"\n-- round {step.round} (certificate {step.cert}) --\n"
                           f"{step.plan}\n")
        path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write("".join(out))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
