"""Benchmark entry point.

    python3 perfbench/run.py --workload seisdb_lookup --seed 1 --seconds 6 --trace 0

Run from the root of a source tree.  The last line of standard output is
the one-line JSON result; the lines before it give each metric with its
unit and sample count, and the run-health record.  Exits non-zero without a
result when the engine's sources are not beside the benchmark.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

STARTED = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def configure_env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files) inside ``work``, and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A fixed set of JIT compiler threads lets cpu_s_per_op subtract their
    # CPU exactly: a thread the JVM retires mid-op would take its CPU with it.
    extra = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads",
    ]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ",".join(
        p for p in (os.environ.get("SPARK_GRAFT_EXTRA_CONF"), *extra) if p
    )


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True,
                        choices=("seisdb_lookup", "corpus_curation"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "seisdb_spark", "__init__.py")):
        print(f"no seisdb_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    configure_env(work)
    sys.path.insert(0, ROOT)
    from perfbench import harness

    try:
        out = harness.run(args.workload, args.seed, args.seconds, bool(args.trace), work, STARTED)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["health"]["run_s"] = time.perf_counter() - STARTED
    print(harness.report(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
