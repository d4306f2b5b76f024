#!/usr/bin/env python
"""Scale-stress for the FLAGSHIP SGT/DGF build pipelines (round-7 brief #4).

tools/scale_stress.py covers the LLM-extension pipelines; until round 7 the
reference's own workload — SPECFEM decode -> P1/D1 select -> J1 gather ->
R1/R2 assembly -> A1/A2/E1/E2 encode (pipeline/build.py, mirroring
DSGT.py:40-196 / DDGF.py:40-190) — had only ever run on the sf0.001-sized
pytest fixture (2 procs x 3 elements x 8 steps, 126 points).  This harness
synthesizes x10/x100 fixtures and asserts the executed-plan scale claims:

* fixture scaling is THREE-AXIS (procs x elements x steps) — the real ways
  a SPECFEM run grows — with the snapshot VALUE count as the work measure:
  base = 2 procs x 375 pts x 8 steps; x10 doubles procs and elements and
  x2.5 steps; x100 is 8 procs x 1875 pts x 40 steps.
* plan asserts at EVERY scale, on the executed plan of the full records
  frame: the point and step dimension sides stay BROADCAST (never a
  fact-side SortMergeJoin), no CartesianProduct, no rangepartitioning,
  and the TOTAL shuffle-exchange count is CONSTANT across scales —
  exactly three: one fact-side (proc, gll_id) assembly exchange, one
  (proc, gll_id) exchange on the tiny ibool dimension side (D1 dedup,
  per-proc mesh — orders of magnitude below the snapshot stream), and
  the (proc) exchange of the A4 start-offset window.  The valid-step
  list is a local relation (collected once per build), so no listing
  aggregate is in the plan.  A scale-dependent plan shape (AQE flipping
  a broadcast to SMJ, a new exchange appearing) fails the run.
* decode parallelism: snapshots arrive via the binaryFile source (one
  input SPLIT per file, packed into tasks by size) — the scan partition
  count is recorded per scale to show the decode stage fans out instead
  of serializing on the driver.
* near-linear wall time: each timed run builds the records plan (the
  step listing runs here) and executes it with ``run_plan``, so every
  column of every record, start offsets included, is computed; the
  median of --runs runs is reported, and the ratio table is the
  deliverable (written into BENCH_SCALE.md by hand, like the extension
  harness's).

Usage: python tools/scale_stress_sgt.py [--factor 10] [--runs 3]
Writes BENCH_SCALE_SGT_x{factor}.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from seisdb_spark.pipeline import fixtures  # noqa: E402
from seisdb_spark.pipeline.build import dgf_build, sgt_build  # noqa: E402
from seisdb_spark.plancheck import count_exchanges, final_plan, has_node, run_plan  # noqa: E402

#: factor -> (nprocs, nspec, step1); value count scales as
#: (nprocs/2) * (nspec/3) * (steps/8) = factor with dstep fixed at 10.
SCALES = {
    1: dict(nprocs=2, nspec=3, step1=80),
    10: dict(nprocs=4, nspec=6, step1=200),
    100: dict(nprocs=8, nspec=15, step1=400),
    # three full orders of magnitude over base: 8x procs, ~12.7x elements,
    # ~9.9x steps = ~1000x snapshot values (~144 MB of Fortran records,
    # 1264 snapshot files) — the shape of a production SPECFEM run
    1000: dict(nprocs=16, nspec=38, step1=790),
}


def fixture_for(factor: int, out_root: str) -> dict:
    cfg = SCALES[factor]
    root = os.path.join(out_root, f"sgt_x{factor}")
    marker = os.path.join(root, ".meta.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            meta = json.load(fh)
        meta["ngll_by_proc"] = {int(k): v for k, v in meta["ngll_by_proc"].items()}
        return meta
    meta = fixtures.generate_fixture(
        root, nprocs=cfg["nprocs"], nspec=cfg["nspec"], step0=0,
        step1=cfg["step1"], dstep=10, missing_steps=(30,),
    )
    with open(marker, "w") as fh:
        json.dump(meta, fh)
    print(f"generated {root}", file=sys.stderr)
    return meta


def run_build(spark, meta: dict, kind: str):
    build = sgt_build if kind == "SGT" else dgf_build
    return build(
        spark, f"{meta['model_dir']}/proc*_ibool.bin", meta["force_dirs"],
        meta["nspec"], meta["step0"], meta["step1"], meta["dstep"],
    )


def plan_ok(plan: str) -> tuple[bool, str]:
    """The scale-invariant shape contract (see module docstring)."""
    checks = {
        "broadcast_gather": has_node(plan, "BroadcastHashJoin"),
        "no_smj": not has_node(plan, "SortMergeJoin"),
        "no_cartesian": not has_node(plan, "CartesianProduct"),
        "no_rangepart": not has_node(plan, "rangepartitioning"),
        # assembly + ibool-D1 (both (proc, gll_id)-keyed) + the A4
        # start-offset window's (proc) = 3, at EVERY scale
        "const_exchanges": count_exchanges(plan) == 3,
        "two_gll_exchanges": len(
            re.findall(r"(?i)hashpartitioning\(proc#\d+,\s*gll_id", plan)
        ) == 2,
        "one_proc_exchange": len(
            re.findall(r"(?i)hashpartitioning\(proc#\d+,\s*\d+\)", plan)
        ) == 1,
    }
    bad = [k for k, v in checks.items() if not v]
    return not bad, ",".join(bad) or "ok"


def time_build(spark, meta: dict, kind: str, runs: int):
    # warm-up run pays codegen/listing caches; each timed run builds a
    # fresh plan and runs it
    run_plan(run_build(spark, meta, kind)[0])
    times = []
    for _ in range(runs):
        t0 = time.time()
        records, _, _ = run_build(spark, meta, kind)
        rows = run_plan(records)
        times.append(time.time() - t0)
    ok, why = plan_ok(final_plan(records))
    return {
        "rows": rows,
        "t_sec": round(statistics.median(times), 3),
        "plan_ok": ok,
        "plan_detail": why,
        "out_partitions": records.rdd.getNumPartitions(),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10, choices=(10, 100, 1000))
    ap.add_argument("--out", default="/tmp/seisdb_scale")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from seisdb_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for kind in ("SGT", "DGF"):
        base = time_build(spark, fixture_for(1, args.out), kind, args.runs)
        big = time_build(spark, fixture_for(args.factor, args.out), kind, args.runs)
        results[kind] = {
            "base": base,
            f"x{args.factor}": big,
            "ratio": round(big["t_sec"] / base["t_sec"], 2),
        }
        print(kind, results[kind], file=sys.stderr)

    out = {"factor": args.factor, "scales": SCALES, "pipelines": results}
    with open(f"BENCH_SCALE_SGT_x{args.factor}.json", "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out))
    bad = [
        f"{k}.{s}"
        for k, r in results.items()
        for s in ("base", f"x{args.factor}")
        if not r[s]["plan_ok"]
    ]
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
