#!/usr/bin/env python
"""Benchmark runner (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line with per-query and total wall-clock seconds.

A pass times one registry call, which builds a fresh plan, plus
plancheck.run_plan on it: the query's own physical plan runs to
completion with every output column evaluated and the rows discarded on
the executors.  Jobs a query runs while its plan is built (a fixpoint
driver loop, a sketch collected into a broadcast) are timed in every
pass.  Per query: one cold pass (reported separately —
JVM/codegen/Python-worker warmup), then timed passes whose MEDIAN is the
reported number, so sub-second movements between rounds are signal
rather than single-sample noise.  Pass counts are per-class: N_WARM=5
for plain queries, N_WARM_FIXPOINT=3 for driver-loop fixpoint queries
(each pass reruns the whole loop, ~8-30 s at sf0.1; a median of 3 still
rejects a stray GC pause and bounds the bench's wall clock).  Both
counts are published on the contract line.

The contract line also carries value_fixpoint / value_nonfixpoint
subtotals: r15's honest-fixpoint repricing moved the headline 27.9 ->
57.3 s with zero code-attributable regression, and reconstructing that
split required BENCH_NOTES archaeology — the machine-readable split keeps
cross-round regression detection alive across methodology changes (r15
verdict item #2).

Soft regression gate (r17 verdict item #4): ``--prev BENCH_LOCAL_rN.json``
compares THIS capture's control-normalized ratios against a previous
capture's and prints a "normcheck" line listing every query whose
normalized ratio moved more than NORM_FLAG_RATIO in either direction —
the BENCH_NOTES adjudication arithmetic as one flagged list.  Movement
against the CONTROLS is machine-independent by construction, so a flagged
query moved against the code (or its data), not the box.  Soft: the gate
prints and exits 0 — adjudication (same-day A/B per the mover discipline)
stays a human step.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

N_WARM = 5
N_WARM_FIXPOINT = 3

#: --prev flag threshold: normalized ratio movement beyond this (either
#: direction — an unexplained speedup is a data/plan change too) is
#: flagged.  1.5x, not the BENCH_NOTES 1.3x adjudication band: the gate
#: flags what DEMANDS an A/B, the notes still narrate the 1.3-1.5x gray
#: zone.
NORM_FLAG_RATIO = 1.5

#: Same-capture normalization controls (r16 verdict item #1): the sf0.1
#: bench box oscillates 1.25-2x intra-day on identical code, so raw
#: cross-round per-query deltas needed a three-capture adjudication
#: protocol.  These three are the r15-adjudication controls — cheap,
#: shuffle-light queries spanning the three table families
#: (lineitem agg, broadcast gather join, documents text scan) whose only
#: plausible movers are the MACHINE.  Every capture publishes
#: control_median_sec (their median) on the contract line and a
#: queries_norm dict (per-query seconds / control median) on the detail
#: line: a query whose NORMALIZED ratio moves >1.3x across rounds moved
#: against the machine, no archaeology needed.
CONTROLS = (
    "tpch_q1_pricing_summary",
    "j1_gather_join",
    "token_count_by_lang",
)


def _load_prev_norm(path: str) -> dict[str, float]:
    """Previous capture's control-normalized ratios — read queries_norm
    directly, or reconstruct from queries/control_median_sec for captures
    predating the r17 normalization contract."""
    with open(path) as fh:
        prev = json.load(fh)
    if "queries_norm" in prev:
        return {n: float(v) for n, v in prev["queries_norm"].items()}
    ctrl = prev.get("control_median_sec")
    if not ctrl and "queries" in prev:
        ctrls = [prev["queries"][c] for c in CONTROLS if c in prev["queries"]]
        ctrl = statistics.median(ctrls) if ctrls else None
    if not ctrl:
        raise RuntimeError(
            f"--prev {path}: no queries_norm and no way to reconstruct a "
            "control median — pre-r15 captures are not comparable"
        )
    return {n: float(v) / ctrl for n, v in prev.get("queries", {}).items()}


def main() -> None:
    prev_path = None
    if "--prev" in sys.argv:
        prev_path = sys.argv[sys.argv.index("--prev") + 1]
        prev_norm = _load_prev_norm(prev_path)  # fail BEFORE the timing loop

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from seisdb_spark.plancheck import run_plan
    from seisdb_spark.queries import REGISTRY
    from seisdb_spark.session import get_spark

    spark = get_spark(app_name="seisdb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_specs = {n: s for n, s in REGISTRY.items() if s.bench}

    # Pre-flight (the contract-line-probe discipline): a control renamed
    # out of the bench set must fail in milliseconds, not after the
    # multi-minute timing loop whose results a late raise would discard.
    missing_controls = [c for c in CONTROLS if c not in bench_specs]
    if missing_controls:
        raise RuntimeError(
            f"normalization controls missing from the bench set: "
            f"{missing_controls} — update CONTROLS alongside the registry"
        )

    # Validate the projected contract-line length BEFORE the ~2-minute
    # timing loop (worst-case field widths): failing after the run would
    # discard its results (r14 advice — and a bare assert strips under -O).
    probe = json.dumps(
        {
            "metric": "headline_query_wall_clock",
            "value": 99999.9999,
            "unit": "sec",
            "value_fixpoint": 99999.9999,
            "value_nonfixpoint": 99999.9999,
            "n_queries": 99999,
            "n_fixpoint": 99999,
            "n_warm": N_WARM,
            "n_warm_fixpoint": N_WARM_FIXPOINT,
            "cold_total": 99999.9999,
            "control_median_sec": 99999.9999,
            "sf": 99.999,
        }
    )
    if len(probe) >= 500:
        raise RuntimeError(
            f"projected contract line is {len(probe)} chars — trim fields "
            "before running (the driver tail-captures ~2000 chars)"
        )

    # The first pass pays one-time costs (JVM + whole-stage-codegen JIT per
    # plan shape, Python worker spin-up, parquet footer caches) and is
    # reported as cold_total; the N_WARM following passes measure the
    # steady-state cost that actually scales with data volume (at 100 TB
    # the per-plan JIT is noise; at sf0.1 it dominates expression-heavy
    # plans like the 12-hash MinHash aggregate).  Medians, not means:
    # robust to a stray GC/compaction pause in one pass.
    cold: dict[str, float] = {}
    per_query: dict[str, float] = {}
    spread: dict[str, list[float]] = {}

    def timed_pass(spec) -> float:
        t0 = time.perf_counter()
        run_plan(spec.spark(spark, sf_dir))
        return time.perf_counter() - t0

    # One trivial job before the loop: session/JVM/scheduler spin-up and the
    # first parquet listing otherwise land entirely on whichever query sorts
    # first (ann_signbucket_topk absorbed ~4 s of it), making its cold time
    # unattributable.  Per-query cold still pays that QUERY's codegen JIT,
    # Python-worker, and footer costs — the part that belongs to it.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    for name, spec in sorted(bench_specs.items()):
        cold[name] = round(timed_pass(spec), 4)
        samples: list[float] = []
        # fixpoint queries re-run their whole driver loop every pass
        # (~8-30 s each at sf0.1); 3 warm passes bound the bench's wall
        # clock while a median of 3 still rejects a stray GC pause —
        # their pass-to-pass variance is dominated by the loop itself,
        # not scheduler noise
        for _ in range(N_WARM_FIXPOINT if spec.fixpoint else N_WARM):
            samples.append(timed_pass(spec))
        per_query[name] = round(statistics.median(samples), 4)
        spread[name] = [round(min(samples), 4), round(max(samples), 4)]

    total = round(sum(per_query.values()), 4)
    control_median = statistics.median(per_query[c] for c in CONTROLS)
    queries_norm = {
        n: round(v / control_median, 3) for n, v in per_query.items()
    }
    fixpoint_names = {n for n, s in bench_specs.items() if s.fixpoint}
    total_fix = round(
        sum(v for n, v in per_query.items() if n in fixpoint_names), 4
    )
    total_nonfix = round(total - total_fix, 4)
    # Two lines, detail first, SCALAR contract line LAST: the driver keeps
    # only the tail (~2000 chars) of this process's output, and r11-r13
    # proved any line embedding the per-query map (~2.3 KB for 60+
    # queries) gets its HEAD — metric/value/unit — truncated off
    # ("parsed": null in BENCH_r{11,12,13}.json).  So the per-query
    # medians live on the DETAIL line with the spread/cold breakdown, and
    # the final line is scalars only (~165 bytes today; asserted < 500
    # below so a future field addition cannot silently regrow it toward
    # the ~2000-char tail-capture limit).
    if prev_path is not None:
        # Soft gate line FIRST (the driver tail-keeps the last lines):
        # per-query normalized movement vs the --prev capture, flagged
        # beyond NORM_FLAG_RATIO either way.  Exits 0 regardless — the
        # mover discipline's same-day A/B stays a human decision.
        movers = {}
        for n, cur in queries_norm.items():
            old = prev_norm.get(n)
            if not old:
                continue
            ratio = cur / old
            if ratio > NORM_FLAG_RATIO or ratio < 1.0 / NORM_FLAG_RATIO:
                movers[n] = {
                    "norm_prev": round(old, 3),
                    "norm_now": round(cur, 3),
                    "ratio": round(ratio, 3),
                }
        print(
            json.dumps(
                {
                    "normcheck": os.path.basename(prev_path),
                    "flag_ratio": NORM_FLAG_RATIO,
                    "n_compared": sum(1 for n in queries_norm if n in prev_norm),
                    "flagged": movers,
                }
            )
        )
    print(
        json.dumps(
            {
                "detail": "per_query_medians_spread_cold",
                "queries": per_query,
                "query_min_max": spread,
                "cold_queries": cold,
                "queries_norm": queries_norm,
                "controls": list(CONTROLS),
            }
        )
    )
    # Compact per-query lines for the DRIVER (r18 verdict item #2): the
    # full detail line above is ~2.3 KB and the driver keeps only the
    # LAST ~2000 chars of output, so its head — and with it the driver's
    # per-query regression view — was truncated off every round since
    # r11.  A single line can never fit either: the 75 full query names
    # alone minify past 2 KB, and renaming them is forbidden by the
    # driver contract.  So the map is re-emitted as SEVERAL short
    # self-contained {"queries": {...}} JSON lines (disjoint subsets,
    # full names, values rounded to 10 ms), ordered CHEAPEST-FIRST so
    # that when the tail capture clips the stream mid-line it loses the
    # cheapest queries, never the expensive ones the regression view is
    # for.  A parser that merges every parseable {"queries"} line in the
    # tail reconstructs ~60 of 75; one that keeps only the last such
    # line still gets the most expensive chunk.  The scalar contract
    # line stays LAST and unchanged.
    CHUNK_MAX = 430  # 4 full chunks + contract line < the ~2000-char tail
    by_cost = sorted(per_query.items(), key=lambda kv: (kv[1], kv[0]))
    chunk: dict[str, float] = {}
    chunk_lines: list[str] = []

    def flush_chunk() -> None:
        if chunk:
            chunk_lines.append(
                json.dumps({"queries": dict(chunk)}, separators=(",", ":"))
            )
            chunk.clear()

    for n, v in by_cost:
        entry_len = len(n) + len(f"{round(v, 2)}") + 4  # quotes+colon+comma
        if chunk and sum(
            len(k) + len(f"{x}") + 4 for k, x in chunk.items()
        ) + entry_len > CHUNK_MAX:
            flush_chunk()
        chunk[n] = round(v, 2)
    flush_chunk()
    for line in chunk_lines:
        if len(line) >= 500:  # loud, like the contract-line guard
            raise RuntimeError(
                f"compact per-query line is {len(line)} chars — a query "
                "name grew past the chunking budget; lower CHUNK_MAX"
            )
        print(line)
    contract = json.dumps(
        {
            "metric": "headline_query_wall_clock",
            "value": total,
            "unit": "sec",
            "value_fixpoint": total_fix,
            "value_nonfixpoint": total_nonfix,
            "n_queries": len(per_query),
            "n_fixpoint": len(fixpoint_names),
            "n_warm": N_WARM,
            "n_warm_fixpoint": N_WARM_FIXPOINT,
            "cold_total": round(sum(cold.values()), 4),
            "control_median_sec": round(control_median, 4),
            "sf": sf,
        }
    )
    if len(contract) >= 500:  # explicit (assert strips under -O) and loud
        raise RuntimeError(
            f"contract line is {len(contract)} chars — it must stay well "
            "under the ~2000-char driver tail capture; a field addition "
            "regrew it (move detail to the first line)"
        )
    print(contract)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
