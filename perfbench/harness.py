"""One benchmark run: session start, repeated set-up, warm-up until the
per-op CPU has converged, then a closed loop of single-client ops for the
measured window.  Untraced runs report the end-to-end metrics; traced runs
alternate untraced ops with traced ladders and report per-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

from perfbench import probes
from perfbench.workloads import SIZES, WORKLOADS, prefix_self_times

# Warm-up runs at least WARMUP_MIN_OPS ops and WARMUP_MIN_S seconds, then
# ends when the last two ops' CPU both lie within WARMUP_TOL of the lowest
# warm-up op's (two slow ops that merely agree are still warming up), or
# once it has taken WARMUP_BUDGET_S: a run must fit the benchmark's time
# budget, so the health record says whether warm-up converged.
WARMUP_MIN_OPS, WARMUP_MIN_S, WARMUP_TOL, WARMUP_BUDGET_S = 1, 10.0, 0.15, 15.0
# The measured window runs at least this many ops; a traced run needs two,
# so that one of them is a traced ladder.
MIN_OPS = {False: 1, True: 2}
RUN_BUDGET_S = 150.0  # measured loops stop here; leaves room for shutdown

# The bounded metrics.  Op wall time and peak RSS are printed in the health
# record instead: hypervisor steal and JVM heap sizing move them by more
# than any usable bound from one run to the next (see NOTES.md).
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "stored_bytes_per_input_byte": "ratio",
}
LAYER_COUNTS = (
    "specfem.scan_tasks", "specfem.files", "specfem.input_bytes", "build.records",
    "build.blob_bytes", "lookup.records_per_op", "curation.kept_docs",
)
PER_LAYER = {
    "session.start_s": "s",
    "inputs.generate_s": "s",
    **{f"{s}_s": "s" for w in WORKLOADS.values() for s in w.setup_stages + w.op_stages},
    **{f"{p}.{c}_per_op": "count" for p in ("build", "lookup", "curation") for c in ("jobs", "tasks")},
    **{c: ("bytes" if c.endswith("bytes") else "count") for c in LAYER_COUNTS},
    "run.steal_s": "s",
    "run.warmup_ops": "count",
    "trace.overhead_frac": "ratio",
}


def source_identity(root: str) -> dict:
    """The commit when the tree is a git checkout, and always a digest of
    the engine's sources, so a set of runs names the code it measured."""
    digest = hashlib.sha256()
    pkg = os.path.join(root, "seisdb_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        done = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
        )
        commit = done.stdout.strip() or None
    return {"commit": commit, "source_sha256": digest.hexdigest()[:16]}


def failure() -> str:
    """The current exception: full traceback to stderr, one line kept."""
    text = traceback.format_exc()
    print(text, file=sys.stderr)
    return text.strip().splitlines()[-1][:300]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def quantile(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def start_session():
    from seisdb_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    me = os.getpid()
    started = probes.descendants(me) - {me}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in alive:
        while os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str,
                 spark, session_s: float, started: float, size: dict | None = None):
        self.name, self.seconds, self.trace = workload, seconds, trace
        self.spark, self.session_s, self.started = spark, session_s, started
        self.wl = WORKLOADS[workload](spark, work, seed, size or SIZES[workload])
        self.counter = probes.JobCounter(spark)
        self.tracer = probes.Tracer()
        self.ops: list[dict] = []  # set-up builds, warm-up and measured ops
        self.traced: list[dict] = []  # traced ladders: set-up, then ops
        self.steal: dict[str, float] = {}

    def _left(self) -> float:
        return RUN_BUDGET_S - (time.perf_counter() - self.started)

    def _gate(self, i: int, error: str | None) -> list[str]:
        if error:
            return [error]
        try:
            return self.wl.check(i)
        except Exception:  # a gate that cannot read the output fails the op
            return [failure()]

    def _timed(self, label: str, fn) -> dict:
        """Wall, CPU, steal and Spark counts of one call.  ``cpu_s`` is the
        process tree's CPU less the JVM's JIT compiler threads: compiling is
        a per-process start-up cost that vanishes per op at scale, and its
        amount depends on timing, so it is reported apart as ``jit_s``."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        with self.counter.group(label) as group:
            j0, s0 = probes.jit_threads_cpu_s(jvm), probes.steal_s()
            c0, t0 = probes.tree_cpu_s(), time.perf_counter()
            error, value = None, None
            try:
                value = fn()
            except Exception:
                error = failure()
            wall, cpu = time.perf_counter() - t0, probes.tree_cpu_s() - c0
            jit = probes.jit_delta_s(j0, probes.jit_threads_cpu_s(jvm))
            steal = probes.steal_s() - s0
        return {"wall_s": wall, "cpu_s": cpu - jit, "jit_s": jit, "steal_s": steal,
                "counts": self.counter.counts(group), "error": error, "value": value}

    def op(self, i: int, phase: str) -> dict:
        rec = self._timed(f"op{i}", lambda: self.wl.op(i))
        rec.update(i=i, phase=phase, problems=self._gate(i, rec.pop("error")))
        self.ops.append(rec)
        return rec

    def ladder(self, kind: str, make_stages) -> dict:
        """Run one traced ladder: each stage in its own span and job group.
        Returns per-stage self times and the op time (its actions)."""
        op_id = len(self.traced)

        def span(name):
            return self.tracer.span(name, op_id)

        stages = make_stages(span)
        times, counts, error = {}, {}, None
        with span(kind):
            for st in stages:
                with self.counter.group(st.name) as group, span(st.name) as rec:
                    try:
                        st.run()
                    except Exception:
                        error = error or failure()
                times[st.name] = rec["end"] - rec["start"]
                counts[st.name] = self.counter.counts(group)
        rec = {
            "kind": kind,
            "op_s": sum(times[s.name] for s in stages if s.action),
            "self_s": prefix_self_times(stages, times),
            "counts": counts,
            "error": error,
        }
        self.traced.append(rec)
        return rec

    def traced_op(self, i: int) -> dict:
        rec = self.ladder("op", lambda span: self.wl.ladder(i, span))
        rec["problems"] = self._gate(i, rec.pop("error"))
        return rec

    def setup(self) -> None:
        """The workload's set-up repeats.  A traced run adds one laddered
        repeat, so its per-layer build counts still come from a plain one."""
        laddered = self.trace and bool(self.wl.setup_stages)
        repeats = self.wl.setup_repeats + laddered
        totals, generate, builds = [], [], []
        for k in range(repeats):
            if laddered and k == repeats - 1:
                def run_ladder(stages):
                    builds.append(self.ladder("setup", lambda span: stages))
            else:
                run_ladder = None
            rec = self._timed(f"setup{k}", lambda: self.wl.setup(k, run_ladder))
            if rec["error"]:
                raise RuntimeError(f"set-up {k} failed:\n{rec['error']}")
            if run_ladder is None:
                totals.append(rec["wall_s"])
            generate.append(rec["value"]["inputs.generate_s"])
            rec.update(phase="setup", traced=run_ladder is not None)
            if self.wl.setup_layer:
                self.ops.append(rec)
        self.setup_s = self.session_s + median(totals)
        self.generate_s = median(generate)
        gates = self.wl.prepare_checks()
        for rec, problems in zip((r for r in self.ops if r["phase"] == "setup"), gates):
            rec["problems"] = problems + ([builds[0]["error"]] if rec["traced"] and builds[0]["error"] else [])

    def execute(self) -> dict:
        s0, w0 = probes.steal_s(), time.perf_counter()
        self.setup()
        s1, w1 = probes.steal_s(), time.perf_counter()

        i, t0 = 0, time.perf_counter()
        while True:
            self.op(i, "warmup")
            i += 1
            cpus = [r["cpu_s"] for r in self.ops if r["phase"] == "warmup"]
            spent = time.perf_counter() - t0
            if len(cpus) < WARMUP_MIN_OPS or spent < WARMUP_MIN_S:
                continue
            converged = len(cpus) > 1 and max(cpus[-2:]) <= (1 + WARMUP_TOL) * min(cpus)
            if converged or spent > WARMUP_BUDGET_S:
                break
        self.warmup_converged = converged
        s2, w2 = probes.steal_s(), time.perf_counter()

        t0, n, min_ops = time.perf_counter(), 0, MIN_OPS[self.trace]
        while (time.perf_counter() - t0 < self.seconds or n < min_ops) and (
            n < min_ops or self._left() > 0
        ):
            if self.trace and n % 2:
                self.traced_op(i)
            else:
                self.op(i, "measure")
            i, n = i + 1, n + 1
        self.measure_s = time.perf_counter() - t0
        s3 = probes.steal_s()
        self.steal = {"setup": s1 - s0, "warmup": s2 - s1, "measure": s3 - s2}
        self.phase_s = {"session": self.session_s, "setup": w1 - w0, "warmup": w2 - w1,
                        "measure": self.measure_s}
        return self.result()

    def _peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return probes.vm_hwm_mb(os.getpid()) + probes.vm_hwm_mb(jvm)

    @staticmethod
    def _repeat(recs: list[dict], what: str) -> tuple[tuple | None, list[str]]:
        """The exact-count guard: jobs, stages and tasks must repeat exactly."""
        counts = {r["counts"] for r in recs}
        if len(counts) > 1:
            return None, [f"{what}: jobs/stages/tasks drifted within the run: {sorted(counts)}"]
        return (next(iter(counts)) if counts else None), []

    def result(self) -> dict:
        measured = [r for r in self.ops if r["phase"] == "measure"]
        builds = [r for r in self.ops if r["phase"] == "setup" and not r["traced"]]
        every = self.ops + [r for r in self.traced if r["kind"] == "op"]
        failed = sum(1 for r in every if r["problems"])
        problems = [p for r in every for p in r["problems"]]
        op_counts, drift = self._repeat(measured, "ops")
        build_counts, build_drift = self._repeat(builds, "set-up builds")
        problems += drift + build_drift
        for kind in ("setup", "op"):
            per_stage: dict[str, set] = {}
            for rec in (r for r in self.traced if r["kind"] == kind):
                for st, c in rec["counts"].items():
                    per_stage.setdefault(st, set()).add(c)
            moved = {st: sorted(c) for st, c in per_stage.items() if len(c) > 1}
            if moved:
                problems.append(f"traced {kind} stage counts drifted within the run: {moved}")

        walls = [r["wall_s"] for r in measured]
        e2e = {
            "setup_s": self.setup_s,
            # a median: with a few ops per window, one op caught in a steal
            # episode would move a mean by a quarter (NOTES.md)
            "cpu_s_per_op": median([r["cpu_s"] for r in measured]),
            "stored_bytes_per_input_byte": self.wl.stored_bytes() / self.wl.input_bytes,
        }
        health = {
            "workload": self.name,
            **source_identity(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            "steal_s": self.steal,
            "phase_s": self.phase_s,
            "setup_cpu_s": [round(r["cpu_s"], 3) for r in self.ops if r["phase"] == "setup"],
            "warmup_cpu_s": [round(r["cpu_s"], 3) for r in self.ops if r["phase"] == "warmup"],
            "warmup_wall_s": [round(r["wall_s"], 3) for r in self.ops if r["phase"] == "warmup"],
            "warmup_converged": self.warmup_converged,
            "measure_s": self.measure_s,
            "op_wall_s": [round(r["wall_s"], 3) for r in measured],
            "op_cpu_s": [round(r["cpu_s"], 3) for r in measured],
            "op_jit_s": [round(r["jit_s"], 3) for r in measured],
            "op_steal_s": [round(r["steal_s"], 3) for r in measured],
            "samples": {"op": len(walls), "setup": self.wl.setup_repeats,
                        "traced": sum(1 for r in self.traced if r["kind"] == "op")},
            "op_p50_s": {"value": median(walls), "n": len(walls)},
            "op_p90_s": {"value": quantile(walls, 0.9), "n": len(walls)} if walls else None,
            "peak_rss_mb": self._peak_rss_mb(),
            "per_op": dict(zip(("jobs", "stages", "tasks"), op_counts or ())),
            "per_setup_build": dict(zip(("jobs", "stages", "tasks"), build_counts or ())),
            "failed_ops_frac": failed / len(every),
            "problems": problems[:5],
        }
        out = {"correct": not problems, "attempted": len(every), "failed": failed}
        if not self.trace:
            out["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
            samples = dict.fromkeys(END_TO_END, 1)
            samples.update(setup_s=self.wl.setup_repeats, cpu_s_per_op=len(walls))
        else:
            layer = self.layer_metrics(op_counts, build_counts, walls)
            out["metrics"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
            samples = dict.fromkeys(PER_LAYER, 1)
            for kind, stages in (("setup", self.wl.setup_stages), ("op", self.wl.op_stages)):
                n = sum(1 for r in self.traced if r["kind"] == kind)
                samples.update({f"{s}_s": n for s in stages})
        return {"result": out, "health": health, "samples": samples}

    def layer_metrics(self, op_counts, build_counts, walls: list[float]) -> dict:
        """Per-layer metrics; a layer this workload never calls reads 0."""
        values = dict.fromkeys(PER_LAYER, 0.0)
        values["session.start_s"] = self.session_s
        values["inputs.generate_s"] = self.generate_s
        stage_counts = {}
        for kind, stages in (("setup", self.wl.setup_stages), ("op", self.wl.op_stages)):
            recs = [r for r in self.traced if r["kind"] == kind]
            for st in stages:
                values[f"{st}_s"] = median([r["self_s"][st] for r in recs])
            if recs:
                stage_counts.update(recs[-1]["counts"])
        for layer, counts in ((self.wl.setup_layer, build_counts), (self.wl.op_layer, op_counts)):
            if layer and counts:
                values[f"{layer}.jobs_per_op"], values[f"{layer}.tasks_per_op"] = counts[0], counts[2]
        values.update(self.wl.layer_counts(stage_counts))
        values["run.steal_s"] = sum(self.steal.values())
        values["run.warmup_ops"] = sum(1 for r in self.ops if r["phase"] == "warmup")
        traced = median([r["op_s"] for r in self.traced if r["kind"] == "op"])
        values["trace.overhead_frac"] = traced / median(walls) - 1 if walls and traced else 0.0
        return values


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, started: float,
        spark=None, size: dict | None = None) -> dict:
    """Run one workload.  A caller that passes ``spark`` keeps its session;
    otherwise the run starts one, times it into ``setup_s`` and stops it."""
    own = spark is None
    session_s = 0.0
    if own:
        spark, session_s = start_session()
    try:
        bench = Run(workload, seed, seconds, trace, work, spark, session_s, started, size)
        out = bench.execute()
        if trace:
            spans_dir = os.path.join(os.path.dirname(work), "spans")
            os.makedirs(spans_dir, exist_ok=True)
            bench.tracer.write(os.path.join(spans_dir, f"{os.path.basename(work)}.jsonl"))
        out["bench"] = bench
        return out
    finally:
        if own:
            stop_session(spark)


def report(out: dict) -> str:
    """Human-readable metric lines, the health record, then the contract's
    one-line JSON result (which must stay last)."""
    lines = []
    for name, m in out["result"]["metrics"].items():
        n = out["samples"][name]
        lines.append(f"{name} = {m['value']:.6g} {m['unit']} (n={n})")
    lines.append(json.dumps({"health": out["health"]}))
    lines.append(json.dumps(out["result"]))
    return "\n".join(lines)
