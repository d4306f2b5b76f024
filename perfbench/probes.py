"""Measurement probes: process-tree CPU, steal, peak RSS, Spark job counts
and the span tracer used by traced runs.

Everything here reads ``/proc`` or the Spark status store; nothing changes
what the program does."""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name, from state on;
    None when the process or thread has exited."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat_fields(f"/proc/{name}/stat")):
            table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def descendants(root: int, table: dict | None = None) -> set[int]:
    table = _proc_table() if table is None else table
    tree, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for child in children.get(frontier.pop(), ()):
            if child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and every live descendant
    (driver, JVM, Python workers), including children they have already
    reaped.  Steal is not CPU time, so it is excluded by construction."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(os.getpid(), table)) / _TICK


def jit_threads_cpu_s(pid: int) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread (C1/C2) of a JVM."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        if "CompilerThre" not in _comm(pid, tid):  # names are cut to 15 chars
            continue
        if fields := _stat_fields(f"/proc/{pid}/task/{tid}/stat"):
            out[int(tid)] = (int(fields[11]) + int(fields[12])) / _TICK
    return out


def _comm(pid: int, tid: str) -> str:
    try:
        with open(f"/proc/{pid}/task/{tid}/comm") as fh:
            return fh.read()
    except OSError:  # thread exited
        return ""


def jit_delta_s(before: dict[int, float], after: dict[int, float]) -> float:
    """Compiler CPU spent between two snapshots.  Exact only while the JVM
    keeps a fixed set of compiler threads (-XX:-UseDynamicNumberOfCompilerThreads)."""
    return sum(cpu - before.get(tid, 0.0) for tid, cpu in after.items())


def steal_s() -> float:
    """Machine-wide steal seconds (summed over CPUs) since boot, /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Kernel high-water resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


class JobCounter:
    """Spark jobs, stages and tasks run under one job group, read from the
    status store after the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"  # unique per counter in a shared session
        self._n = 0

    @contextmanager
    def group(self, label: str):
        self._n += 1
        name = f"{self._prefix}-{self._n}-{label}"
        self.sc.setJobGroup(name, label)
        try:
            yield name
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, name: str) -> tuple[int, int, int]:
        """(jobs, stages that ran, tasks that completed) for one job group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(name)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return len(jobs), stages, tasks


class Tracer:
    """In-memory spans (name, start, end, parent, op) written out at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int):
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append((rec["start"], rec["end"]))
        out = []
        for i, rec in enumerate(self.spans):
            covered, reach = 0.0, rec["start"]
            for start, end in sorted(children.get(i, ())):
                start, end = max(start, reach), min(end, rec["end"])
                if end > start:
                    covered += end - start
                    reach = end
            out.append(rec["end"] - rec["start"] - covered)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for rec, s in zip(self.spans, selfs):
                fh.write(json.dumps({**rec, "self": s}) + "\n")
