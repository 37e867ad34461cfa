"""Spans around the benchmark's calls into the engine, with Spark's
own counters read per span from outside the engine.

Each span runs under its own Spark job group. When it ends, the tracer
drains the listener bus and reads the JVM status store for the jobs
of that group: stages, tasks, failed tasks, executor run and CPU
time, input and shuffle bytes, and the wall time the jobs cover. The
CPU time of the ``pyspark.daemon`` worker tree comes from ``/proc``.
Spans stay in memory and are written once, at exit.

A disabled tracer does nothing but yield, so untraced operations
measure the engine alone. ``enabled`` may change between spans.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time, union_length

STATS = (
    "jobs", "stages", "tasks", "failed_tasks", "job_s", "task_run_s",
    "task_cpu_s", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "py_cpu_s",
)
_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    own: dict = field(default_factory=dict)  # jobs of this span's group
    total: dict = field(default_factory=dict)  # own + all descendants
    children: list = field(default_factory=list)  # (start, end) pairs

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def driver_gap_s(self) -> float:
        """Wall time not covered by any job of the span."""
        return max(0.0, self.s - self.total.get("covered_s", 0.0))


def proc_table() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, cmdline, cpu seconds incl. reaped children)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(p)] = (int(rest[1]), cmd, ticks / _TICK)
    return out


def descendants(table, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def worker_cpu_s() -> float:
    """CPU seconds of this process's ``pyspark.daemon`` worker tree."""
    table = proc_table()
    return sum(
        table[p][2] for p in descendants(table, os.getpid())
        if "pyspark.daemon" in table[p][1] or "pyspark/daemon" in table[p][1]
    )


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every descendant (the
    JVM and the Python workers), from ``VmHWM``."""
    pids = {os.getpid()} | descendants(proc_table(), os.getpid())
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        self._n = 0
        self.cost_s = 0.0  # wall time spent in the tracer's own reads

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        sp = Span(name, 0.0, parent, f"perfbench-{self.run_id}-{self._n}")
        self._sc.setJobGroup(sp.group, name, False)
        cpu0 = worker_cpu_s()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.time()
        self.cost_s += time.perf_counter() - c0
        try:
            yield sp
        finally:
            sp.end = time.time()
            c0 = time.perf_counter()
            self._stack.pop()
            sp.own = self._read_group(sp.group, sp.start, sp.end)
            sp.own["py_cpu_s"] = worker_cpu_s() - cpu0
            self._close(sp, parent)
            self.cost_s += time.perf_counter() - c0

    def _close(self, sp: Span, parent: int | None) -> None:
        # children closed first, so their totals are final here; a
        # child's worker CPU is already inside this span's own reading
        total = {k: sp.own.get(k, 0) for k in STATS}
        total["covered_s"] = sp.own.get("covered_s", 0.0)
        for c in self.spans:
            if c.parent is not None and self.spans[c.parent] is sp:
                for k in STATS:
                    if k != "py_cpu_s":
                        total[k] += c.total[k]
                total["covered_s"] += c.total["covered_s"]
        sp.total = total
        if parent is None:
            self._sc._jsc.clearJobGroup()
        else:
            p = self.spans[parent]
            p.children.append((sp.start, sp.end))
            self._sc.setJobGroup(p.group, p.name, False)

    def _read_group(self, group: str, t0: float, t1: float) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {k: 0 for k in STATS}
        windows = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                windows.append((a, b))
                out["job_s"] += b - a
            it = job.stageIds().iterator()
            while it.hasNext():
                st = store.lastStageAttempt(it.next())
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["covered_s"] = union_length(windows, t0, t1)
        return out

    def write(self, path: str) -> None:
        """All spans as JSON lines: name, start, end, parent, run id,
        self time and counters."""
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                rec = {
                    "id": i, "name": sp.name, "run_id": self.run_id,
                    "start": sp.start, "end": sp.end, "parent": sp.parent,
                    "s": sp.s,
                    "self_s": self_time(sp.start, sp.end, sp.children),
                    "driver_gap_s": sp.driver_gap_s,
                    **{k: sp.total[k] for k in STATS},
                }
                fh.write(json.dumps(rec) + "\n")

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]
