"""Spans, Spark job counters and process memory for the benchmark.

Spans are recorded from the benchmark's own files, around each call into
an engine module: name, start, end, parent span and the op they belong to.
They stay in memory and are written once, at the end of a traced run,
with each span's self time (its duration minus the time its children
cover).  With tracing off, ``span`` is a no-op and no job group is set.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One benchmark op: a root span plus, when tracing, a Spark job
        group, so its jobs, stages and tasks can be counted afterwards."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        self.sc.setJobGroup(op_id, kind)
        try:
            with self.span(kind):
                yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "between ops")
            self._op = None

    def after_op(self, op_id: str, kind: str) -> None:
        """Record what the op left pinned; called outside the op's timing."""
        if self.enabled:
            self.ops.append({"op": op_id, "kind": kind, "storage_mb": storage_mb(self.sc)})

    def count_jobs(self) -> None:
        """Job, stage and task counts of every op, read once at the end."""
        for o in self.ops:
            o.update(job_counts(self.sc, o["op"]))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str, extra: dict) -> None:
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {
                "name": s["name"], "op": s["op"], "parent": s["parent"], "id": s["id"],
                "start_s": s["start"] - t0, "end_s": s["end"] - t0,
                "self_s": (s["end"] - s["start"]) - children.get(s["id"], 0.0),
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "ops": self.ops, "spans": spans}, f, indent=1)


def job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def storage_mb(sc) -> float:
    """Cached and pinned (localCheckpoint) block memory held right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of the JVM plus this Python driver."""
    total = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def tree_cpu_s() -> float:
    """CPU time (user + system) used so far by this process and every
    process it started (the JVM, its Python workers).  Exited children that
    were waited for are in their parent's cutime/cstime, so summing all four
    fields over the living tree counts every CPU second once.  Time the
    machine's hypervisor gave to other guests (steal) is not in it."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            parent[int(d)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, (ppid, _) in parent.items() if ppid == pid and c not in tree)
    return sum(parent[p][1] for p in tree if p in parent) / os.sysconf("SC_CLK_TCK")


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count).  With 10 or fewer samples no such
    percentile exists and the maximum is reported as percentile 100."""
    n = len(values)
    s = sorted(values)
    if n <= 10:
        return s[-1], 100.0, n
    idx = n - 11  # ten samples lie strictly above s[idx]
    return s[idx], 100.0 * (idx + 1) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
