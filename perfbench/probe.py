"""Measurement helpers: process-tree CPU/RSS from /proc, spans with Spark
job groups, and a stdlib-json parser of Spark's event log.

Everything here observes the engine from outside: spans wrap calls into
the library's public functions, and Spark jobs launched inside a span are
tagged with ``SparkContext.setJobGroup`` so the event log can be summed
per layer afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc ---------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()
    # fields[0] is state (field 3 of stat); utime..cstime are fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks / CLK_TCK


def descendants() -> dict[int, float]:
    """pid -> cumulative CPU seconds (own + reaped children) for every
    process below this one: the JVM that py4j launched and the Python
    workers the JVM forked."""
    info = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                info[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out[pid] = info[pid][1]
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the whole process tree below this process. A child
    that exits between two readings is still counted: its time moves into
    its parent's reaped-children fields."""
    return sum(descendants().values())


def steal_s() -> float:
    """Seconds of CPU stolen from this machine by its host, summed over
    CPUs (the ``steal`` field of /proc/stat): noisy windows show here."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Sum over the process tree of each process's peak resident set
    (VmHWM), keeping the last reading of processes that have exited."""

    def __init__(self):
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendants():
            kb = _hwm_kb(pid)
            if kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


# -- spans ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id). When a Spark
    context is given, each span also tags its jobs with a job group named
    after the span, so the event log can be summed per layer."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        group = f"{name}#{self._n}"
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._n, "name": name, "group": group, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(self._n)
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self.spans[self._stack[-1] - 1] if self._stack else None
                if outer is None:
                    self.sc.setJobGroup("untraced", "untraced")
                else:
                    self.sc.setJobGroup(outer["group"], outer["name"])

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def groups(self, prefix: str) -> set[str]:
        """Job groups of every span whose name starts with ``prefix``."""
        return {s["group"] for s in self.spans if s["name"].startswith(prefix)}


# -- event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs and, per executed stage, its task records."""
    jobs_by_group: dict[str, set[int]] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "untraced")
                    jobs_by_group.setdefault(group, set()).add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "ms": info["Finish Time"] - info["Launch Time"],
                        "failed": bool(info.get("Failed")),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
    out: dict[str, dict] = {g: {"jobs": len(j), "stages": {}} for g, j in jobs_by_group.items()}
    for sid, recs in tasks.items():
        g = stage_group.get(sid, "untraced")
        out.setdefault(g, {"jobs": 0, "stages": {}})["stages"][sid] = recs
    return out


def summarize(log: dict[str, dict], groups) -> dict[str, float]:
    """Spark metrics summed over the given job groups."""
    jobs = 0
    stages: list[list[dict]] = []
    for g in groups:
        if g in log:
            jobs += log[g]["jobs"]
            stages.extend(log[g]["stages"].values())
    recs = [r for st in stages for r in st]
    run_ms = sum(r["run_ms"] for r in recs)
    skew = 0.0
    if stages:
        slowest = max(stages, key=lambda st: sum(r["ms"] for r in st))
        ms = [r["ms"] for r in slowest]
        skew = max(ms) / max(statistics.median(ms), 1.0)
    return {
        "jobs": jobs,
        "stages": len(stages),
        "tasks": len(recs),
        "failed_tasks": sum(r["failed"] for r in recs),
        "cpu_ratio": (sum(r["cpu_ns"] for r in recs) / 1e6 / run_ms) if run_ms else 0.0,
        "shuffle_write_mb": sum(r["shuffle_write"] for r in recs) / 2**20,
        "spill_mb": sum(r["spill"] for r in recs) / 2**20,
        "task_skew": skew,
    }


# -- warehouse -----------------------------------------------------------


def dir_files(root: str) -> dict[str, int]:
    """path -> size of every data file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")) and not n.endswith(".json"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out
