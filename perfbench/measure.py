"""Measurement helpers: process-tree CPU, percentiles, spans, and the
fold of Spark's event log onto spans.

Everything here is stdlib-only and independent of Spark so it can be
unit-tested on canned inputs (``test_helpers.py``).
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# -- process-tree CPU --------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s() -> float:
    """utime+stime (plus reaped children's) of this process and every
    live descendant: the driver, the JVM and the Python workers."""
    total = 0
    for pid in [os.getpid(), *tree_pids()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def tree_pids() -> list[int]:
    """Every live descendant of this process."""
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


# -- percentiles -------------------------------------------------------


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile p in [50, 99] such that at least
    ``beyond`` of ``n`` samples lie above it; None when even p50 has
    fewer than ``beyond`` samples beyond it."""
    best = None
    for p in range(50, 100):
        if n - math.ceil(n * p / 100) >= beyond:
            best = p
    return best


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder.  With a SparkContext, each span also tags
    the Spark jobs it launches (job group ``span-<id>``) so the
    event-log fold can attribute task metrics to it; ``busy_s`` is the
    time spent tagging.  With ``sc=None`` it only times."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.busy_s = 0.0
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        t = time.perf_counter()
        if span is not None:
            self.sc.setJobGroup(f"span-{span.id}", span.name, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.busy_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span wall minus the part of its interval its children cover
    (children may overlap one another; their union is subtracted)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = (s.end - s.start) - covered
    return out


# -- event-log fold ------------------------------------------------------


def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    mb = 1024 * 1024
    return {
        "tasks": 1,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_mb": (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            + sw.get("Shuffle Bytes Written", 0)
        ) / mb,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb,
        "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / mb,
    }


def fold_event_log(lines, spans: list[Span]) -> dict:
    """Attribute Spark jobs and task metrics to spans.

    A job whose ``spark.jobGroup.id`` names a span belongs to it;
    others (streaming micro-batches set their own group) fall back to
    the innermost span whose interval holds the job's submission time.
    Returns ``{span id or None: {"jobs", "tasks", "cpu_s", "gc_s",
    "shuffle_mb", "spill_mb", "input_mb"}}``; None collects the jobs
    no span covers."""
    by_id = {s.id: s for s in spans}
    depth: dict[int, int] = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_id[p].parent
        depth[s.id] = d

    def by_time(t: float) -> int | None:
        live = [s for s in spans if s.start <= t <= s.end]
        return max(live, key=lambda s: depth[s.id]).id if live else None

    stage_owner: dict[int, int | None] = {}
    out: dict = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            owner = int(group[5:]) if group.startswith("span-") else None
            if owner not in by_id:
                owner = by_time(ev.get("Submission Time", 0) / 1e3)
            b = out.setdefault(owner, {})
            b["jobs"] = b.get("jobs", 0) + 1
            for sid in ev.get("Stage IDs", ()):
                stage_owner[sid] = owner
        elif kind == "SparkListenerTaskEnd":
            b = out.setdefault(stage_owner.get(ev.get("Stage ID")), {})
            for k, v in _task_metrics(ev).items():
                b[k] = b.get(k, 0) + v
    return out


def read_event_logs(log_dir: str) -> list[str]:
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isfile(path):
            with open(path) as f:
                lines.extend(f)
    return lines
