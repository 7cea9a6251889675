"""Spans, Spark job counts and process-tree memory for the benchmark.

A span is recorded by the driver around one public call of the package.
With tracing on, the call runs under its own Spark job group, and the
span collects the group's jobs, stages and tasks from the status tracker
plus the store wrapper's request counters. With tracing off a span is
only a wall-clock interval.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    kind: str  # cycle | op (timed public call) | check | probe
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``enabled`` adds Spark and store counts."""

    def __init__(self, spark):
        self.spark = spark
        self.store = None  # objstore.StoreWrapper, when the workload has one
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str = "cycle"):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        group = f"bench-{idx}-{name}"
        if self.enabled:
            sc.setJobGroup(group, name)
        if self.store is not None:
            self.store.take()
        s = Span(name, kind, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.store is not None:
                s.counts.update({f"store.{k}": v for k, v in self.store.take().items()})
            if self.enabled:
                s.counts.update(_group_counts(sc, group))
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        s = self.spans[idx]
        covered = sum(c.seconds for c in self.spans if c.parent == idx)
        return s.seconds - covered

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "kind": s.kind,
                "parent": s.parent,
                "start": round(s.start, 6),
                "seconds": s.seconds,
                "self_seconds": self.self_seconds(i),
                **s.counts,
            }
            for i, s in enumerate(self.spans)
        ]


def _group_counts(sc, group: str) -> dict:
    """Jobs, stages and completed tasks of one job group, and the smallest
    task count of any stage that ran (a stage squeezed to one task runs
    its per-row work serially)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages, tasks, min_tasks = 0, 0, None
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue  # skipped (reused exchange) or never ran
            stages += 1
            tasks += st.numCompletedTasks
            min_tasks = st.numTasks if min_tasks is None else min(min_tasks, st.numTasks)
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "min_stage_tasks": min_tasks or 0}


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) of every process in /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as fh:
                table[int(name)] = (ppid, int(fh.read().split()[1]) * page)
        except OSError:
            continue  # exited while listing
    return table


def descendants(root: int, table: dict | None = None) -> set[int]:
    """Pids of every process below ``root``."""
    table = _proc_table() if table is None else table
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        kids = [c for c, (p, _) in table.items() if p == pid and c not in out]
        out.update(kids)
        todo += kids
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    table = _proc_table()
    return sum(table[p][1] for p in descendants(root, table) | {root} if p in table)


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the max."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
