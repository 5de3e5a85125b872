"""Spans around the benchmark's calls into each layer of the engine.

A span records name, start, end, parent span and op id. Spans live in
memory and are written out once, when the run ends. With tracing off,
`Tracer.span` still times the call (the workloads need op latencies)
but records nothing else: no Spark job group, no status-tracker
queries and no warehouse listing.

With tracing on, a span opened with `jobs=True` also runs its call
under its own Spark job group and counts the jobs, tasks and failed
tasks the group ran, from `SparkContext.statusTracker()` (works with
the UI disabled). A span opened with `storage=<dir>` diffs the file
tree under that directory around the call.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager


def tree(root: str) -> dict[str, tuple[int, int]]:
    """Every data file under `root` -> (size, mtime_ns); hidden and
    Spark bookkeeping files (`_SUCCESS`, `.crc`) excluded."""
    out: dict[str, tuple[int, int]] = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed by a concurrent rename
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def storage_diff(before: dict, after: dict) -> dict[str, dict[str, int]]:
    """Per top-level table dir: bytes and files written by the call
    (new or rewritten files), and partition dirs they landed in."""
    out: dict[str, dict[str, int]] = {}
    parts: dict[str, set[str]] = {}
    for rel, meta in after.items():
        if before.get(rel) == meta:
            continue
        table, _, rest = rel.partition(os.sep)
        t = out.setdefault(table, {"bytes_written": 0, "files_written": 0, "partitions_rewritten": 0})
        t["bytes_written"] += meta[0]
        t["files_written"] += 1
        parts.setdefault(table, set()).add(os.path.dirname(rest))
    for table, dirs in parts.items():
        out[table]["partitions_rewritten"] = len(dirs)
    return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.sc = None  # SparkContext, set once a session exists

    def _job_counts(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}

    @contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = False, storage: str | None = None):
        """Time the enclosed call; yields the span dict, whose `s`
        holds the duration once the block exits."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        trace_jobs = self.enabled and jobs and self.sc is not None
        group = f"perfbench-{sid}"
        before = tree(storage) if self.enabled and storage else None
        if trace_jobs:
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if trace_jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._job_counts(group))
            if before is not None:
                rec["storage"] = storage_diff(before, tree(storage))
            if self.enabled:
                self.spans.append(rec)

    def self_times(self) -> dict[str, dict[str, float]]:
        """Self time per op and span name: each span's duration minus
        the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["s"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            per_op = out.setdefault(str(s["op"]), {})
            per_op[s["name"]] = per_op.get(s["name"], 0.0) + s["s"] - child.get(s["id"], 0.0)
        return out
