"""Spans with per-span Spark job counts, for the traced run.

Every span gets its own Spark job group, so
``statusTracker().getJobIdsForGroup`` returns exactly the jobs launched
while that span was innermost (a reused group name would add up across
spans). Spans live in memory and are written out at the end of the
run; job counts are read once the operation has finished, outside the
measured wall time.

``patch`` swaps a public function for a wrapper in every
``emission_project_spark`` module that holds it, because callers look a
name up in their own namespace (``pipeline/emission.py`` imports
``incremental_insert`` into its module, for example). Class methods are
patched on the class.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer itself
        self.op: int | None = None
        self.step: str | None = None

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "step": self.step,
            "group": f"perfbench-{os.getpid()}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def count_jobs(self) -> None:
        """Self jobs per span, then inclusive jobs (self + descendants)."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            rec["self_jobs"] = len(tracker.getJobIdsForGroup(rec["group"]))
            rec["jobs"] = rec["self_jobs"]
        by_id = {r["id"]: r for r in self.spans}
        for rec in reversed(self.spans):  # children always follow parents
            if rec["parent"] is not None:
                by_id[rec["parent"]]["jobs"] += rec["jobs"]

    def layers(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds, jobs."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        out: dict[str, dict] = {}
        for rec in self.spans:
            dur = rec["end"] - rec["start"]
            agg = out.setdefault(rec["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "self_jobs": 0})
            agg["calls"] += 1
            agg["s"] += dur
            agg["self_s"] += dur - child_s.get(rec["id"], 0.0)
            agg["jobs"] += rec.get("jobs", 0)
            agg["self_jobs"] += rec.get("self_jobs", 0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, name: str, owner, attr: str) -> None:
        """Trace ``owner.attr`` as layer ``name`` wherever it is looked up."""
        orig = getattr(owner, attr)
        traced = self.wrap(name, orig)
        if isinstance(owner, type):
            setattr(owner, attr, traced)
            return
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("emission_project_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)


def eventlog_metrics(path: str) -> dict:
    """Whole-process task roll-up from an uncompressed Spark event log.

    The same fields ``tools/eventlog_run.py::analyze`` sums, kept at full
    precision (``analyze`` rounds to 0.1 s and 0.1 MB), plus failed
    tasks."""
    out = {"tasks": 0, "failed_tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "py_run_s": 0.0, "wall_s": 0.0}
    t_start = t_end = None
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerApplicationStart":
                t_start = ev.get("Timestamp")
            elif kind == "SparkListenerApplicationEnd":
                t_end = ev.get("Timestamp")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                out["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    out["failed_tasks"] += 1
                out["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                out["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        out["py_run_s"] += int(acc.get("Update", 0)) / 1e3
    if t_start and t_end:
        out["wall_s"] = (t_end - t_start) / 1e3
    return out
