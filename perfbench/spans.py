"""Spans around the benchmark's calls into the engine's layers.

A span records its name, start, end, parent span and op id, and tags
every Spark job it triggers with its own job group, so the status
tracker can count the jobs, stages and tasks each span caused. Spans
stay in memory; :meth:`Tracer.write` dumps them once at exit.

The untraced run uses :class:`NullTracer`, whose spans do nothing, so
both runs execute the same benchmark code.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        # job groups must not repeat across tracers in one Spark context
        self.prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        group = f"{self.prefix}-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"{self.prefix}-{outer['id']}", outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(rec, group)

    def _count_jobs(self, rec: dict, group: str) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numTasks:
                    stages += 1
                    tasks += stage.numTasks
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its direct children
    cover (children of one span never overlap: one client thread)."""
    out = {s["id"]: duration(s) for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= duration(s)
    return out


def inclusive(spans: list[dict], key: str) -> dict[int, int]:
    """Span id -> ``key`` (jobs/stages/tasks) summed over the span and
    all its descendants."""
    out = {s["id"]: s.get(key, 0) for s in spans}
    # spans are recorded in start order, so children follow parents;
    # fold bottom-up
    for s in reversed(spans):
        if s["parent"] is not None:
            out[s["parent"]] += out[s["id"]]
    return out
