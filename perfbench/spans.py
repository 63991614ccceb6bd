"""Spans and Spark job counts recorded from outside the program.

A span has a name, a start, an end, the span that caused it and the run id.
Spans are kept in memory and written out once, when the run ends. Every span
the benchmark opens wraps one call into a layer of the program, so a layer's
self time is its span minus the part of that interval its child spans cover.

Job counts come from Spark's status tracker: the range of job ids a span
started is read from the scheduler before and after the call, and each job's
stages and tasks are looked up once and cached.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext


class JobCounter:
    """Spark jobs, stages and tasks started between two marks."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._jobs: dict[int, tuple[int, int, int]] = {}

    def mark(self) -> int:
        # The next job id the scheduler will hand out; no public API exposes it.
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    def _job(self, job_id: int) -> tuple[int, int, int]:
        if job_id not in self._jobs:
            stages = tasks = failed = 0
            info = self._tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = self._tracker.getStageInfo(stage_id)
                # Stages skipped because their shuffle output already exists
                # stay in the job's list but never run a task.
                if stage and stage.numCompletedTasks + stage.numFailedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
                    failed += stage.numFailedTasks
            self._jobs[job_id] = (stages, tasks, failed)
        return self._jobs[job_id]

    def since(self, mark: int) -> dict[str, int]:
        end = self.mark()
        out = {"jobs": end - mark, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for job_id in range(mark, end):
            stages, tasks, failed = self._job(job_id)
            out["stages"] += stages
            out["tasks"] += tasks
            out["failed_tasks"] += failed
        return out


class Tracer:
    """In-memory span recorder for one traced run."""

    enabled = True

    def __init__(self, run_id: str, jobs: JobCounter | None = None):
        self.run_id = run_id
        self.jobs = jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.jobs.mark() if self.jobs else None
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                rec["attrs"].update(self.jobs.since(mark))

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        covered, reach = 0.0, span["start"]
        for c in sorted(self.children(span), key=lambda s: s["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        return (span["end"] - span["start"]) - covered

    def descendants(self, span: dict, name: str | None = None) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    todo.append(s["id"])
                    if name is None or s["name"] == name:
                        out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


class NullTracer:
    """Tracing off: spans cost one attribute lookup and a no-op context."""

    enabled = False

    def span(self, name: str, **attrs):
        return nullcontext({"attrs": {}})
