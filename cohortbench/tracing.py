"""Spans around layer calls, Spark job attribution and the status-store walk.

A span records (name, start, end, parent, conversion id).  While a span is
open its id is the Spark job group of the calling thread, so every job the
layer call triggers — including AQE and broadcast jobs, which inherit the
caller's local properties — is attributed to the innermost open span.
After each traced conversion :meth:`Tracer.walk` reads the jobs, stages
and tasks of that conversion from Spark's status store, the way
``tools/profile_query.py`` reads it.  Spans stay in memory until
:meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager, nullcontext


class NoTracer:
    """Tracing off: spans cost nothing and change nothing."""

    def span(self, name):
        return nullcontext()

    def wrap_method(self, obj, method, name):
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.conversion = None
        # seconds spent in span bookkeeping, inside the traced wall time
        self.overhead_s = 0.0
        self.seen_jobs = self._job_ids()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name):
        t = time.perf_counter()
        s = {
            "id": f"c{self.conversion}.{len(self.spans)}",
            "name": name,
            "conversion": self.conversion,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            s["end"] = t = time.perf_counter()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1]["id"], self.stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t

    def wrap_method(self, obj, method, name):
        """Shadow ``obj.method`` with a version that runs inside a span."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    # -- status store --------------------------------------------------------
    def _job_ids(self) -> set[int]:
        jobs = self.store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def walk(self) -> dict:
        """Jobs of the conversion since the last walk, attributed to spans:
        ``{"by_span": {span name: jobs}, "jobs", "tasks", "input_records",
        "shuffle_write_b", "spill_b", "run_time_s", "task_skew"}``."""
        self.bus.waitUntilEmpty()
        names = {s["id"]: s["name"] for s in self.spans if s["conversion"] == self.conversion}
        jobs = self.store.jobsList(None)
        out = {"by_span": {}, "jobs": 0, "tasks": 0, "input_records": 0,
               "shuffle_write_b": 0, "spill_b": 0, "run_time_s": 0.0, "task_skew": 1.0}
        widest = (0, None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid in self.seen_jobs:
                continue
            self.seen_jobs.add(jid)
            group = job.jobGroup()
            name = names.get(group.get() if group.isDefined() else None, "unattributed")
            out["by_span"][name] = out["by_span"].get(name, 0) + 1
            out["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                stage = self._stage(stage_ids.apply(k))
                if stage is None:
                    continue
                out["tasks"] += stage.numCompleteTasks()
                out["input_records"] += stage.inputRecords()
                out["shuffle_write_b"] += stage.shuffleWriteBytes()
                out["spill_b"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
                out["run_time_s"] += stage.executorRunTime() / 1000.0
                if stage.numCompleteTasks() > widest[0]:
                    widest = (stage.numCompleteTasks(), stage)
        if widest[1] is not None:
            out["task_skew"] = self._skew(widest[1])
        return out

    def _stage(self, stage_id):
        try:
            stage = self.store.lastStageAttempt(stage_id)
        except Exception:  # py4j error: stage skipped or evicted from the store
            return None
        return stage if stage.status().toString() == "COMPLETE" else None

    def _skew(self, stage) -> float:
        tasks = self.store.taskList(stage.stageId(), stage.attemptId(), stage.numCompleteTasks())
        durations = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durations.append(max(1, d.get()))
        if not durations:
            return 1.0
        return max(durations) / statistics.median(durations)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
