"""Spans recorded from outside the program, around calls into its layers.

A span is (name, start, end, parent, request id) plus the range of Spark
job ids submitted while it was open.  Spans live in memory and are
written out once, when the run ends.  With tracing off ``span`` is a
no-op, so the untraced run measures the program alone.

Job ids come from the scheduler's job counter rather than from a job
group: the engine submits jobs from its own thread pool, and job-group
properties do not reach those threads.  The benchmark drives one request
at a time, so every job submitted between a span's start and end belongs
to that span.  Stage and task counts are resolved from the status store
after the run, when the listener bus has caught up.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext

    def _next_job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "request": request,
               "parent": self._stack[-1] if self._stack else None,
               "job0": self._next_job_id(), "start": time.monotonic()}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["job1"] = self._next_job_id()
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Record nothing inside (warm-up operations)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def resolve_spark_counts(self) -> None:
        """Attach jobs/stages/tasks to every span (after the last job)."""
        if not self.enabled:
            return
        time.sleep(0.5)  # let the listener bus drain the last job events
        st = self._sc.statusTracker()
        stage_tasks: dict[int, int] = {}

        def tasks_of(sid: int) -> int:
            if sid not in stage_tasks:
                info = st.getStageInfo(sid)
                stage_tasks[sid] = info.numCompletedTasks if info else 0
            return stage_tasks[sid]

        for rec in self.spans:
            stages: set[int] = set()
            for jid in range(rec["job0"], rec["job1"]):
                info = st.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            ran = [s for s in stages if tasks_of(s) > 0]
            rec["spark_jobs"] = rec["job1"] - rec["job0"]
            rec["spark_stages"] = len(ran)
            rec["spark_tasks"] = sum(tasks_of(s) for s in ran)

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.spans if r["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover."""
        child_time = [0.0] * len(self.spans)
        for r in self.spans:
            if r["parent"] is not None:
                child_time[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for i, r in enumerate(self.spans):
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - child_time[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in self.spans:
                fh.write(json.dumps(r) + "\n")
