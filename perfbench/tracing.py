"""In-memory spans around the benchmark's calls into the program.

Only the traced run records anything: with ``enabled=False`` every
method returns at once, so the untraced run pays one attribute test per
call. Spans hold name, start, end, parent span and operation id, and
are written out once, at the end of the run. Spark job, stage and task
counts per operation come from a job group per operation, read back
through the ``StatusTracker``.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def begin_op(self, op_id: str) -> None:
        if self.enabled:
            self.op = op_id
            self.sc.setJobGroup(op_id, op_id)

    def end_op(self) -> dict:
        """Job, stage and task counts of the current operation."""
        if not self.enabled:
            return {}
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.op)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        self.sc.setJobGroup("idle", "idle")
        self.op = None
        return {
            "spark.jobs_per_op": len(jobs),
            "spark.stages_per_op": len(stages),
            "spark.tasks_per_op": tasks,
        }

    def seconds(self, name: str, op: str | None = None) -> float:
        """Total duration of the spans called ``name`` (of one op)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op) and "end" in s
        )

    def dump(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)
