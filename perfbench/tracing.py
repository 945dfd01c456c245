"""In-memory spans around the benchmark's calls into each layer.

A span records ``(id, name, parent, run_id, start, end)``.  When tracing is
on, each span also runs its Spark jobs under its own job group, and the
job, task and failed-task counts of every group are read from the Spark
status tracker once the run's work is done.  With tracing off, ``span`` is
a no-op and no job group is set.

Span names are ``<layer>.<call>[.<phase>]``.  ``plan`` spans time the call
that returns a DataFrame (driver-side planning, schema and query parsing);
``exec`` spans time the action on it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext whose jobs are counted per span."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _group(self, s: dict) -> str:
        return f"{self.run_id}/{s['id']}"

    def _set_group(self, s: dict | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(self._group(s), s["name"])

    def resolve_spark_counts(self, timeout_s: float = 10.0) -> None:
        """Fill ``jobs``/``stages``/``tasks``/``failed_tasks`` per span (own
        job group only).  Waits until the status tracker has seen every job
        of the traced spans finish."""
        if not self.enabled or self._sc is None:
            return
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = {s["id"]: tracker.getJobIdsForGroup(self._group(s)) for s in self.spans}
            running = [
                j
                for ids in jobs.values()
                for j in ids
                if (info := tracker.getJobInfo(j)) is not None and info.status == "RUNNING"
            ]
            if not running or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for s in self.spans:
            stages: set[int] = set()
            for j in jobs[s["id"]]:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for st in stages:
                si = tracker.getStageInfo(st)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            s.update(jobs=len(jobs[s["id"]]), stages=len(stages), tasks=tasks, failed_tasks=failed)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh, indent=1)

    # -- reductions ---------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, *names: str) -> float:
        """Median duration of one call, over every span with one of
        ``names``; 0.0 when the workload never made that call."""
        d = [x for n in names for x in self.durations(n)]
        return statistics.median(d) if d else 0.0

    def self_times(self) -> dict[str, float]:
        """Per layer, over the spans inside timed operations: total span
        time minus the time its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def per_op_total(self, key: str, root_prefix: str) -> float:
        """Median over traced ops (root spans named ``root_prefix*``) of the
        sum of ``key`` over the op's whole span tree."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)

        def total(s: dict) -> float:
            return s.get(key, 0) + sum(total(c) for c in children.get(s["id"], []))

        roots = [s for s in self.spans if s["parent"] is None and s["name"].startswith(root_prefix)]
        return statistics.median([total(r) for r in roots]) if roots else 0.0
