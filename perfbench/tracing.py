"""Tracing for the benchmark worker: spans, Spark status-store totals and
streaming progress events, all read from outside the engine package.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them once, at exit.  Self time is a span's duration minus the part
  of it that its children cover.
- ``stage_totals`` sums the stage metrics of the jobs Spark ran under a set
  of job groups, read from Spark's status store.
- ``ProgressLog`` is a ``StreamingQueryListener`` that keeps every progress
  event.  ``query.recentProgress`` keeps only the last 100, and a listener
  also sees the events of queries that have already stopped.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext

MB = 1024 * 1024


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "run": self.run_id,
                           "name": name, "start": start, "end": end, **attrs})
        return sid

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def _span(self, name: str, start: float | None, attrs: dict):
        sid = self.add(name, start or time.time(), None, self.current(), **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()

    def span(self, name: str, on: bool = True, start: float | None = None, **attrs):
        """A span around the ``with`` body (``start`` backdates it); a no-op
        when tracing is off."""
        if self.enabled and on:
            return self._span(name, start, attrs)
        return nullcontext()

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        rows = [{**s, "self": selfs[s["id"]]} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh)


_STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
    "input_mb": ("inputBytes", 1 / MB),
    "input_rows": ("inputRecords", 1),
    "output_mb": ("outputBytes", 1 / MB),
    "failed_tasks": ("numFailedTasks", 1),
}


def drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_totals(sc, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and summed stage metrics of the jobs run under
    ``groups``.  Stages skipped because their shuffle output was reused are
    not counted."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(("jobs", "stages", "tasks", *_STAGE_FIELDS), 0.0)
    stage_ids: set[int] = set()
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            seq = store.job(job_id).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.length()))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted: no attempt in the store
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        for key, (getter, scale) in _STAGE_FIELDS.items():
            out[key] += getattr(sd, getter)() * scale
    return out


def progress_listener_class():
    """Build the listener class lazily: pyspark is importable only inside
    the worker, after the session exists."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            super().__init__()
            self.progress: list[dict] = []
            self.terminated: dict[str, str | None] = {}
            self._cond = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self._cond:
                self.progress.append(json.loads(event.progress.json))

        def onQueryTerminated(self, event) -> None:
            with self._cond:
                self.terminated[str(event.runId)] = event.exception
                self._cond.notify_all()

        def wait_terminated(self, run_id: str, timeout: float = 30.0) -> bool:
            with self._cond:
                return self._cond.wait_for(
                    lambda: run_id in self.terminated, timeout)

        def for_run(self, run_id: str) -> list[dict]:
            with self._cond:
                return [p for p in self.progress if p["runId"] == run_id]

    return ProgressLog
