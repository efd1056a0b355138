"""Traced-run instrumentation, applied from outside the program.

* ``Tracer`` keeps spans in memory (name, start, end, parent, thread,
  round) and writes them as JSON when the run ends. A span opened on a
  thread with no open span of its own takes the current round span as its
  parent, so store calls made from the engine's writer pool hang under the
  round that issued them.
* ``Tracer.wrap`` replaces a module or class attribute with a timed
  wrapper; ``unwrap_all`` restores every original.
* ``TimedStore`` is a ``SnapshotStore`` whose stage and commit calls are
  spans; the engine is handed one in traced runs.
* ``JobCensus`` counts the Spark jobs, stages and tasks each round ran,
  from ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

from sparkcrawl.tables import SnapshotStore


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.round: int | None = None
        self.round_span: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, **attrs) -> dict:
        stack = self._stack()
        span = {
            "id": next(self._ids), "name": name,
            "parent": stack[-1] if stack else self.round_span,
            "thread": threading.current_thread().name,
            "round": self.round,
            "start": time.perf_counter() - self.t0, **attrs,
        }
        stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self.t0
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, owner, attr: str, name: str, rows_of=None) -> None:
        """Time every call of ``owner.attr``. ``rows_of(result)`` may add a
        row count to the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            s = self.begin(name)
            try:
                out = fn(*args, **kwargs)
                if rows_of is not None:
                    s["rows"] = rows_of(out)
                return out
            finally:
                self.end(s)

        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, timed)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def total(self, name: str, rounds) -> tuple[float, int]:
        """(seconds, rows) over the spans called ``name`` in ``rounds``."""
        secs, rows = 0.0, 0
        for s in self.spans:
            if s["name"] == name and s["round"] in rounds:
                secs += s["end"] - s["start"]
                rows += s.get("rows", 0)
        return secs, rows

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["id"])}, f)


class TimedStore(SnapshotStore):
    """SnapshotStore whose writes and commits are recorded as spans."""

    def __init__(self, root: str, tracer: Tracer):
        self.tracer = tracer
        super().__init__(root)

    def stage_append(self, name, df):
        with self.tracer.span("tables.stage." + name):
            super().stage_append(name, df)

    def stage_append_rows(self, name, rows, schema):
        with self.tracer.span("tables.stage." + name):
            super().stage_append_rows(name, rows, schema)

    def stage_overwrite(self, name, df):
        with self.tracer.span("tables.stage." + name):
            super().stage_overwrite(name, df)

    def commit(self, meta=None):
        with self.tracer.span("tables.commit"):
            return super().commit(meta)


class JobCensus:
    """Jobs, stages and tasks run since the previous call. A stage counts
    once, in the call that first sees it with completed tasks; skipped
    stages (reused shuffle output) have none and do not count. Reads the
    JVM tracker directly: pyspark's wrapper makes six calls per stage."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext._jsc.statusTracker()
        self.jobs: set[int] = set(self.tracker.getJobIdsForGroup(None))
        self.stages: set[int] = set()

    def take(self) -> dict:
        new = [j for j in self.tracker.getJobIdsForGroup(None)
               if j not in self.jobs]
        self.jobs.update(new)
        n_stages = n_tasks = 0
        for j in new:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds() if info is not None else ()):
                if s in self.stages:
                    continue
                si = self.tracker.getStageInfo(s)
                done = si.numCompletedTasks() if si is not None else 0
                if done > 0:
                    self.stages.add(s)
                    n_stages += 1
                    n_tasks += done
        return {"jobs": len(new), "stages": n_stages, "tasks": n_tasks}
