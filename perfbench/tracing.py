"""Tracing for the traced run: spans around calls into the program, Spark
streaming progress from a ``StreamingQueryListener``, and job/stage
counts from the status tracker.

Spans are kept in memory and turned into metrics when the run ends. A
span's self time is its duration minus the part of it covered by its
child spans. The program itself is not modified: :meth:`Tracer.patch`
swaps a function or method for a timing wrapper for the life of the
tracer and :meth:`Tracer.close` puts the original back.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._undo: list[tuple[object, str, object]] = []
        self.calls: dict[str, int] = {}
        self.hits: dict[str, int] = {}
        # Time spent in the tracer's own bookkeeping, for the overhead figure.
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        self.own_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((span_id, parent, name, start, end))
            self.own_s += time.perf_counter() - end

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span called ``name``; count its calls
        in ``self.calls[name]`` and its truthy results in ``self.hits[name]``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
            with self._lock:
                self.calls[name] = self.calls.get(name, 0) + 1
                self.hits[name] = self.hits.get(name, 0) + bool(result)
            return result

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def durations(self, name: str) -> list[float]:
        return [end - start for _, _, n, start, end in self.spans if n == name]

    def self_times(self, name: str) -> list[float]:
        """Self time of every span called ``name``: its duration minus the
        union of the intervals its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for _, parent, _, start, end in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        out = []
        for span_id, _, n, start, end in self.spans:
            if n != name:
                continue
            covered, cursor = 0.0, start
            for c_start, c_end in sorted(children.get(span_id, [])):
                c_start, c_end = max(c_start, cursor), min(c_end, end)
                if c_end > c_start:
                    covered += c_end - c_start
                    cursor = c_end
            out.append(end - start - covered)
        return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class ProgressCollector(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as a dict, in arrival order."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def by_batch(self, run_id: str) -> dict[int, dict]:
        """The progress of query run ``run_id``, by batch id."""
        with self._lock:
            return {p["batchId"]: p for p in self.progress if p["runId"] == run_id}


def job_stages(spark, run_id: str) -> dict[int, int]:
    """Number of stages of every job Spark ran under the query's job
    group (Structured Streaming uses the run id as the group)."""
    tracker = spark.sparkContext.statusTracker()
    out = {}
    for job_id in tracker.getJobIdsForGroup(run_id):
        info = tracker.getJobInfo(job_id)
        out[job_id] = len(info.stageIds) if info is not None else 0
    return out
