"""Spans recorded by the benchmark around its own calls into each engine
module, plus the Spark-side counters it reads at the same boundaries.

A span is ``(id, name, start, end, parent, op)``: ``op`` ties together the
spans of one timed operation, ``parent`` is the span open on the same thread
when it started. Spans stay in memory and are written out once, at exit.
:class:`NullTracer` is the tracing-off stand-in with the same interface.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        yield


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if op is None and parent is not None:
            op = parent["op"]
        rec = {"id": sid, "name": name, "parent": parent and parent["id"], "op": op}
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def self_times_ms(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the time
        its children cover (children of one span run one after another on
        its thread, so their durations do not overlap)."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) * 1e3 - child_ms[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_ms": self.self_times_ms(), **extra}, f)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group, from the status
    tracker. Stages skipped because their shuffle output was reused are not
    counted; every task of a stage that ran is."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numTasks and st.numCompletedTasks:
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks


def make_progress_listener(spark):
    """A StreamingQueryListener collecting every micro-batch progress
    report, and the ids of terminated queries, in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            state = p.stateOperators[0] if p.stateOperators else None
            rec = {
                "query": str(p.id),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state_rows": state.numRowsTotal if state else 0,
                "state_commit_ms": state.commitTimeMs if state else 0,
            }
            with self._cv:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated.add(str(event.id))
                self._cv.notify_all()

        def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
            """Block until ``n`` queries have reported termination; progress
            events of a query reach the listener before its termination."""
            with self._cv:
                if not self._cv.wait_for(lambda: len(self.terminated) >= n, timeout_s):
                    raise TimeoutError("streaming listener saw no termination event")

    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener
