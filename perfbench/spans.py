"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files: :func:`patched` swaps a
module attribute for a wrapper that records the call's start, end and
parent span, and tags every Spark job the call fires with a job group of
its own. After a round, :func:`stage_totals` reads Spark's job and stage
records for those groups. Spans stay in memory until :meth:`dump`.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the part of [start, end] that the intervals cover."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, start), min(e, end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanRecorder:
    """Spans of one run. A span opened on a thread with no open span (a
    server thread answering a request) takes the client's open request
    span as its parent, so server work nests under the request."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.request: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, counts: dict | None = None, request: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else self.request
        sp = Span(next(self._ids), name, parent.id if parent else None,
                  time.perf_counter(), counts=dict(counts or {}))
        sp.group = f"perfbench-{sp.id}"
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        if request:
            self.request = sp
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if request:
                self.request = None
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, name: str, fn, count=None):
        """``fn`` with a span around each call; ``count(args, kwargs)``
        may return counts recorded on the span before the call."""

        def traced(*args, **kwargs):
            counts = count(args, kwargs) if count else None
            with self.span(name, counts):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- arithmetic over recorded spans ---------------------------------
    def self_times(self, spans: list[Span] | None = None) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        spans = self.spans if spans is None else spans
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        return {sp.id: sp.duration - covered(sp.start, sp.end, children.get(sp.id, []))
                for sp in spans}

    def take(self) -> list[Span]:
        """Spans recorded since the last take (one round's spans)."""
        with self._lock:
            start = getattr(self, "_taken", 0)
            self._taken = len(self.spans)
            return self.spans[start:]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({"id": sp.id, "name": sp.name, "parent": sp.parent,
                                    "start": sp.start, "end": sp.end,
                                    "group": sp.group, **sp.counts}) + "\n")


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    """Set ``obj.attr = value`` for each target; restore on exit."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, value in targets:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, old in reversed(saved):
            setattr(obj, attr, old)


STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "shuffleReadBytes",
                "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
                "jvmGcTime", "outputBytes", "inputBytes")


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def stage_totals(sc, groups: set[str]) -> dict[str, dict[str, float]]:
    """Job group -> {'jobs': n, <stage field>: sum} from Spark's status
    store, over the jobs of the given groups. A stage that a later job
    reuses (skips) belongs to the first job that lists it."""
    store = sc._jsc.sc().statusStore()
    jobs = sorted(_iterate(store.jobsList(None)), key=lambda j: j.jobId())
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    for job in jobs:
        stages = [int(s) for s in _iterate(job.stageIds()) if int(s) not in seen]
        seen.update(stages)
        grp = job.jobGroup()
        if grp.isEmpty() or grp.get() not in groups:
            continue
        acc = out.setdefault(grp.get(), {"jobs": 0, **{f: 0.0 for f in STAGE_FIELDS}})
        acc["jobs"] += 1
        for sid in stages:
            st = store.lastStageAttempt(sid)
            for f in STAGE_FIELDS:
                acc[f] += float(getattr(st, f)())
    return out
