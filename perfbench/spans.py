"""Span recording for the traced benchmark run.

Only the traced run installs the wrappers: each public engine function the
benchmark cares about is replaced, where its caller looks it up, by a
wrapper that records a span (name, start, end, parent) and the Spark jobs
launched under it. Jobs are attributed through the ``spark.jobGroup.id``
local property: a span sets its own group on entry and restores the
previous one on exit, so every job belongs to the innermost open span.
Spans stay in memory and are written as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
# names of the benchmark's own spans (ops, generation); the rest are
# engine layers
ROOT_PREFIX = "perfbench."


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "jobs", "stages",
                 "tasks", "attrs")

    def __init__(self, sid, name, parent, start, end=None, jobs=0,
                 stages=0, tasks=0, attrs=None):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = end
        self.jobs = jobs
        self.stages = stages
        self.tasks = tasks
        self.attrs = attrs or {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, "jobs": self.jobs,
                "stages": self.stages, "tasks": self.tasks,
                "attrs": self.attrs}


class Tracer:
    """In-memory span recorder.

    Spans opened on the main thread nest by a stack. Engine callbacks that
    Spark runs on its own threads (``foreachBatch``) open spans whose
    parent is the innermost span open on the main thread, which is the
    call that started the stream."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._tls = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next
            self._next += 1
        s = Span(sid, name, parent.id if parent else None, 0.0)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, f"perfbench-{sid}")
        st.append(s)
        s.start = time.perf_counter()
        self.timed(t0, s.start)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            if self.sc is not None:
                self._count_jobs(s)
                self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(s)
            self.timed(s.end)

    def _count_jobs(self, s: Span) -> None:
        tracker = self.sc.statusTracker()
        for j in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
            s.jobs += 1
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                stage = tracker.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks

    def timed(self, t0: float, t1: float | None = None) -> None:
        """Book ``[t0, t1 or now]`` as tracing overhead. Spans also close on
        Spark's callback threads, hence the lock."""
        dt = (t1 if t1 is not None else time.perf_counter()) - t0
        with self._lock:
            self.overhead_s += dt

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``post(span, args, kwargs, result)`` may attach counts to the span
        after the call; its time is booked as tracing overhead."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
            if post is not None:
                t0 = time.perf_counter()
                post(s, args, kwargs, out)
                tracer.timed(t0)
            return out

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.as_dict()) + "\n")


def _covered(intervals) -> float:
    """Length of the union of ``(lo, hi)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Overlapping children (parallel work) count once, and each child is
    clipped to its parent, so self time is never negative."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: s.dur - _covered(
        (max(c.start, s.start), min(c.end, s.end))
        for c in kids.get(s.id, ())) for s in spans}


def attributed(spans: list[Span], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by at least one engine-layer span,
    that is a span not named ``perfbench.*``."""
    return _covered((max(s.start, lo), min(s.end, hi)) for s in spans
                    if not s.name.startswith(ROOT_PREFIX))


def missing_layers(spans: list[Span], required: dict) -> list[str]:
    """Required layers that no call reached: ``required`` maps an op kind
    to the layers every ``perfbench.<kind>`` span must have a descendant
    of, and ``"*"`` to layers that need one call anywhere in ``spans``."""
    by_id = {s.id: s for s in spans}
    reached: dict[int, set] = {}
    for s in spans:
        p = by_id.get(s.parent)
        while p is not None:
            reached.setdefault(p.id, set()).add(s.name)
            p = by_id.get(p.parent)
    names = {s.name for s in spans}
    out = []
    for kind, layers in required.items():
        if kind == "*":
            out += [f"{n}: no call" for n in layers if n not in names]
            continue
        for s in spans:
            if s.name == f"{ROOT_PREFIX}{kind}":
                out += [f"{n}: no call under {kind} span {s.id}"
                        for n in layers if n not in reached.get(s.id, ())]
    return out


def layer_table(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, total, self, p50, and the Spark jobs, stages
    and tasks launched under the span, its children included.

    A span nested under a span of the same name (a recursive call) adds to
    ``calls`` and ``self_s`` but not again to ``total_s`` or the job
    counts."""
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    incl = {s.id: [0, 0, 0] for s in spans}
    for s in spans:
        p = s
        while p is not None:
            c = incl[p.id]
            c[0] += s.jobs
            c[1] += s.stages
            c[2] += s.tasks
            p = by_id.get(p.parent)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0,
                                      "self_s": 0.0, "jobs": 0,
                                      "stages": 0, "tasks": 0, "durs": []})
        row["calls"] += 1
        row["self_s"] += selfs[s.id]
        row["durs"].append(s.dur)
        p = by_id.get(s.parent)
        while p is not None and p.name != s.name:
            p = by_id.get(p.parent)
        if p is None:
            row["total_s"] += s.dur
            row["jobs"] += incl[s.id][0]
            row["stages"] += incl[s.id][1]
            row["tasks"] += incl[s.id][2]
    for row in out.values():
        row["p50_s"] = statistics.median(row.pop("durs"))
    return out


def format_table(table: dict[str, dict]) -> str:
    rows = sorted(table.items(), key=lambda kv: -kv[1]["total_s"])
    lines = [f"{'layer':<52} {'calls':>6} {'total_s':>9} {'self_s':>9} "
             f"{'jobs':>6}"]
    for name, r in rows:
        lines.append(f"{name:<52} {r['calls']:>6} {r['total_s']:>9.3f} "
                     f"{r['self_s']:>9.3f} {r['jobs']:>6}")
    return "\n".join(lines)
