"""In-memory span tracer for the benchmark's traced mode.

Spans are recorded around calls into sketchlib's layers by wrapping the
layers' public functions from the benchmark's own code (nothing under
``sketchlib/`` is edited). A span holds its name, start, end, parent span and
the id of the benchmark operation it belongs to. Every span runs its Spark
work under its own job group, so the jobs, stages and tasks it launched are
read back from Spark's status tracker when the run ends. Spans stay in
memory until then, and are written out as JSON lines at the end.

A span's layer is the part of its name before the first dot
(``catalog.refresh`` -> ``catalog``).
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import itertools
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # Spark job ids launched directly here
    stages: list = field(default_factory=list)  # executed-stage stats, see resolve_spark

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(children.get(s.id, []), s.start, s.end) for s in spans}


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Layer -> summed self time of its spans, in seconds."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


def inclusive(spans: list[Span], key) -> dict[int, float]:
    """Span id -> ``key(span)`` summed over the span and all its descendants."""
    own = {s.id: key(s) for s in spans}
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    @functools.cache
    def total(i: int) -> float:
        return own[i] + sum(total(k) for k in kids.get(i, []))

    return {s.id: total(s.id) for s in spans}


class Tracer:
    """Records spans. After ``attach(sc)`` each span runs its Spark jobs under
    its own job group."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self.enabled = True
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.id if parent else None, self.op,
                 time.perf_counter(), attrs=dict(attrs))
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, describe=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``;
        ``describe(result, args, kwargs)`` may return attrs for the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if s is not None and describe is not None:
                    s.attrs.update(describe(out, args, kwargs))
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")

    def resolve_spark(self) -> None:
        """Fill each span's Spark jobs and executed stages from the status
        tracker. Called once at the end of the run, after Spark's listener
        has caught up, so completed stages carry their final figures."""
        if self._sc is None:
            return
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{s.id}"))
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                for stage_id in (info.stageIds if info is not None else []):
                    st = _stage_stats(store, stage_id)
                    if st is not None:
                        s.stages.append(st)


def _stage_stats(store, stage_id: int) -> dict | None:
    """Figures of one executed stage from Spark's status store, or None when
    the stage was skipped (its output reused) or is no longer retained."""
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None
    if sd.status().toString() != "COMPLETE":
        return None
    sub, comp = sd.submissionTime(), sd.completionTime()
    wall_ms = (comp.get().getTime() - sub.get().getTime()) if sub.isDefined() and comp.isDefined() else 0
    return {
        "stage": stage_id,
        "tasks": sd.numTasks(),
        "wall_ms": float(wall_ms),
        "run_ms": float(sd.executorRunTime()),
        "shuffle_write_records": sd.shuffleWriteRecords(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "shuffle_read_records": sd.shuffleReadRecords(),
    }
