"""Spans recorded from outside the engine, plus the small statistics the
benchmark reports.

A span is one timed call into a layer: name, start, end, parent, and
the Spark jobs it launched.  Jobs are attributed with ``setJobGroup``
(each span instance gets its own group id, restored to the parent's on
exit) and counted from ``statusTracker`` after the listener bus has
drained, so the counts are exact.  With tracing off every helper is a
plain call: no job groups, no clock reads beyond the caller's own.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of ``[start, end]`` that the children's
    intervals cover (overlapping children are merged first)."""
    cover = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                cover += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        cover += cur_hi - cur_lo
    return (span.end - span.start) - cover


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) and the sample
    count it rests on.  Raises on an empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(round(q / 100.0 * len(xs), 9)))  # 99.9 % of 1000 is 999
    return xs[rank - 1], len(xs)


def batch_entropies(codes, batch_size: int):
    """Shannon entropy (bits) of the non-negative integer label codes in
    each consecutive ``batch_size`` slice, the trailing partial batch
    included."""
    import numpy as np

    codes = np.asarray(codes, dtype=np.int64)
    if codes.size == 0:
        raise ValueError("batch entropy of an empty sequence")
    k = int(codes.max()) + 1
    batch = np.arange(codes.size) // batch_size
    cnt = np.bincount(batch * k + codes, minlength=(int(batch[-1]) + 1) * k).reshape(-1, k)
    p = cnt / cnt.sum(axis=1, keepdims=True)
    logp = np.log2(np.where(cnt > 0, p, 1.0))
    return -(p * logp).sum(axis=1)


def batch_entropy(codes, batch_size: int) -> float:
    """Mean of :func:`batch_entropies`."""
    return float(batch_entropies(codes, batch_size).mean())


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


class Tracer:
    """Span recorder.  ``enabled=False`` makes every method a pass-through."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counts: dict[int, dict[str, int]] = {}

    def bind(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, time.perf_counter())
        sp.attrs.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sp.group = f"perfbench-{sp.sid}"
            sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None and parent.group is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span named ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name):
            return fn(*args, **kwargs)

    def harvest(self) -> None:
        """Count, per span not yet counted, the jobs, stages run, tasks run
        and failed tasks of its own job group, once the listener bus is
        empty.  Call before the session stops: the counts live in it."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        for sp in self.spans:
            if sp.sid in self._counts:
                continue
            c = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
            if sp.group is not None:
                for jid in st.getJobIdsForGroup(sp.group):
                    job = st.getJobInfo(jid)
                    if job is None:
                        continue
                    c["jobs"] += 1
                    for sid in job.stageIds:
                        info = st.getStageInfo(sid)
                        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                            continue  # skipped: its shuffle output was reused
                        c["stages"] += 1
                        c["tasks"] += info.numCompletedTasks
                        c["failed_tasks"] += info.numFailedTasks
            self._counts[sp.sid] = c

    def unbind(self) -> None:
        """Harvest the counts, then forget the session (before it stops)."""
        self.harvest()
        self.spark = None

    def summary(self) -> list[dict]:
        """Every span with its self time and inclusive job counts."""
        self.harvest()
        counts = self._counts
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        incl: dict[int, dict[str, int]] = {}
        for sp in reversed(self.spans):  # children are recorded after parents
            c = dict(counts.get(sp.sid, {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}))
            for k in kids.get(sp.sid, []):
                for key, v in incl[k.sid].items():
                    c[key] += v
            incl[sp.sid] = c
        return [
            {
                "id": sp.sid,
                "name": sp.name,
                "parent": sp.parent,
                "start": sp.start,
                "end": sp.end,
                "wall_s": sp.end - sp.start,
                "self_s": self_time(sp, kids.get(sp.sid, [])),
                **incl[sp.sid],
                **sp.attrs,
            }
            for sp in self.spans
        ]
