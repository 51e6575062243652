"""Spans around the benchmark's calls into each layer of the program.

A span has a name (``<layer>.<what>``), start and end, the span that
caused it, and the id of the operation (root span) it belongs to.
Spans are kept in memory and written out when the run ends.

With a SparkContext, every span runs its calls under its own Spark job
group, so each job belongs to exactly one span, the innermost one open
on the thread that submitted it. The jobs, stages, tasks and failed
tasks of each span are read from ``statusTracker()`` once the run is
over, after the listener bus has drained, so the counts are complete.

``NullTracer`` has the same interface and does nothing: untraced runs
pay for no tracing at all.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

LAYERS = (
    "streaming.incremental",
    "plans.pipelines",
    "io.sinks",
    "plans.serving",
    "operators.text",
    "operators.dedup",
    "operators.graph",
    "caches",
    "session",
)
COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict[str, int] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return next((l for l in LAYERS if self.name.startswith(l + ".")), self.name)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in intervals):
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


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of it that child spans cover."""
    return span.duration - covered(span.start, span.end, [(c.start, c.end) for c in children])


class NullTracer:
    enabled = False
    spans: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield None

    def finish(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, sc=None) -> None:
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, name, parent.id if parent else None, parent.op if parent else sid, time.perf_counter())
        if self._sc is not None:
            sp.group = f"perfbench-{sid}"
            self._sc.setJobGroup(sp.group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent.group, parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)

    def finish(self) -> None:
        """Fill in the Spark counts of every span. Call once, after the
        traced work is over."""
        if self._sc is None:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for sp in self.spans:
            c = dict.fromkeys(COUNTS, 0)
            for jid in st.getJobIdsForGroup(sp.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped: its output was reused
                    c["stages"] += 1
                    c["tasks"] += si.numCompletedTasks + si.numFailedTasks
                    c["failed_tasks"] += si.numFailedTasks
            sp.counts = c

    # --- summaries ----------------------------------------------------
    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for sp in self.spans:
            out.setdefault(sp.parent, []).append(sp)
        return out

    def per_op_layers(self, root_prefix: str) -> list[dict[str, dict[str, float]]]:
        """For every operation whose root span name starts with
        ``root_prefix``: per layer, the self time (ms) and the Spark
        counts of the spans of that layer inside the operation."""
        kids = self.children()
        by_op: dict[int, list[Span]] = {}
        for sp in self.spans:
            by_op.setdefault(sp.op, []).append(sp)
        out = []
        for sp in self.spans:
            if sp.parent is not None or not sp.name.startswith(root_prefix):
                continue
            acc = {l: dict.fromkeys(COUNTS + ("self_ms",), 0.0) for l in LAYERS}
            for s in by_op[sp.op]:
                if s.layer not in acc:
                    continue
                a = acc[s.layer]
                a["self_ms"] += self_time(s, kids.get(s.id, [])) * 1e3
                for k in COUNTS:
                    a[k] += s.counts.get(k, 0)
            out.append(acc)
        return out

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                **s.counts,
            }
            for s in sorted(self.spans, key=lambda s: s.id)
        ]
