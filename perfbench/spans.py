"""In-memory spans around the benchmark's calls into each library module.

A span has a name, start, end, parent span and request id.  While a span
is open its Spark jobs run under a job group of its own, and on close the
span records the jobs, stages and tasks of that group (counted by
``bench_extra._group_stats``).  Those counts are the span's own; a parent
does not include its children's.  Spans stay in memory until
:meth:`Tracer.dump` writes them once, at the end of the run.

A disabled tracer opens no job group and records nothing, so an untraced
run pays one ``if`` per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from bench_extra import _group_stats

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: int | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span timed by the caller (used before Spark exists)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end,
                                   attrs=attrs))

    @contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, 0.0,
                  parent=self._stack[-1] if self._stack else None,
                  req=req, attrs=attrs)
        if sp.req is None and sp.parent is not None:
            sp.req = self.spans[sp.parent].req
        self.spans.append(sp)
        self._stack.append(sp.sid)
        group = f"perfbench-{sp.sid}"
        sc = self.sc
        prev = (sc.getLocalProperty(_GROUP), sc.getLocalProperty(_DESC))
        sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setJobGroup(*prev)
            sp.jobs, sp.stages, sp.tasks = _group_stats(sc, group)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        own = self_times(self.spans)
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": own[s.sid]}
                       for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans
    (children clipped to the parent, overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s.sid, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.dur - covered
    return out
