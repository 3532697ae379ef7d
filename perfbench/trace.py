"""In-memory spans, their self time, and Spark job attribution.

A span is one call the benchmark makes into a module of the program: its
name, wall-clock start and end, the span that was open around it, and the
request it belongs to (a query, an update round, a build).  Spans stay in
memory and are written out once, when the run ends.

Spark counters are joined to spans after the run: every job whose submission
time falls inside a span belongs to the innermost such span.  The benchmark
is a single sequential client, so no two unrelated spans are open at the
same time and this attribution is exact; it also catches jobs that the
program submits from its own worker threads (``IndexSearcher.preload``),
which do not inherit Spark job groups.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

# Spark reports submission times in whole milliseconds; a job submitted in
# the first millisecond of a span can read up to 1 ms before its start.
_CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    sid: int
    name: str
    request: str
    parent: Optional[int]
    start: float
    end: float = float("nan")
    attrs: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise only times the call.

    ``span`` always yields a dict the caller may fill with attributes (for
    example the program's ``last_metrics``), so workload code is the same
    with tracing on and off.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, request: str = ""):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, request, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp.attrs
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    @contextmanager
    def paused(self):
        """Record no spans inside (for untimed warm-up work)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: Dict[int, List[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = s.duration - covered
    return out


@dataclass
class JobStats:
    job_id: int
    submitted: float  # seconds since the epoch
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0


def attribute_jobs(spans: Sequence[Span],
                   jobs: Iterable[JobStats]) -> Dict[int, List[JobStats]]:
    """Span id -> the jobs submitted while it was the innermost open span."""
    depth: Dict[int, int] = {}
    for s in spans:  # parents are recorded before their children
        depth[s.sid] = 0 if s.parent is None else depth[s.parent] + 1
    out: Dict[int, List[JobStats]] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s.start - _CLOCK_SLACK_S <= j.submitted <= s.end + _CLOCK_SLACK_S:
                key = (depth[s.sid], s.start)
                if best is None or key > best[0]:
                    best = (key, s.sid)
        if best is not None:
            out.setdefault(best[1], []).append(j)
    return out


def subtree(spans: Sequence[Span], root: int) -> List[int]:
    """Ids of ``root`` and every span below it."""
    kids: Dict[int, List[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(kids.get(sid, []))
    return out


def tail_percentile(samples: Sequence[float],
                    beyond: int = 10) -> Optional[Tuple[int, float]]:
    """Highest whole percentile with at least ``beyond`` samples above it.

    Returns ``(p, value)`` with ``value`` the nearest-rank p-th percentile,
    or None when there are too few samples for a tail above the median.
    """
    n = len(samples)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    if p <= 50:
        return None
    rank = math.ceil(p * n / 100)
    return p, sorted(samples)[rank - 1]
