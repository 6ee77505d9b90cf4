"""In-memory spans, their self time, and the Spark jobs charged to them.

Every span gets its own Spark job group, so a job is charged to the span
that was innermost when the job started: a lazy plan built in one span
and run in another lands in the span that ran the action. Jobs that
carry a group of Spark's own (a streaming query's micro-batches run
under the query's id) are charged by their start time to the innermost
span open then. The pure functions at the top hold the arithmetic and
are tested without Spark.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    pass_no: int
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"lakebench-span-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.duration - covered(kids.get(s.sid, []), s.start, s.end)
            for s in spans}


def self_cpu(spans: list[Span]) -> dict[int, float]:
    """Each span's calling-thread CPU minus its children's (children run
    on the same thread, so they never overlap)."""
    kid_cpu: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            kid_cpu[s.parent] = kid_cpu.get(s.parent, 0.0) + s.cpu_s
    return {s.sid: s.cpu_s - kid_cpu.get(s.sid, 0.0) for s in spans}


def innermost_at(spans: list[Span], t: float) -> Span | None:
    """The innermost span open at time ``t``: spans of one thread nest,
    so it is the latest-starting span that contains ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start > best.start):
            best = s
    return best


def charge_jobs(job_groups: dict[int, str | None],
                starts: dict[int, float], spans: list[Span],
                ) -> tuple[dict[int, list[int]], list[int]]:
    """Map each job to one span: the span whose group it carries, else
    the innermost span open at its start time (``starts``, on the span
    clock). Returns (span id -> job ids, job ids charged to no span)."""
    by_group = {s.group: s.sid for s in spans}
    charged: dict[int, list[int]] = {s.sid: [] for s in spans}
    orphans = []
    for job, group in sorted(job_groups.items()):
        sid = by_group.get(group)
        if sid is None and job in starts:
            s = innermost_at(spans, starts[job])
            sid = s.sid if s is not None else None
        if sid is None:
            orphans.append(job)
        else:
            charged[sid].append(job)
    return charged, orphans


class Tracer:
    """Records spans and keeps Spark's job group on the innermost one.

    Pass spans are always recorded, because the per-pass job counts come
    from them. Layer spans are recorded only while ``detail`` is on.
    """

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.detail = False
        self.pass_no = 0
        self._stack: list[Span] = []
        # span clock = wall clock - offset
        self.wall_offset = time.time() - time.perf_counter()

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 span.group if span else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: bool = True, **attrs):
        if layer and not self.detail:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 self.pass_no, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        cpu0 = time.thread_time()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = time.thread_time() - cpu0
            self._stack.pop()
            self._set_group(parent)

    def traced(self, fn, name: str, keep_result: bool = False):
        """``fn`` run inside a span named ``name``; ``keep_result``
        stores the return value in the span's attrs."""
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, fn=fn.__name__) as s:
                out = fn(*args, **kwargs)
                if s is not None and keep_result:
                    s.attrs["result"] = out
                return out

        traced.__wrapped__ = fn
        return traced

    def wrap(self, module, attr: str, name: str,
             keep_result: bool = False) -> None:
        """Replace ``module.attr`` with its traced version."""
        setattr(module, attr,
                self.traced(getattr(module, attr), name, keep_result))
