"""In-memory spans recorded by wrappers the benchmark installs around the
package's public calls.

A wrapper replaces a name in the module where its CALLER looks it up:
``streaming.cdc`` imported ``merge_star`` by name, so the CDC path is
traced by patching ``streaming.cdc.merge_star``, not
``plans.star.merge_star``.  Wrappers are installed only for traced ops
and removed afterwards, so untraced ops run the package unmodified.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    jobs: int = 0
    meta: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
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
        out.append(s.duration - covered)
    return out


def self_jobs(spans: list[Span]) -> list[int]:
    """Jobs a span ran itself: its count minus its direct children's."""
    out = [s.jobs for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.jobs
    return out


class Tracer:
    """Records spans; ``op`` tags every span with the op it belongs to."""

    def __init__(self, probe=None):
        self.probe = probe
        self.spans: list[Span] = []
        self.op = ""
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in begin/end bookkeeping

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _jobs_now(self) -> set[int]:
        if self.probe is None:
            return set()
        return self.probe.group_jobs(self.probe.current_group())

    def begin(self, name: str, **meta) -> int:
        t0 = time.perf_counter()
        stack = self._stack()
        span = Span(
            name=name,
            start=time.perf_counter(),
            end=0.0,
            parent=stack[-1] if stack else None,
            op=self.op,
            meta=meta,
        )
        span.meta["_jobs_before"] = self._jobs_now()
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        self.overhead_s += time.perf_counter() - t0
        return idx

    def end(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = t0 = time.perf_counter()
        before = span.meta.pop("_jobs_before")
        span.jobs = len(self._jobs_now() - before)
        self._stack().pop()
        self.overhead_s += time.perf_counter() - t0
        return span

    # -- wrappers ---------------------------------------------------------

    def patch(self, module_name: str, attr: str, span_name: str, after=None) -> None:
        """Replace ``module.attr`` with a wrapper recording ``span_name``.

        ``after(span, args, kwargs, result)`` runs once the span has
        closed, so the counting it does is not part of the span."""
        module = importlib.import_module(module_name)
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = self.begin(span_name)
            try:
                result = orig(*args, **kwargs)
            finally:
                span = self.end(idx)
            if after is not None:
                after(span, args, kwargs, result)
            return result

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        sj = self_jobs(self.spans)
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "jobs": s.jobs,
                "self_s": st[i],
                "self_jobs": sj[i],
                **{k: v for k, v in s.meta.items() if not k.startswith("_")},
            }
            for i, s in enumerate(self.spans)
        ]
