"""In-memory spans recorded by the benchmark around its calls into the
program, plus Spark call-site tagging for the traced run.

A span is (name, start, end, parent, op). Spans nest by the order they
are opened on one thread; ``self_time`` is a span's duration minus the
part of its interval its child spans cover. Spans are kept in memory and
written out once, at the end of a run.

``Tracer(enabled=False)`` records nothing, wraps nothing and tags
nothing, so the untraced run pays only a no-op context manager per call.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
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


def self_time(spans: list[Span], idx: int) -> float:
    """Span ``idx``'s duration minus the time its children cover."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return s.dur - covered(kids, s.start, s.end)


class Tracer:
    """Span recorder. Times are ``time.time()`` seconds, the same clock
    Spark's event log uses (in milliseconds)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # -- wrapping the program's public entry points (traced run only) --
    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a version that records a span
        ``name`` around each call; ``on_result(attrs, result)`` may add
        counts to the span. Undone by ``unwrap_all``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as attrs:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, out)
                return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def tag_call_sites(self, spark) -> None:
        """Record the caller as the job's ``callSite.short`` (it lands in
        the event log's job properties) for the actions PySpark leaves
        untagged: ``count`` and the writer's ``save``/``parquet``.
        ``collect`` and what builds on it already carry PySpark's own
        call site, in the same ``<action> at <file>:<line>`` form."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        frame = spark.range(0)  # the session's concrete DataFrame classes

        def tagger(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                f = sys._getframe(1)
                site = f"{orig.__name__} at {f.f_code.co_filename}:{f.f_lineno}"
                prev = sc.getLocalProperty("callSite.short")
                sc.setLocalProperty("callSite.short", site)
                try:
                    return orig(*args, **kwargs)
                finally:
                    sc.setLocalProperty("callSite.short", prev)

            return wrapper

        for owner, names in ((type(frame), ("count",)),
                             (type(frame.write), ("save", "parquet"))):
            for n in names:
                orig = getattr(owner, n)
                self._patched.append((owner, n, orig))
                setattr(owner, n, tagger(orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON list."""
        with open(path, "w") as f:
            json.dump([{**asdict(s), "self_s": self_time(self.spans, i)}
                       for i, s in enumerate(self.spans)], f)
