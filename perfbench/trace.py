"""Span tracing installed from outside the program.

``Tracer.wrap`` replaces a function or method with a wrapper that records a
span (name, start, end, parent, query id) around each call on the tracing
thread. Spans stay in memory until ``dump`` writes them out. A layer's self
time is its span's duration minus the part of that interval its child spans
cover. A target that no longer exists is listed in ``missing`` instead of
failing, so its metrics read ``null`` rather than 0.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    qid: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder for one thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self.missing: dict[str, str] = {}
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        """Record a span around a block; yields the Span for counters.
        A span without ``qid`` inherits its parent's."""
        parent = self._stack[-1] if self._stack else None
        if qid is None and parent is not None:
            qid = self.spans[parent].qid
        s = Span(name, time.perf_counter(), parent=parent, qid=qid)
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, on_call=None) -> bool:
        """Trace ``owner.attr`` as span ``name``. ``on_call(span, args,
        result)`` may add counts. Returns False (and records the target as
        missing) when the attribute does not exist."""
        raw = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr, None)
        if raw is None:
            self.missing[name] = f"{getattr(owner, '__name__', owner)}.{attr} not found"
            return False
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != tracer._thread:
                return fn(*args, **kwargs)
            with tracer.span(name) as s:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, result)
                return result

        self._restore.append((owner, attr, raw))
        setattr(owner, attr, staticmethod(traced) if is_static else traced)
        return True

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._restore):
            setattr(owner, attr, raw)
        self._restore.clear()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for i, (s, st) in enumerate(zip(self.spans, selfs)):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "qid": s.qid, "self": st,
                    "counts": s.counts,
                }) + "\n")
