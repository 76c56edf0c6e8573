"""In-memory spans recorded around calls into the system's layers.

The benchmark wraps public functions of ``fenix_spark`` at run time
(``Tracer.wrap``) instead of adding tracing inside the package. A span
has a name (``<layer>.<what>``), start, end, parent span and request
id; a thread keeps its own stack of open spans, and a span opened on
another thread (the Flight server's handler thread) names its parent
explicitly. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rid: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, rid: int | None = None, **attrs):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        if rid is None and parent is not None:
            rid = parent.rid
        s = Span(
            next(self._ids), name, time.perf_counter(),
            parent=parent.sid if parent else None, rid=rid, attrs=attrs,
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span;
        ``on_result(span, args, kwargs, result)`` may attach counts."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def calibrate(self, n: int = 20000) -> float:
        """Seconds of bookkeeping one span costs (open + close)."""
        probe = Tracer()
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("calibrate.noop"):
                pass
        return (time.perf_counter() - t0) / n


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps
    merged), so 0 <= self <= duration always holds."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, ())
        )
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in ivs:
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
        out[s.sid] = max(0.0, s.duration - covered)
    return out


def layer_self_seconds(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
    return out
