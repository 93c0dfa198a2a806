"""Spans recorded from outside the engine.

``Tracer.wrap`` replaces a function or method with a call-through
wrapper that records one span per call and changes nothing else: same
arguments, same result, same exceptions. Spans stay in memory until the
run ends. Spark stages are later assigned to the innermost span that was
open when the stage was submitted (``attribute_stages``), because jobs
launched from the engine's thread pools carry no description.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    depth: int
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans from every thread of the process.

    A span opened on a thread that has no open span of its own (a worker
    of one of the engine's thread pools) takes as parent the most
    recently opened span, of any thread and still open, among those named
    in ``callers`` (the calls that hand work to that pool), or among all
    spans of another name when ``callers`` is empty."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, callers: tuple[str, ...] = (), **attrs):
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:
                cands = [s for s in self._open.values()
                         if (s.name in callers if callers else s.name != name)]
                parent = max(cands, key=lambda s: s.start) if cands else None
            sp = Span(next(self._ids), name, time.time(),
                      parent.sid if parent else None,
                      parent.depth + 1 if parent else 0, attrs=dict(attrs))
            self._open[sp.sid] = sp
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self._open.pop(sp.sid, None)

    def wrap(self, owner, attr: str, name: str, note=None,
             callers: tuple[str, ...] = ()) -> None:
        """Install a call-through wrapper on ``owner.attr``. ``note(span,
        args, kwargs, result)`` may copy facts about the call into the
        span's attributes; it must not change the result."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, callers) as sp:
                try:
                    out = orig(*args, **kwargs)
                except Exception as exc:
                    sp.attrs["error"] = type(exc).__name__
                    raise
                if note is not None:
                    note(sp, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ------------------------------------------------------------ analysis

    def closed(self, name: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.end is not None and (name is None or s.name == name)]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid and s.end is not None]

    def self_time(self, sp: Span) -> float:
        return self_time(sp.start, sp.end,
                         [(c.start, c.end) for c in self.children(sp)])


def attribute_stages(stages: list[dict], spans: list[Span]) -> dict[int, Span | None]:
    """Map each stage id to the innermost span open at its submission
    time (deepest first, then the latest-started), or None."""
    out: dict[int, Span | None] = {}
    closed = [s for s in spans if s.end is not None]
    for st in stages:
        t = st["submit"]
        cands = [s for s in closed if s.start <= t <= s.end]
        out[st["id"]] = max(cands, key=lambda s: (s.depth, s.start)) if cands else None
    return out


def ancestors(sp: Span, by_id: dict[int, Span]):
    """The span itself, then its parent chain."""
    while sp is not None:
        yield sp
        sp = by_id.get(sp.parent) if sp.parent is not None else None
