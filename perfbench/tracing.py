"""In-memory span recorder that times the engine's layers from outside.

The engine is not edited: ``Tracer.wrap`` replaces a layer's public entry
point (a module function or class method, which ``crawl.py`` looks up by
name at call time) with a wrapper that records a span around each call, and
``Tracer.restore`` puts the originals back.  Spans live in memory and are
written out once, when the benchmark ends.

A span is ``{id, name, start, end, parent, round, thread}``.  The parent is
the innermost open span on the calling thread; a span opened on a thread
with no open span (the bloom filter update runs on a pool thread while the
round's stage writes run on the main thread) is parented to the open round,
so the tree shows the two overlapping.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.round_span: int | None = None
        self.round_id: int | None = None

    # ------------------------------------------------------------ recording
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self.round_span
        rec = {
            "id": next(self._ids), "name": name, "start": time.perf_counter(),
            "end": None, "parent": parent, "round": self.round_id,
            "thread": threading.current_thread().name,
        }
        with self._lock:
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def inside(self, name: str) -> bool:
        """Whether a span called ``name`` is open on the calling thread."""
        open_ids = set(self._stack())
        return any(s["name"] == name for s in self.spans if s["id"] in open_ids)

    def add_span(self, name: str, start: float, end: float, parent: int | None,
                 round_id: int | None) -> None:
        """Record a span derived from other spans (a gap between two calls)."""
        with self._lock:
            self.spans.append({
                "id": next(self._ids), "name": name, "start": start, "end": end,
                "parent": parent, "round": round_id, "thread": "derived",
            })

    # ------------------------------------------------------------ patching
    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span per call.
        ``name`` is a span name, or a function of the call's arguments that
        returns one."""
        orig = getattr(owner, attr)
        namer = name if callable(name) else (lambda *a, **k: name)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(namer(*args, **kwargs)):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def children(self) -> dict[int | None, list[dict]]:
        out: dict[int | None, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered = union_length([
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in kids.get(s["id"], []) if c["end"] > s["start"]
                and c["start"] < s["end"]
            ])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self) -> list[dict]:
        """Spans with times relative to the first span, plus self time."""
        if not self.spans:
            return []
        t0 = min(s["start"] for s in self.spans)
        selfs = self.self_times()
        return [
            dict(s, start=s["start"] - t0, end=s["end"] - t0, self=selfs[s["id"]])
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
