"""In-memory spans recorded from outside the program.

``Tracer.span`` opens a span (name, start, end, parent, trace id) and sets
the Spark job description to the span's name, so every Spark job started
inside it carries that name in the event log; the parent's name is
restored when the span closes. ``patched`` wraps module attributes for the
duration of a ``with`` block and restores them after.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)

    def wrap(self, name: str, fn):
        """``fn`` inside a span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover.
    Children of one span run one after another on the driver thread."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] = child_sum.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_sum.get(s["id"], 0.0) for s in spans}


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    """Set ``setattr(obj, attr, value)`` for each target; undo on exit."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, value in targets:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in reversed(saved):
            setattr(obj, attr, value)
