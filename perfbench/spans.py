"""In-memory spans and the runtime wrappers that record them.

A span is (name, start, end, parent, op). Spans of one timed operation
share its op id. The wrappers replace public entry points of the engine
from outside (``setattr`` on the class or module) and are removed again
by ``Tracer.restore``; the engine source is never edited.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps
    counted once)."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted((max(spans[c]["start"], s["start"]),
                      min(spans[c]["end"], s["end"]))
                     for c in children.get(i, ()))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append((s["end"] - s["start"]) - covered)
    return out


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper. ``after(args,
        result)`` runs inside the span once the call has returned."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
                if after is not None:
                    after(args, result)
                return result

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)
