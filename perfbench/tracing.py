"""In-memory spans for the traced run.

A span is one call across a layer boundary: its name is the layer, it has
a start and end (epoch seconds), the span that caused it, and the op it
belongs to. Spans are only kept in memory and written out when the run
ends. With tracing off, :class:`NullTracer` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield None

    def add(self, name, start, end, parent=None, op=None) -> None:
        pass

    def current(self):
        return None


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def current(self):
        return self._stack[-1] if self._stack else None

    def _op(self, op):
        if op is None and self._stack:
            return self.spans[self._stack[-1]]["op"]
        return op

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": time.time(), "end": None,
             "parent": self.current(), "op": self._op(op)}
        )
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name, start, end, parent=None, op=None) -> None:
        """Record a span measured elsewhere (a Spark job, a trigger phase)."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op if op is not None else self._op(None)}
        )

    def self_times(self, span_ids=None) -> dict[str, float]:
        """Seconds per layer name: each span's duration minus the part of
        its interval covered by its children."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        keep = None if span_ids is None else set(span_ids)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or (keep is not None and s["id"] not in keep):
                continue
            covered = covered_s(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children[s["id"]] if c["end"] is not None
            )
            out[s["name"]] += max(0.0, (s["end"] - s["start"]) - covered)
        return dict(out)

    def descendants(self, root: int) -> list[int]:
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        out, todo = [], [root]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(kids[sid])
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, fh)


def covered_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
