"""In-memory spans around calls into the engine's layers.

A span has a name, start, end, parent span and request id.  Spans are
kept in a list and written out once, when the run ends; nothing is
traced inside the engine itself.  A layer's self time is its span minus
the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    request: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``span`` nests through an explicit parent stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        req = request or (parent.request if parent else name)
        sp = Span(len(self.spans), name, req,
                  parent.id if parent else None, time.perf_counter(),
                  attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s.start
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, cur_end), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[s.id] = s.duration - covered
    return out


def nesting_errors(spans: list[Span]) -> list[str]:
    """Spans that do not lie inside their parent, or change request."""
    by_id = {s.id: s for s in spans}
    errs = []
    for s in spans:
        if s.parent is None:
            continue
        p = by_id.get(s.parent)
        if p is None:
            errs.append(f"{s.name}#{s.id}: parent {s.parent} missing")
        elif not (p.start <= s.start <= s.end <= p.end):
            errs.append(f"{s.name}#{s.id} outside {p.name}#{p.id}")
        elif s.request != p.request:
            errs.append(f"{s.name}#{s.id} request {s.request} != {p.request}")
    return errs


def load_spans(path: str) -> tuple[dict, list[Span]]:
    with open(path) as fh:
        doc = json.load(fh)
    return doc, [Span(**s) for s in doc["spans"]]
