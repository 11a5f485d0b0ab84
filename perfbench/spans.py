"""In-memory span recorder and self-time arithmetic for the traced run.

A span is one call into a layer: name, start, end, parent span and run
id. Spans stay in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Iterator
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run: str) -> None:
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered by
    its direct children (children of one parent run one after another,
    so their covered time is the sum of their clipped durations)."""
    covered = {s.id: 0.0 for s in spans}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            covered[p.id] += max(0.0, min(s.end, p.end) - max(s.start, p.start))
    return {s.id: max(0.0, s.dur - covered[s.id]) for s in spans}


def layer_self_times(spans: list[Span], root: Span) -> tuple[dict[str, float], float]:
    """Self time per span name over ``root``'s subtree (root excluded),
    and the remainder of ``root``'s wall time that no layer accounts for
    (``unattributed``). By construction the layer self times plus the
    remainder equal ``root.dur``."""
    selfs = self_times(spans)
    inside = {root.id}
    layers: dict[str, float] = {}
    for s in spans:  # spans are recorded in start order: parents first
        if s.parent in inside:
            inside.add(s.id)
            layers[s.name] = layers.get(s.name, 0.0) + selfs[s.id]
    return layers, root.dur - sum(layers.values())
