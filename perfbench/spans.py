"""In-memory spans recorded around calls into the program's layers.

A span has a name, start, end, parent and run id, plus the counter deltas
read at its two boundaries. Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans. Timing a span costs two clock reads; while
    ``counting`` is on, ``read_counters`` is also called at both boundaries
    and the difference is stored on the span, so ratios are taken where the
    work happens. Counter reads fall outside the span's own interval.
    """

    def __init__(
        self,
        run_id: str,
        read_counters: Callable[[], dict[str, float]] | None = None,
    ) -> None:
        self.run_id = run_id
        self.counting = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._read = read_counters

    @contextmanager
    def span(self, name: str):
        read = self._read if self.counting else None
        before = read() if read else {}
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if read:
                after = read()
                sp.counters = {k: after[k] - before[k] for k in after}

    def children(self, parent: Span) -> list[Span]:
        return [sp for sp in self.spans if sp.parent == parent.id]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children of one parent never overlap here (one thread, nested
    ``with`` blocks), so the covered part is the sum of their durations.
    """
    out = {sp.id: sp.dur for sp in spans}
    for sp in spans:
        if sp.parent is not None:
            out[sp.parent] -= sp.dur
    return out


def layer_self_time(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer, the layer being the span name's prefix
    up to the first dot (``pipeline.gold`` -> ``pipeline``)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for sp in spans:
        layer = sp.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[sp.id]
    return out
