"""In-memory spans recorded around calls into the program's layers.

A span holds a name, the layer it times, start and end (``perf_counter``
seconds), its parent span and the id of the operation it belongs to; all
spans of one backfill, merge or query share that op id.  Spans stay in
memory and are written out once, when the run ends.

A layer's self time is the duration of its spans minus the part of each
span's interval that its child spans cover (overlapping children are
counted once).
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
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the part covered by its direct children."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(s.start, s.end, kids.get(s.id, [])) for s in spans}


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """layer -> summed self time of its spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.id]
    return out


def layer_self_times_by_kind(spans: list[Span]) -> dict[str, dict[str, float]]:
    """op kind -> layer -> summed self time, where an op's kind is the name of
    its root span (``op.<kind>``)."""
    st = self_times(spans)
    kind = {s.op_id: s.name for s in spans if s.parent is None}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        per = out.setdefault(kind.get(s.op_id, "?"), {})
        per[s.layer] = per.get(s.layer, 0.0) + st[s.id]
    return out


class Tracer:
    """Records spans; ``enabled=False`` makes every call a no-op so the
    timed runs execute the same code with tracing off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, layer: str, op_id: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer,
                  op_id if op_id is not None else (parent.op_id if parent else 0),
                  parent.id if parent else None, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump({"spans": [dict(asdict(s), self_s=st[s.id]) for s in self.spans],
                       "layer_self_s": layer_self_times(self.spans),
                       "layer_self_s_by_op": layer_self_times_by_kind(self.spans), **extra}, f, indent=1)
