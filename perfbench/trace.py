"""In-memory spans around the benchmark's calls into each layer.

A span has a name (``layer:call``), start and end (perf_counter seconds),
its parent span and the run id shared by one workload run. While a span is
open its Spark jobs run under the job group ``<run id>:<span id>``, so the
Spark metrics harvest can attribute stages to spans. Spans stay in memory;
``layer_table`` folds them into self times when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.id}"


class Tracer:
    """Records spans when enabled; when disabled ``span`` only yields, so
    the traced and untraced loops run the same code."""

    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def layer_table(spans: list[Span], roots: list[Span]) -> dict:
    """Per-call totals and self times (duration minus the child spans it
    covers) for the trees under ``roots``. The roots' own self time is the
    unattributed remainder, so the self times of all rows plus
    ``unattributed_s`` equal ``wall_s`` (the roots' summed duration)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def self_time(s: Span) -> float:
        return s.seconds - sum(c.seconds for c in children.get(s.id, []))

    rows: dict[str, dict] = {}
    todo = [c for r in roots for c in children.get(r.id, [])]
    while todo:
        s = todo.pop()
        r = rows.setdefault(s.name, {"call": s.name, "layer": s.name.split(":")[0],
                                     "calls": 0, "total_s": 0.0, "self_s": 0.0})
        r["calls"] += 1
        r["total_s"] += s.seconds
        r["self_s"] += self_time(s)
        todo.extend(children.get(s.id, []))
    table = sorted(rows.values(), key=lambda r: -r["self_s"])
    return {
        "wall_s": sum(r.seconds for r in roots),
        "unattributed_s": sum(self_time(r) for r in roots),
        "attributed_self_s": sum(r["self_s"] for r in table),
        "rows": table,
    }


def format_table(name: str, t: dict) -> str:
    lines = [f"layer table: {name}  wall {t['wall_s']:.3f} s",
             f"  {'call':48s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s}"]
    for r in t["rows"]:
        lines.append(f"  {r['call']:48s} {r['calls']:6d} {r['total_s']:9.3f} {r['self_s']:9.3f}")
    lines.append(f"  {'(unattributed)':48s} {'':6s} {'':9s} {t['unattributed_s']:9.3f}")
    lines.append(f"  self times + unattributed = {t['attributed_self_s'] + t['unattributed_s']:.3f} s")
    return "\n".join(lines)
