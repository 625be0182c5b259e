"""Spans and layer wrappers for the traced run.

The benchmark records spans from its own code, around the program's public
calls: for the traced run it swaps each layer's public function (a module
attribute the pipeline looks up at call time) for a wrapper that

1. opens a span named after the layer and sets the Spark job group to the
   layer, so every job the call or its forcing submits is attributed to it;
2. calls the original function;
3. forces the lazy output (`localCheckpoint(eager=True)` plus a count) in a
   child span `<layer>:force`, so the next layer reads materialized data and
   none of this layer's work lands in the next one's jobs.

Spans live in memory and are written out when the run ends. A span's self
time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass

FORCE = ":force"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    run_id: str


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]
        self.rows: dict[str, int] = {}      # rows out of each wrapped function
        self.counts: dict[str, int] = {}    # named counters taken at layer boundaries

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, f"dedupbench {group}")

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        if group is not None:
            self._groups.append(group)
            self._set_group(group)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._groups.pop()
                self._set_group(self._groups[-1])

    def layer_times(self) -> dict[str, dict[str, float]]:
        """{layer: {wall_s, self_s}}. wall_s excludes time inside nested
        spans of OTHER layers (an enclosing layer gives its children's time
        to them); self_s additionally excludes the layer's own forcing."""
        child_time: dict[int, float] = {}
        other_layer_time: dict[int, float] = {}
        for span in self.spans:
            if span.parent is None:
                continue
            d = span.end - span.start
            child_time[span.parent] = child_time.get(span.parent, 0.0) + d
            if not span.name.endswith(FORCE):
                other_layer_time[span.parent] = other_layer_time.get(span.parent, 0.0) + d
        out: dict[str, dict[str, float]] = {}
        for i, span in enumerate(self.spans):
            if span.name.endswith(FORCE):
                continue
            d = span.end - span.start
            row = out.setdefault(span.name, {"wall_s": 0.0, "self_s": 0.0})
            row["wall_s"] += d - other_layer_time.get(i, 0.0)
            row["self_s"] += d - child_time.get(i, 0.0)
        return out

    def as_records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]

    def wrap(self, module, name: str, layer: str, after=None):
        """Context manager: module.name is traced as `layer` while open.
        The forced output's row count lands in rows[name]; after(out) takes
        extra counts on it, inside the layer's job group."""
        original = getattr(module, name)

        def traced(*args, **kwargs):
            with self.span(layer, group=layer):
                out = original(*args, **kwargs)
                with self.span(layer + FORCE):
                    out = out.localCheckpoint(eager=True)
                    self.rows[name] = out.count()
                    if after is not None:
                        after(out)
            return out

        return patched(module, name, traced)

    def counter(self, module, name: str, key: str):
        """Context manager: counts calls of module.name into counts[key]."""
        original = getattr(module, name)

        def counted(*args, **kwargs):
            self.counts[key] = self.counts.get(key, 0) + 1
            return original(*args, **kwargs)

        return patched(module, name, counted)


@contextlib.contextmanager
def patched(module, name: str, replacement):
    """module.name is `replacement` while the context is open."""
    original = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield
    finally:
        setattr(module, name, original)
