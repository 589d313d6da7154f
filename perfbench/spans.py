"""Outside-in span recorder and the arithmetic that turns spans into
per-layer metrics.

``Recorder.install`` wraps every public function of each layer module by
rebinding module attributes — in the layer module itself and in every
other loaded ``anovos_spark`` module that imported the function by name —
so no engine file changes.  A span covers the call and, when the caller
sits in another layer, a forced materialization of the DataFrames the
call returned, so executed work lands on the operator that planned it
rather than on whatever action runs next.

Spans are kept in memory; ``layer_metrics`` reduces one pass's spans,
together with the Spark jobs and the Python-worker CPU timeline recorded
over the same interval, to per-layer numbers.  It imports nothing from
pyspark, so the self-time arithmetic is testable on synthetic spans.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

# layer name -> module; the layer is the module path below ``anovos_spark``
LAYERS = (
    "core.session",
    "sources.io",
    "plans.pipeline",
    "plans.report_frames",
    "operators.quality",
    "operators.stats",
    "operators.transformers",
    "operators.association",
    "operators.varclus",
    "operators.drift",
    "operators.transformers_ml",
    "operators.featrec",
    "operators.similarity",
    "operators.text",
    "operators.dedup",
    "operators.ingest",
    "operators.temporal",
    "operators.constraints",
    "streaming.ops",
)
# the benchmark's own span around each registry query call
QUERY_LAYER = "queries"


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _force(out) -> None:
    """Materialize every batch DataFrame in ``out`` (or in the tuple or list
    it returned) without collecting it; wait for a returned streaming
    query, which the benchmark only starts with an availableNow trigger."""
    from pyspark.sql import DataFrame
    from pyspark.sql.streaming import StreamingQuery

    for item in out if isinstance(out, (tuple, list)) else (out,):
        if isinstance(item, DataFrame) and not item.isStreaming:
            item.write.format("noop").mode("overwrite").save()
        elif isinstance(item, StreamingQuery):
            item.awaitTermination()


class Recorder:
    def __init__(self, force=_force):
        self.spans: list[Span] = []
        self.active = False
        self._force = force
        self._stack: list[int] = []

    # ---- recording ------------------------------------------------------ #
    def open(self, layer: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, name, time.time(), parent=parent))
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span of ``layer``."""
        if not self.active:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        idx = self.open(layer, name)
        try:
            out = fn(*args, **kwargs)
            if parent is None or self.spans[parent].layer != layer:
                self._force(out)
            return out
        finally:
            self.close(idx)

    def take(self) -> list[Span]:
        spans, self.spans = self.spans, []
        return spans

    # ---- installing wrappers -------------------------------------------- #
    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(layer, fn.__name__, fn, *args, **kwargs)

        traced.__wrapped_layer__ = layer
        return traced

    def install(self, layers=LAYERS) -> int:
        """Wrap the public functions of every layer module; returns how many
        functions were wrapped."""
        import importlib

        originals: dict[int, object] = {}
        for layer in layers:
            mod = importlib.import_module(f"anovos_spark.{layer}")
            for name, obj in list(vars(mod).items()):
                if (
                    inspect.isfunction(obj)
                    and not name.startswith("_")
                    and obj.__module__ == mod.__name__
                    and not hasattr(obj, "__wrapped_layer__")  # wrapped already
                ):
                    originals[id(obj)] = self._wrap(layer, obj)
        # rebind every reference a loaded engine module holds by name
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("anovos_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None:
                    setattr(mod, name, wrapped)
        return len(originals)


# ---- span arithmetic ---------------------------------------------------- #
def self_segments(spans: list[Span]) -> list[tuple[float, float, int]]:
    """Disjoint (start, end, span index) pieces: each span's interval minus
    the intervals of its children.  Their lengths sum to the roots'
    durations."""
    out = []
    for i, s in enumerate(spans):
        cursor = s.start
        for c in sorted(s.children, key=lambda i: spans[i].start):
            child = spans[c]
            if child.start > cursor:
                out.append((cursor, child.start, i))
            cursor = max(cursor, child.end)
        if s.end > cursor:
            out.append((cursor, s.end, i))
    return out


def function_self_s(spans: list[Span]) -> dict[str, float]:
    """Self time per ``layer:function``."""
    out: dict[str, float] = {}
    for a, b, i in self_segments(spans):
        key = f"{spans[i].layer}:{spans[i].name}"
        out[key] = out.get(key, 0.0) + (b - a)
    return out


def _overlap(a0: float, a1: float, b0: float, b1: float) -> float:
    return max(0.0, min(a1, b1) - max(a0, b0))


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def layer_metrics(
    spans: list[Span],
    jobs: list[dict],
    cpu_timeline: list[tuple[float, float]],
    pass_start: float,
    pass_end: float,
) -> dict[str, dict[str, float]]:
    """Per-layer ``wall_s``, ``self_s``, ``driver_s``, ``jobs``,
    ``shuffle_write_mb`` and ``py_worker_cpu_s`` for one pass, plus a
    ``pass`` entry whose ``driver_s`` is the pass time outside every span.

    - wall: spans not nested in a span of the same layer (inclusive time);
    - self: span time minus the time of its child spans;
    - driver: self time during which no Spark job was running;
    - jobs and shuffle bytes: the innermost span open at job submission;
    - worker CPU: each sampling interval's CPU split over the self
      segments it overlaps, in proportion to the overlap.
    """
    out: dict[str, dict[str, float]] = {}

    def acc(layer: str, key: str, value: float) -> None:
        m = out.setdefault(layer, {
            "wall_s": 0.0, "self_s": 0.0, "driver_s": 0.0,
            "jobs": 0, "shuffle_write_mb": 0.0, "py_worker_cpu_s": 0.0,
        })
        m[key] += value

    for s in spans:
        p, nested = s.parent, False
        while p is not None and not nested:
            nested = spans[p].layer == s.layer
            p = spans[p].parent
        if not nested:
            acc(s.layer, "wall_s", s.duration)

    segs = [(a, b, spans[i].layer) for a, b, i in self_segments(spans)]
    busy = _union([(j["start"], j["end"] or pass_end) for j in jobs])
    for a, b, layer in segs:
        acc(layer, "self_s", b - a)
        running = sum(_overlap(a, b, j0, j1) for j0, j1 in busy)
        acc(layer, "driver_s", (b - a) - running)
    for j in jobs:
        owner = next((lay for a, b, lay in segs if a <= j["start"] < b), "pass")
        acc(owner, "jobs", 1)
        acc(owner, "shuffle_write_mb", j["shuffle_write_bytes"] / 1e6)
    for (t0, c0), (t1, c1) in zip(cpu_timeline, cpu_timeline[1:]):
        if t1 <= t0 or c1 <= c0:
            continue
        rate = (c1 - c0) / (t1 - t0)
        for a, b, layer in segs:
            ov = _overlap(t0, t1, a, b)
            if ov:
                acc(layer, "py_worker_cpu_s", rate * ov)

    covered = sum(b - a for a, b in _union([(a, b) for a, b, _ in segs]))
    acc("pass", "wall_s", pass_end - pass_start)
    acc("pass", "driver_s", (pass_end - pass_start) - covered)
    return out
