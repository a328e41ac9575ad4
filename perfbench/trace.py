"""Spans and Spark status-store counters for the traced run.

Spans are recorded by the benchmark around each call it makes into a
layer's public functions; nothing inside the engine is instrumented.
They stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

# Status-store fields summed per op: name -> (StageData getter, scale).
_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "run_ms": ("executorRunTime", 1),
    "cpu_ms": ("executorCpuTime", 1e-6),  # reported in ns
    "gc_ms": ("jvmGcTime", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}
EXEC_COUNTERS = ("stages",) + tuple(_STAGE_FIELDS)


class StageCounters:
    """Diffs Spark's status store around a call.

    Works with the UI off. Stage ids only grow, so the stages a call
    ran are the completed ones whose id exceeds the highest id seen
    before it. The listener bus is drained before each read, because
    the store is filled asynchronously from it.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_id = self._max_stage_id()

    def _stages(self):
        self._bus.waitUntilEmpty()
        # Spark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); null lists mean "all".
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def _max_stage_id(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def take(self) -> dict[str, float]:
        """Counters of the stages completed since the previous take."""
        out = dict.fromkeys(EXEC_COUNTERS, 0)
        stages = self._stages()
        last = self._last_id
        # the list comes newest stage first, so stop at the first
        # stage already seen: py4j round trips stay per new stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= last:
                break
            self._last_id = max(self._last_id, sid)
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            for name, (getter, scale) in _STAGE_FIELDS.items():
                out[name] += getattr(s, getter)() * scale
        return out


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    enabled = False

    def span(self, name: str, layer: str, **attrs):
        return contextlib.nullcontext()


class Tracer:
    """In-memory spans: name, layer, start, end, parent span, op id."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "layer": layer, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per-layer self time summed over the spans of ops: each span's
        duration minus the part its children cover (children of one
        span never overlap here)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["op"] is not None:
                out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
