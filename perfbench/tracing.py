"""Spans around the engine's layer calls, and Spark's own counters.

The benchmark times each layer from outside: it wraps the public
functions of ``sources``, ``operators``, ``pipeline`` and the artifact
store at every module binding, records one span per call in memory, and
labels the Spark jobs each span launches with ``setJobGroup`` so the
session's event log can be folded back onto spans. An untraced run
installs no wrapper and records nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "energy_data_pipeline_project_spark"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    tag: str = ""


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, hi = 0.0, None
    for lo, end in sorted(intervals):
        if hi is None or lo > hi:
            total += end - lo
            hi = end
        elif end > hi:
            total += end - hi
            hi = end
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (or run past the parent), so the
    covered part is the union of the child intervals clipped to the
    parent, not the sum of child durations."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {
        s.sid: (s.end - s.start) - covered(
            (max(k.start, s.start), min(k.end, s.end))
            for k in kids[s.sid] if min(k.end, s.end) > max(k.start, s.start)
        )
        for s in spans
    }


@dataclass
class Tracer:
    """In-memory span recorder. While ``enabled`` is false its wrappers
    call straight through and record nothing, so a traced run can
    interleave untraced passes with traced ones."""

    sc: object = None  # SparkContext whose job group follows the open span
    spans: list[Span] = field(default_factory=list)
    op: str = "setup"
    enabled: bool = True
    _stack: list[Span] = field(default_factory=list)

    def set_enabled(self, on: bool) -> None:
        self.enabled = on
        if on:
            self._label()
        elif self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_id(self, span: Span | None) -> str:
        return f"{self.op}|{span.name if span else '-'}|{span.sid if span else -1}"

    def _label(self) -> None:
        if self.sc is not None:
            top = self._stack[-1] if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", self.group_id(top))

    def begin(self, name: str, tag: str = "") -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.op, tag)
        self.spans.append(s)
        self._stack.append(s)
        self._label()
        return s

    def end(self, s: Span) -> None:
        s.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not s:
            raise RuntimeError(f"span {s.name} closed out of order")
        self._label()

    def span(self, name: str, tag: str = ""):
        return self._span(name, tag) if self.enabled else contextlib.nullcontext()

    @contextlib.contextmanager
    def _span(self, name: str, tag: str):
        s = self.begin(name, tag)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, fn, name: str, tag_of=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            s = self.begin(name, tag_of(args, kwargs) if tag_of else "")
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)

        traced.__wrapped_original__ = fn
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def wrap_everywhere(tracer: Tracer, owner, attr: str, name: str, tag_of=None) -> list[str]:
    """Replace ``owner.attr`` with a traced wrapper at every binding in
    the engine's loaded modules (``from x import f`` copies the function
    into the importer, so patching the defining module alone misses
    those calls). Modules imported later get the wrapper from the
    defining module. Returns the ``module.name`` bindings replaced."""
    orig = getattr(owner, attr)
    wrapper = tracer.wrap(orig, name, tag_of)
    done = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for key, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, key, wrapper)
                done.append(f"{mod_name}.{key}")
    return done


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
SPARK_COUNTERS = {  # name -> unit, per job group
    "jobs": "count", "stages": "count", "tasks": "count",
    "run_ms": "ms", "cpu_ms": "ms", "gc_ms": "ms",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "aqe_updates": "count",
}


def fold_event_log(lines) -> dict[str, dict[str, float]]:
    """Spark counters per job group from an uncompressed event log.

    Jobs carry their group in ``Properties``; a stage belongs to the
    first job that lists it; AQE re-plans belong to the group of the
    SQL execution they update."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    aqe: dict[int, int] = defaultdict(int)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys([*SPARK_COUNTERS, "cpu_ns"], 0)
    )
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id", "")
            job_group[ev["Job ID"]] = g
            out[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"], "")
            c = out[g]
            c["stages"] += 1
            c["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                key = _STAGE_METRICS.get(acc.get("Name"))
                if key:
                    c[key] += int(acc.get("Value") or 0)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            aqe[int(ev["executionId"])] += 1
    for eid, n in aqe.items():
        out[exec_group.get(eid, "")]["aqe_updates"] += n
    for c in out.values():
        c["cpu_ms"] += c.pop("cpu_ns", 0) / 1e6
    return dict(out)
