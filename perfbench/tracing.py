"""Spans recorded from outside the engine, and Spark counters attributed to them.

A traced run wraps selected public functions of the engine's modules. Each
wrapper opens a span, sets the Spark job description to the span's id, calls
the original, and forces the result (cache + count) inside the span, so a
layer's lazy plan runs on its own and later layers read its cached output.
Spans nest through the real call graph. After the run the Spark event log is
parsed and every job, stage and task is attributed to the span whose id was
the job description when it ran.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import glob
import json
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
    "FlatMapGroupsInArrow",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def tag(self) -> str:
        return f"{self.name}#{self.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of it its children cover.

    Children may overlap each other; only the union of their intervals,
    clipped to the parent, is subtracted.
    """
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def self_by_name(spans: list[Span], fold: frozenset[str] = frozenset()) -> dict[str, float]:
    """Self time summed per span name. A span whose name is in ``fold``
    counts toward its nearest ancestor whose name is not."""
    st = self_times(spans)
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        owner = s
        while owner.name in fold and owner.parent is not None:
            owner = by_id[owner.parent]
        out[owner.name] += st[s.id]
    return dict(out)


def descendants_of(spans: list[Span], root: int) -> set[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out, stack = set(), [root]
    while stack:
        i = stack.pop()
        out.add(i)
        stack.extend(kids[i])
    return out


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional so the
    arithmetic can be tested without Spark."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _describe(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(span.tag if span else None)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, self.clock())
        self.spans.append(span)
        self._stack.append(span)
        self._describe(span)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        if self._stack.pop() is not span:
            raise RuntimeError("spans must close in LIFO order")
        self._describe(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)


# -- wrapping engine functions --------------------------------------------------


def materialize(result, span: Span, keep: list):
    """Force a DataFrame or RasterFrame result: cache it and count its rows."""
    from pyspark.sql import DataFrame

    df = result.df if hasattr(result, "df") and hasattr(result, "meta") else result
    if not isinstance(df, DataFrame) or df.isStreaming:
        return result  # a streaming plan runs in its query, not in this span
    df = df.cache()
    span.counts["rows"] = span.counts.get("rows", 0) + df.count()
    keep.append(df)
    if df is result:
        return df
    return type(result)(df, result.meta, result.raster_id)


class Instrument:
    """Replaces module functions with span-recording wrappers and undoes it.

    ``patch(module, attr, name)`` swaps ``module.attr`` and every other
    reference to the same function object held by a loaded ``rastr_spark``
    module (``from x import f`` binds the function at import time).
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.cached: list = []
        self._undo: list[tuple[object, str, object]] = []

    def swap(self, orig, wrapper) -> None:
        """Replace every rastr_spark module reference to ``orig``."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("rastr_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, attr, orig))
                    setattr(mod, attr, wrapper)

    def patch(self, module, attr: str, name: str, *, force: bool = True) -> None:
        orig = getattr(module, attr)
        tracer, cached = self.tracer, self.cached

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as span:
                out = orig(*args, **kwargs)
                return materialize(out, span, cached) if force else out

        self.swap(orig, wrapper)

    def patch_method(self, cls, attr: str, caller_module: str, hook) -> None:
        """Route ``cls.attr`` calls made from ``caller_module`` through
        ``hook(orig, self_obj, *args, **kwargs)``; other callers are untouched.
        ``cls`` must be the concrete class (pyspark's classic DataFrame, not
        the abstract ``pyspark.sql.DataFrame``)."""
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            if sys._getframe(1).f_globals.get("__name__") == caller_module:
                return hook(orig, obj, *args, **kwargs)
            return orig(obj, *args, **kwargs)

        self._undo.append((cls, attr, orig))
        setattr(cls, attr, wrapper)

    def restore(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


# -- Spark event log ------------------------------------------------------------


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exchanges: int = 0
    python_nodes: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    gc_ms: int = 0
    executor_cpu_ns: int = 0
    to_python_b: int = 0
    from_python_b: int = 0
    task_ms: dict = field(default_factory=lambda: defaultdict(list))  # stage → task durations

    def add(self, other: "Counters") -> None:
        for f in dataclasses.fields(self):
            if f.name != "task_ms":
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        for st, ds in other.task_ms.items():
            self.task_ms[st].extend(ds)


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


def _span_id(desc: str | None, aliases: dict[str, int]) -> int | None:
    if not desc:
        return None
    for key, span in aliases.items():
        if key in desc:
            return span
    if "#" not in desc:
        return None
    tail = desc.rsplit("#", 1)[1]
    return int(tail) if tail.isdigit() else None


def read_event_log(path: str) -> list[dict]:
    events = []
    for f in sorted(glob.glob(f"{path}/*")):
        if f.endswith(".inprogress") or f.rsplit("/", 1)[-1].startswith("."):
            continue
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def attribute(events: list[dict], aliases: dict[str, int] | None = None) -> dict[int | None, Counters]:
    """Span id → Counters of the work Spark ran while that span was innermost.

    Jobs and stages carry the job description in their properties; tasks are
    attributed through their stage; SQL plans through the execution's
    description (the final adaptive plan replaces the initial one). A
    streaming query sets its own description on its micro-batch jobs;
    ``aliases`` maps a text in such a description (its run id) to a span.
    """
    aliases = aliases or {}
    out: dict[int | None, Counters] = defaultdict(Counters)
    stage_span: dict[int, int | None] = {}
    plans: dict[int, dict] = {}
    exec_span: dict[int, int | None] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            out[_span_id(e.get("Properties", {}).get("spark.job.description"), aliases)].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            stage_span[sid] = _span_id((e.get("Properties") or {}).get("spark.job.description"), aliases)
        elif kind == "SparkListenerStageCompleted":
            out[stage_span.get(e["Stage Info"]["Stage ID"])].stages += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_span.get(e["Stage ID"])]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            c.tasks += 1
            c.task_ms[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            c.executor_cpu_ns += m.get("Executor CPU Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            c.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == "data sent to Python workers":
                    c.to_python_b += int(acc["Update"])
                elif name == "data returned from Python workers":
                    c.from_python_b += int(acc["Update"])
        elif kind.endswith("SQLExecutionStart"):
            plans[e["executionId"]] = e["sparkPlanInfo"]
            exec_span[e["executionId"]] = _span_id(e.get("description"), aliases)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e["sparkPlanInfo"]
    # A cached table's plan shows up under every scan of the cache; a node is
    # counted once, identified by its metrics' accumulator ids.
    seen: set = set()
    for ex, plan in sorted(plans.items()):
        c = out[exec_span.get(ex)]
        for node in _walk(plan):
            key = tuple(sorted(m["accumulatorId"] for m in node.get("metrics", [])))
            if key and key in seen:
                continue
            seen.add(key)
            c.exchanges += node["nodeName"] == "Exchange"
            c.python_nodes += node["nodeName"] in PYTHON_NODES
    return dict(out)


def task_skew(task_ms: dict) -> float:
    """max/median task time of the stage with the most total task time."""
    if not task_ms:
        return 0.0
    ds = max(task_ms.values(), key=sum)
    med = statistics.median(ds)
    return max(ds) / med if med > 0 else float(max(ds) > 0)
