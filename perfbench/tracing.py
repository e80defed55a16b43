"""Spans around the calls into the package, and a reader of Spark's event log.

Spans are recorded in memory from the benchmark's own files: `Tracer.span`
wraps a block, and `install_store_wrappers` wraps the public methods of
`StageStore` and the incremental-ingest entry points at run time (no
package file is edited). Each span sets the Spark job description to its
name and a `perfbench.span` local property to its id, so every job Spark
runs is attributed to the innermost open span. After the session stops,
`EventLog` folds the event log's task, job and SQL-execution records into
per-span totals: executor CPU and GC time, shuffle, spill and output bytes,
Python-boundary bytes, job counts and the Sort nodes of the final plans.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
SORT_NODES = {"Sort", "SortAggregate"}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans nest on the calling thread.

    `own_s` is the wall the tracer spends in its own code: span
    bookkeeping, the job labels sent to Spark, and the upsert hooks."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str):
        t = time.time()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, parent.id if parent else None, name, t)
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        self.own_s += time.time() - t
        try:
            yield s
        finally:
            s.end = t = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)
            self.own_s += time.time() - t

    def _label(self, s: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setJobDescription(s.name if s else None)
        self.sc.setLocalProperty(SPAN_PROP, str(s.id) if s else None)

    # ------------------------------------------------------------ queries
    def children(self, span_id: int | None) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def descendants(self, span_id: int) -> list[Span]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k.id for k in kids)
        return out

    def self_time(self, s: Span) -> float:
        """Span wall minus the part its children cover (children run
        sequentially on the span's thread, so their walls do not overlap)."""
        return s.wall - sum(c.wall for c in self.children(s.id))

    def named(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.descendants(within.id) if within else self.spans
        return [s for s in pool if s.name == name]


def _wrap(tracer: Tracer, owner, attr: str, name_of) -> None:
    original = getattr(owner, attr)

    def wrapped(*args, **kwargs):
        with tracer.span(name_of(args, kwargs)):
            return original(*args, **kwargs)

    wrapped.__wrapped__ = original
    setattr(owner, attr, wrapped)


def install_store_wrappers(tracer: Tracer, on_upsert=None) -> callable:
    """Wrap StageStore.{write,append_new,upsert,read,todo_keys,is_done} and
    incremental_ingest / merge_edge_deltas / _sync_canonical_state in spans.

    Span names carry the stage (`manifest.write:edges`). `on_upsert(store,
    stage, span, phase)` is called before and after each upsert with phase
    "before" / "after", for bucket-level accounting. Returns a function that
    removes the wrappers."""
    from docprocai_service_spark.sources.manifest import StageStore
    from docprocai_service_spark.streaming import incremental

    saved = []

    def stage_name(method):
        return lambda a, k: f"manifest.{method}:{a[1] if len(a) > 1 else k.get('stage')}"

    for method in ("write", "append_new", "read", "todo_keys", "is_done"):
        saved.append((StageStore, method, getattr(StageStore, method)))
        _wrap(tracer, StageStore, method, stage_name(method))

    original_upsert = StageStore.upsert
    saved.append((StageStore, "upsert", original_upsert))

    def hook(store, stage, span, phase):
        if on_upsert:
            t = time.time()
            on_upsert(store, stage, span, phase)
            tracer.own_s += time.time() - t

    def upsert(self, stage, *args, **kwargs):
        with tracer.span(f"manifest.upsert:{stage}") as s:
            hook(self, stage, s, "before")
            out = original_upsert(self, stage, *args, **kwargs)
            hook(self, stage, s, "after")
            return out

    StageStore.upsert = upsert
    for fn in ("incremental_ingest", "merge_edge_deltas", "_sync_canonical_state"):
        saved.append((incremental, fn, getattr(incremental, fn)))
        _wrap(tracer, incremental, fn, lambda a, k, fn=fn: f"incremental.{fn.lstrip('_')}")

    def uninstall():
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)

    return uninstall


def bucket_files(path: str) -> dict[str, dict[str, int]]:
    """{bucket dir: {file name: size}} of a bucketed stage directory."""
    out = {}
    for d in glob.glob(os.path.join(path, "__bucket=*")):
        out[os.path.basename(d)] = {
            f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if not f.startswith(".")
        }
    return out


# --------------------------------------------------------------- event log
def _count_sort_nodes(plan: dict) -> int:
    n = 1 if plan.get("nodeName") in SORT_NODES else 0
    return n + sum(_count_sort_nodes(c) for c in plan.get("children", []))


@dataclass
class Totals:
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    python_bytes_in: int = 0
    jobs: int = 0
    sort_nodes: int = 0

    def add(self, other: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class EventLog:
    """Per-span totals folded from a Spark event log directory."""

    def __init__(self, log_dir: str):
        self.per_span: dict[int, Totals] = {}
        # (span id, start s, end s) per SQL execution
        self.executions: list[tuple[int, float, float]] = []
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        files += sorted(
            f for f in glob.glob(os.path.join(log_dir, "*"))
            if os.path.isfile(f) and not os.path.basename(f).startswith(".")
        )
        stage_span: dict[int, int] = {}
        exec_span: dict[int, int] = {}
        exec_start: dict[int, float] = {}
        exec_plan: dict[int, dict] = {}
        exec_end: dict[int, float] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    self._fold(json.loads(line), stage_span, exec_span, exec_start, exec_plan, exec_end)
        for eid, plan in exec_plan.items():
            sid = exec_span.get(eid)
            if sid is not None:
                self._totals(sid).sort_nodes += _count_sort_nodes(plan)
        for eid, start in exec_start.items():
            sid = exec_span.get(eid)
            if sid is not None and eid in exec_end:
                self.executions.append((sid, start, exec_end[eid]))
        self.executions.sort(key=lambda e: e[1])

    def _totals(self, span_id: int) -> Totals:
        return self.per_span.setdefault(span_id, Totals())

    def _fold(self, ev, stage_span, exec_span, exec_start, exec_plan, exec_end) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sid = props.get(SPAN_PROP)
            if sid is None:
                return
            sid = int(sid)
            self._totals(sid).jobs += 1
            for st in ev.get("Stage IDs", []):
                stage_span[st] = sid
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), sid)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if sid is None or not m:
                return
            t = self._totals(sid)
            t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            t.gc_s += m.get("JVM GC Time", 0) / 1e3
            t.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            t.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            t.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == "data sent to Python workers":
                    t.python_bytes_in += int(acc.get("Update", 0))
        elif kind.endswith("SQLExecutionStart"):
            eid = ev["executionId"]
            exec_start[eid] = ev["time"] / 1e3
            exec_plan[eid] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            exec_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
        elif kind.endswith("SQLExecutionEnd"):
            exec_end[ev["executionId"]] = ev["time"] / 1e3

    def totals(self, tracer: Tracer, span: Span) -> Totals:
        """Totals of the jobs run under `span` and its descendants."""
        out = Totals()
        ids = [span.id] + [d.id for d in tracer.descendants(span.id)]
        for i in ids:
            if i in self.per_span:
                out.add(self.per_span[i])
        return out

    def next_execution_wall(self, span: Span) -> float:
        """Wall of the first SQL execution that starts after `span` ends
        under the span's parent: the action that consumes a lazy plan the
        span returned (e.g. the anti-join `todo_keys` builds)."""
        for sid, start, end in self.executions:
            if sid == span.parent and start >= span.end - 1e-3:
                return end - start
        return 0.0
