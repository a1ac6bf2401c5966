"""Tracing from outside the program: spans, counts, Spark job attribution.

A :class:`Tracer` keeps every span (name, start, end, parent, run id) and
every count in memory and writes them out once, at the end of the run.
Spans come from three places, all outside the package:

- :func:`wrap_layers` replaces the public functions of ``sources``,
  ``functions``, ``operators`` and ``pipelines`` (and
  ``Warehouse.overwrite``) with timing wrappers, wherever the package
  holds a reference to them;
- the workloads open spans around each operation and its phases, and
  tag the Spark work of each phase with ``setJobGroup``, whose jobs
  ``statusTracker()`` then counts;
- :class:`StreamProgress` is a ``StreamingQueryListener`` that keeps the
  progress of every micro-batch.

After the session stops, :func:`read_event_log` reads Spark's event log
(enabled through ``get_spark(extra_conf=...)``) for per-job stages,
tasks, scan, shuffle and spill bytes, and each job is charged to the
innermost span open when it was submitted.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "aqi_analysis_apache_airflow_spark"

#: Modules whose public functions get a span, by layer.
LAYER_MODULES = {
    "sources": ["sources.readers"],
    "functions": ["functions.materialize", "functions.spread", "functions.graph"],
    "operators": ["operators.merge", "operators.dedupe", "operators.filters"],
    "pipelines": ["pipelines.metadata", "pipelines.source_to_stage",
                  "pipelines.stage_to_nds"],
}


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    jobs: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self.sc = None  # SparkContext, set once the session exists

    def span(self, name: str, group: bool = False):
        return _SpanCtx(self, name, group)

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for k in sorted(kids[s.sid], key=lambda k: k.start):
                lo, hi = max(k.start, edge), min(k.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.sid] = (s.end - s.start) - covered
        return out

    def totals(self, prefix: str) -> tuple[int, float, float]:
        """(calls, inclusive seconds, self seconds) of spans named ``prefix``*.
        Inclusive time counts only outermost spans of the prefix, so a
        recursive call is not counted twice."""
        by_id = {s.sid: s for s in self.spans}
        selfs = self.self_times()
        calls, incl, own = 0, 0.0, 0.0
        for s in self.spans:
            if not s.name.startswith(prefix):
                continue
            calls += 1
            own += selfs[s.sid]
            p = by_id.get(s.parent)
            while p is not None and not p.name.startswith(prefix):
                p = by_id.get(p.parent)
            if p is None:
                incl += s.end - s.start
        return calls, incl, own

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.sid, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "self_s": selfs[s.sid], "jobs": s.jobs,
                }) + "\n")
            f.write(json.dumps({"run": self.run_id, "counts": dict(self.counts),
                                **extra}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, group: bool):
        self.t, self.name, self.group = tracer, name, group

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1].sid if t._stack else None
        s = Span(len(t.spans), self.name, 0.0, parent=parent)
        t.spans.append(s)
        t._stack.append(s)
        if self.group and t.sc is not None:
            s.group = f"{t.run_id}:{s.sid}"
            self._prev = t.sc.getLocalProperty("spark.jobGroup.id")
            t.sc.setJobGroup(s.group, self.name)
        s.start = time.time()
        self.s = s
        return s

    def __exit__(self, *exc) -> None:
        s, t = self.s, self.t
        s.end = time.time()
        t._stack.pop()
        if s.group is not None:
            s.jobs = list(t.sc.statusTracker().getJobIdsForGroup(s.group))
            if self._prev:
                t.sc.setJobGroup(self._prev, "")
            else:
                t.sc.setLocalProperty("spark.jobGroup.id", None)
                t.sc.setLocalProperty("spark.job.description", None)


def _wrapper(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)  # keeps __module__/__qualname__: pickled by reference
    def traced(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if name.endswith("spread_if_narrow") and args and out is not args[0]:
            tracer.count(name + ".fired")
        return out

    return traced


def wrap_layers(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap every public function of :data:`LAYER_MODULES` and
    ``Warehouse.overwrite``; return what to put back with :func:`unwrap`."""
    originals = {}
    for layer, mods in LAYER_MODULES.items():
        for short in mods:
            mod = sys.modules.get(f"{PKG}.{short}")
            if mod is None:
                __import__(f"{PKG}.{short}")
                mod = sys.modules[f"{PKG}.{short}"]
            for attr, fn in vars(mod).items():
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                # the layer's own names: sources.load_table, pipelines.set_cet,
                # functions.materialize.pin, operators.merge.merge_upsert
                module = short.split(".")[-1]
                name = (f"{layer}.{attr}" if layer in ("sources", "pipelines")
                        else f"{layer}.{module}.{attr}")
                originals[id(fn)] = (fn, _wrapper(tracer, name, fn))
    undo = []
    for mod in [m for n, m in sys.modules.items() if n.startswith(PKG) and m]:
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                undo.append((mod, attr, val))
    from aqi_analysis_apache_airflow_spark.pipelines.warehouse import Warehouse

    orig = Warehouse.overwrite

    @functools.wraps(orig)
    def overwrite(self, df, table):
        with tracer.span("pipelines.warehouse.overwrite"):
            with tracer.span("pipelines.warehouse.plan"):
                df._jdf.queryExecution().executedPlan()
            orig(self, df, table)
        tracer.count("pipelines.warehouse.bytes_written", _dir_bytes(self.path(table)))

    Warehouse.overwrite = overwrite
    undo.append((Warehouse, "overwrite", orig))
    return undo


def unwrap(undo) -> None:
    for obj, attr, val in reversed(undo):
        setattr(obj, attr, val)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if not f.startswith(".")
    )


def stream_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that records each micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            c = tracer.count
            c("streaming.batches")
            c("streaming.input_rows", p.numInputRows or 0)
            c("streaming.trigger_ms", d.get("triggerExecution", 0))
            c("streaming.add_batch_ms", d.get("addBatch", 0))
            c("streaming.query_planning_ms", d.get("queryPlanning", 0))
            for op in p.stateOperators or []:
                c("streaming.state_rows", op.numRowsTotal or 0)
                c("streaming.state_memory_bytes", op.memoryUsedBytes or 0)
                c("streaming.late_rows_dropped", op.numRowsDroppedByWatermark or 0)

    return StreamProgress()


@dataclass
class JobStats:
    job: int
    group: str | None
    submitted: float  # epoch seconds
    stages: int = 0
    tasks: int = 0
    scan_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job stage, task and byte totals from the newest event log in
    ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        return []
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = JobStats(ev["Job ID"],
                             (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                             ev["Submission Time"] / 1000.0)
                jobs[j.job] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, j.job)
            elif kind == "SparkListenerStageCompleted":
                j = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if j is not None:
                    j.stages += 1
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics") or {}
                if j is None:
                    continue
                j.tasks += 1
                j.scan_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    return list(jobs.values())


def charge_jobs(tracer: Tracer, jobs: list[JobStats]) -> dict[int, list[JobStats]]:
    """Map span id → jobs submitted while it was the innermost open span;
    a job submitted outside every span falls back to its job-group tag."""
    by_group = {s.group: s for s in tracer.spans if s.group}
    out: dict[int, list[JobStats]] = defaultdict(list)
    ordered = sorted(tracer.spans, key=lambda s: s.start)
    for j in jobs:
        best = None
        for s in ordered:
            if s.start > j.submitted:
                break
            if s.end >= j.submitted and (best is None or s.start >= best.start):
                best = s
        if best is None and j.group in by_group:
            best = by_group[j.group]
        if best is not None:
            out[best.sid].append(j)
    return out
