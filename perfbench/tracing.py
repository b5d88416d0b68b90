"""Traced-run tooling: spans around the package's public functions,
Spark event-log aggregation, job-to-operation attribution and a
streaming progress listener.

Spans are recorded from outside the package: ``Tracer.install`` wraps
every public module-level function of the traced modules and rebinds
each name that refers to it in every loaded package module, so calls
between modules are seen too.  A span is ``(id, name, layer, start,
end, parent, op)``; ``op`` is the benchmark operation running when the
span opened.  Self time is a span's duration minus its children's.

Spark jobs are tied to operations by time, not by job group, because
micro-batch jobs run on the stream's own thread where the client's job
group does not apply.
"""

from __future__ import annotations

import bisect
import functools
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "sync_cosmos_db_spark"

#: Traced modules -> layer name (``operators.*`` is expanded per module).
LAYERS = {
    f"{PKG}.session": "session",
    f"{PKG}.cache_scope": "cache_scope",
    f"{PKG}.sources.catalog": "sources.catalog",
    f"{PKG}.document_model": "document_model",
    f"{PKG}.migration": "migration",
    f"{PKG}.sanitizer": "sanitizer",
    f"{PKG}.sinks": "sinks",
    f"{PKG}.orchestrator": "orchestrator",
    f"{PKG}.streaming.incremental": "streaming.incremental",
    f"{PKG}.streaming.stateful": "streaming.stateful",
    f"{PKG}.streaming.windows": "streaming.windows",
}


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (NumPy's
    default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    thread: int = 0


class _Traced:
    """Callable stand-in for a traced function.  Pickles as a reference
    to the module attribute, so a worker that imports the module gets
    the original function, never the tracer."""

    def __init__(self, tracer: "Tracer", fn, layer: str, name: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._layer, self._name = (
            tracer, fn, layer, name)

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return self._fn.__name__


@dataclass
class Tracer:
    """Span recorder.  A span opened on another thread with no open
    span of its own (a micro-batch on the stream's thread) gets the
    innermost open span of the thread that created the tracer as its
    parent, so the caller's self time excludes it."""
    spans: list[Span] = field(default_factory=list)
    op: int | None = None
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list[tuple] = field(default_factory=list)
    _main_stack: list[Span] = field(default_factory=list)

    def __post_init__(self):
        self._local.stack = self._main_stack

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def _open(self, name: str, layer: str) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        outer = stack or self._main_stack
        with self._lock:
            sp = Span(len(self.spans), name, layer, time.time(),
                      parent=outer[-1].id if outer else None, op=self.op,
                      thread=threading.get_ident())
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._local.stack.pop()

    def install(self) -> int:
        """Wrap the public functions of every traced module; returns how
        many functions were wrapped."""
        mods = {m: LAYERS.get(m) for m in list(sys.modules)
                if m in LAYERS or m.startswith(f"{PKG}.operators.")}
        originals = {}
        for mod_name, layer in mods.items():
            mod = sys.modules[mod_name]
            layer = layer or mod_name[len(PKG) + 1:]
            for name, obj in vars(mod).items():
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == mod_name):
                    originals[id(obj)] = _Traced(self, obj, layer,
                                                 f"{layer}.{name}")
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and wrapped.__wrapped__ is obj:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapped)
        return len(originals)

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name, self.layer)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the duration of its direct children."""
    out = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.end - s.start
    return out


def layer_table(spans: list[Span], by: str = "layer") -> dict[str, dict]:
    """Per layer (or per function, ``by="name"``): self seconds and
    number of calls."""
    st = self_times(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(getattr(s, by), {"self_s": 0.0, "calls": 0})
        row["self_s"] += st[s.id]
        row["calls"] += 1
    return table


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    scan_b: int = 0
    output_b: int = 0
    output_rows: int = 0


def read_event_log(path: str) -> list[Job]:
    """Aggregate an uncompressed, non-rolling Spark event log into jobs
    with their task metrics summed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                        stages=list(ev.get("Stage IDs", [])))
                jobs[j.id] = j
                for s in j.stages:
                    stage_job[s] = j.id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j.tasks += 1
                j.run_s += m.get("Executor Run Time", 0) / 1e3
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                j.shuffle_read_b += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
                j.shuffle_write_b += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                j.spill_b += m.get("Disk Bytes Spilled", 0)
                j.scan_b += m.get("Input Metrics", {}).get("Bytes Read", 0)
                out = m.get("Output Metrics", {})
                j.output_b += out.get("Bytes Written", 0)
                j.output_rows += out.get("Records Written", 0)
    for j in jobs.values():
        if not j.end:
            j.end = j.start
    return sorted(jobs.values(), key=lambda j: j.start)


def attribute_jobs(jobs: list[Job], ops: list[tuple[int, float, float]]
                   ) -> dict[int, list[Job]]:
    """Operation id -> the jobs submitted while it ran.  ``ops`` are
    ``(id, start, end)`` with disjoint intervals; a job submitted
    outside every operation is left out."""
    ops = sorted(ops, key=lambda o: o[1])
    starts = [o[1] for o in ops]
    out: dict[int, list[Job]] = {o[0]: [] for o in ops}
    for j in jobs:
        i = bisect.bisect_right(starts, j.start) - 1
        if i >= 0 and j.start <= ops[i][2]:
            out[ops[i][0]].append(j)
    return out


def busy_seconds(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ---------------------------------------------------------------------------
# streaming listener
# ---------------------------------------------------------------------------

_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
           "latestOffset", "getBatch")


def make_stream_listener(sink: list):
    """A ``StreamingQueryListener`` appending one dict per progress
    event (batch phases in seconds, input rows, state rows and bytes)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            sink.append({
                "time": time.time(),
                "batch_s": d.get("triggerExecution", 0) / 1e3,
                **{f"{k}_s": d.get(k, 0) / 1e3 for k in _PHASES},
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_b": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
