"""Spans, self time and Spark counters for the traced run.

A `Tracer` records a span (name, start, end, parent, trace id) around
each call into a layer and around each Spark action.  Spans stay in
memory and are written out when the run ends.  While a span is open,
its id is set as the Spark local property `perfbench.span`, so every
job it starts carries the id into the event log; `read_event_log`
charges jobs, stages, tasks and task metrics back to the spans.  The
py4j calls made inside a span are counted by wrapping the gateway
client's `send_command` in this process only.

`NullTracer` has the same interface and does nothing, so untraced runs
pay no tracing cost.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import time
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    wall_start: float = 0.0
    py4j_calls: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (overlapping children are merged, and each child is
    clipped to its parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = s.duration - covered
    return out


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def trace(self, name: str):
        return contextlib.nullcontext()

    def patch(self, module, names, layer: str) -> None:
        pass

    def unpatch(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_ids = itertools.count(1)
        self._trace_id = "t0"
        self._patched: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._client, self._send = client, send

    def close(self) -> None:
        self.unpatch()
        self._client.send_command = self._send

    @contextlib.contextmanager
    def trace(self, name: str):
        """A new trace id for one operation (one pass, query or batch)."""
        prev = self._trace_id
        self._trace_id = f"{name}#{next(self._trace_ids)}"
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._trace_id = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, self._trace_id,
                 parent.id if parent else None, 0.0, attrs=dict(attrs))
        sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        calls0 = self.py4j_calls
        self._stack.append(s)
        s.wall_start = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.py4j_calls = self.py4j_calls - calls0
            self.spans.append(s)
            sc.setLocalProperty(SPAN_PROPERTY, str(parent.id) if parent else None)

    def patch(self, module, names, layer: str) -> None:
        """Wrap module-level functions so each call opens a span named
        `layer.function`."""
        for name in names:
            fn = getattr(module, name)
            setattr(module, name, self._wrap(fn, f"{layer}.{name}"))
            self._patched.append((module, name, fn))

    def _wrap(self, fn, span_name: str):
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def unpatch(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                row = asdict(s)
                row["self_s"] = st[s.id]
                fh.write(json.dumps(row) + "\n")


def descendants(spans: list[Span], root_ids: set[int]) -> set[int]:
    """Ids of the given spans and every span below them."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), list(root_ids)
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo.extend(kids.get(i, []))
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    span: int | None
    stages: set = field(default_factory=set)
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0


def read_event_log(log_dir: str) -> dict[int, JobStats]:
    """Parse the (single) event log under `log_dir` into per-job stats,
    each tagged with the span that started the job.  Only stages that
    ran tasks are counted; skipped stages are not."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        return {}
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(files[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                job = JobStats(int(span) if span else None)
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                job.stages.add(ev["Stage ID"])
                job.tasks += 1
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.gc_ms += m.get("JVM GC Time", 0)
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return jobs


def job_totals(jobs: dict[int, JobStats], span_ids: set[int]) -> dict[str, float]:
    picked = [j for j in jobs.values() if j.span in span_ids]
    return {
        "jobs": len(picked),
        "stages": sum(len(j.stages) for j in picked),
        "tasks": sum(j.tasks for j in picked),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in picked),
        "spill_bytes": sum(j.spill_bytes for j in picked),
        "task_cpu_s": sum(j.cpu_ns for j in picked) / 1e9,
        "gc_s": sum(j.gc_ms for j in picked) / 1e3,
    }


# ---------------------------------------------------------------------------
# Codegen counters (JVM-static, read over py4j)
# ---------------------------------------------------------------------------


def codegen_snapshot(spark) -> tuple[int, float]:
    """(compiles so far, estimated compile seconds so far).  The count is
    exact; the time is count x the histogram's reservoir mean, so it is
    an estimate."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = int(h.getCount())
    return n, n * float(h.getSnapshot().getMean()) / 1e3


# ---------------------------------------------------------------------------
# Kernel calls logged by the worker hook (perfbench/hook/pb_daemon.py)
# ---------------------------------------------------------------------------


def read_kernel_log(path: str) -> list[tuple[str, float, float]]:
    """[(kernel, wall start, seconds)] as logged by the Python workers."""
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) == 3:
                out.append((parts[0], float(parts[1]), float(parts[2])))
    return out
