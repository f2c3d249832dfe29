"""Spans around the calls into each layer, plus Spark's own event log.

Spans live in memory (name, start, end, parent, request id) and are
read once the run ends. They are recorded only from this benchmark's
files: ``Tracer.patch`` swaps a module attribute of the package for a
wrapper that opens a span around the original call, and ``close``
puts the original back. Spark-side numbers come from the event log,
which the traced run enables at session start; every traced operation
runs under a Spark job group named after its request id, so jobs,
stages and tasks are attributed to the operation that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

from stats import self_time, union_length


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._ids = itertools.count()

    def new_rid(self, kind: str) -> str:
        return f"{kind}-{next(self._ids)}"

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        st = self._stack()
        span = Span(name, time.time(), 0.0, st[-1] if st else None,
                    rid or self.current_rid())
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield span
        finally:
            st.pop()
            span.end = time.time()

    @contextlib.contextmanager
    def operation(self, name: str, rid: str):
        """Root span of one request: sets the request id for nested spans
        and the Spark job group for every job the thread launches."""
        self._local.rid = rid
        self.sc.setJobGroup(rid, name)
        try:
            with self.span(name, rid) as span:
                yield span
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._local.rid = None

    def patch(self, obj, attr: str, span_name: str, on_exit=None) -> None:
        """Wrap ``obj.attr`` in a child span. ``on_exit(span, args, out)``
        may add attributes once the call returns."""
        orig = getattr(obj, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            with tracer.span(span_name) as span:
                out = orig(*args, **kw)
                if on_exit is not None:
                    on_exit(span, args, out)
                return out

        self._install(obj, attr, orig, wrapper)

    def patch_root(self, obj, attr: str, span_name: str, rid_of) -> None:
        """Wrap ``obj.attr`` as an operation root; ``rid_of(args)`` gives
        the request id (a fresh one is made when it returns None)."""
        orig = getattr(obj, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            rid = rid_of(args) or tracer.new_rid(span_name)
            with tracer.operation(span_name, rid):
                return orig(*args, **kw)

        self._install(obj, attr, orig, wrapper)

    def _install(self, obj, attr, orig, wrapper) -> None:
        setattr(obj, attr, wrapper)
        self._patched.append((obj, attr, orig))

    def close(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    # ---- queries over the recorded spans ----------------------------------

    def by_rid(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.rid is not None:
                out.setdefault(s.rid, []).append(s)
        return out


# ---- Spark event log --------------------------------------------------------

@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stage_ids: list = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


PYTHON_TIME_ACC = "time to run Python workers"


def read_event_log(log_dir: str) -> dict[str, list[Job]]:
    """Jobs per job group from an uncompressed, non-rolling event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not os.path.basename(f).startswith(".")]
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                              ev["Submission Time"] / 1000.0,
                              stage_ids=list(ev.get("Stage IDs") or []))
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    _add_task(job, ev)
    out: dict[str, list[Job]] = {}
    for job in jobs.values():
        out.setdefault(job.group, []).append(job)
    return out


def _add_task(job: Job, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    job.tasks += 1
    job.run_s += m.get("Executor Run Time", 0) / 1000.0
    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
    inp = m.get("Input Metrics") or {}
    job.input_rows += inp.get("Records Read", 0)
    job.input_bytes += inp.get("Bytes Read", 0)
    job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc.get("Name") == PYTHON_TIME_ACC:
            job.python_s += float(acc.get("Update", 0)) / 1000.0


def jobs_within(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end] (event-log times have
    millisecond resolution, so the window is widened by 1 ms)."""
    return [j for j in jobs if start - 0.001 <= j.submit <= end + 0.001]


def job_time(jobs: list[Job]) -> float:
    """Wall time covered by the jobs' [submit, end] intervals."""
    return union_length([(j.submit, max(j.end, j.submit)) for j in jobs])


def exec_totals(jobs: list[Job]) -> dict:
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "job_s": job_time(jobs),
        "executor_run_s": sum(j.run_s for j in jobs),
        "executor_cpu_s": sum(j.cpu_s for j in jobs),
        "gc_s": sum(j.gc_s for j in jobs),
        "python_udf_s": sum(j.python_s for j in jobs),
        "input_rows": sum(j.input_rows for j in jobs),
        "input_bytes": sum(j.input_bytes for j in jobs),
        "output_bytes": sum(j.output_bytes for j in jobs),
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (seconds) recorded by the DataFrame's
    QueryExecution tracker; phases not yet run are absent."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1000.0
    return out


def span_self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus what its child spans
    cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [self_time(s.start, s.end, kids.get(i, [])) for i, s in enumerate(spans)]
