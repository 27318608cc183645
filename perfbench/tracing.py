"""Spans around calls into the engine, and the Spark-side records they
are joined with: the event log (jobs, stages, task metrics, streaming
progress), the persistent-RDD registry and the Spark JVM's peak RSS.

Nothing here instruments the engine package itself. Spans are recorded
by the benchmark around each public call it makes; Spark jobs are
attributed to the innermost span open at their submission time. That
is sound because the benchmark is a single client whose spans nest but
never overlap, and it stays sound for thread pools inside a call,
whose workers do not inherit the caller's job group but do submit
while the caller's span is open.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: "Span | None" = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested wall-clock spans kept in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def dump(self, path: str) -> None:
        ids = {id(s): k for k, s in enumerate(self.spans)}
        with open(path, "w") as fh:
            for k, s in enumerate(self.spans):
                rec = {
                    "id": k,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": ids.get(id(s.parent)),
                    **s.attrs,
                }
                fh.write(json.dumps(rec) + "\n")


@dataclass
class Stage:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    in_bytes: int = 0
    in_rows: int = 0
    out_bytes: int = 0
    out_rows: int = 0
    task_ms: list = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    stages: list = field(default_factory=list)
    span: Span | None = None


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, Stage]
    progress: list[dict]  # StreamingQueryProgress JSON, all sessions


_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def read_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, Stage] = {}
    progress = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                j.stages = list(ev.get("Stage IDs", []))
                for sid in j.stages:
                    stage_job.setdefault(sid, j.job_id)
                jobs[j.job_id] = j
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], Stage()), ev)
            elif kind == _PROGRESS:
                progress.append(ev["progress"])
    for j in jobs.values():
        # a stage listed by several jobs runs once; it belongs to the first
        j.stages = [sid for sid in j.stages if stage_job.get(sid) == j.job_id]
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit), stages, progress)


def _add_task(st: Stage, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    st.task_ms.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    st.spill += m.get("Disk Bytes Spilled", 0)
    im = m.get("Input Metrics", {})
    st.in_bytes += im.get("Bytes Read", 0)
    st.in_rows += im.get("Records Read", 0)
    om = m.get("Output Metrics", {})
    st.out_bytes += om.get("Bytes Written", 0)
    st.out_rows += om.get("Records Written", 0)


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> None:
    """Set ``job.span`` to the innermost span open at submission."""
    for j in jobs:
        best = None
        for s in spans:
            if s.start <= j.submit <= s.end and (best is None or s.start >= best.start):
                best = s
        j.span = best


def within(span: Span, root: Span) -> bool:
    while span is not None:
        if span is root:
            return True
        span = span.parent
    return False


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def task_skew(stages: list[Stage]) -> float:
    """Worst stage's slowest task over its median task, among stages with
    more than one task (1.0 when none has)."""
    worst = 1.0
    for st in stages:
        if len(st.task_ms) > 1:
            med = statistics.median(st.task_ms)
            if med > 0:
                worst = max(worst, max(st.task_ms) / med)
    return worst


def jvm_peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pinned_rdds(spark) -> tuple[int, float]:
    """Persistent RDDs registered in the context, and the MiB they hold
    in memory and on disk."""
    sc = spark.sparkContext
    n = len(sc._jsc.getPersistentRDDs())
    held = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    return n, held / 2**20


def input_rows(p: dict) -> int:
    """Rows a trigger read. The event log's progress JSON carries them
    per source only; the listener's also has the total."""
    return sum(s.get("numInputRows", 0) for s in p.get("sources", []))


def progress_time(p: dict) -> float:
    """Epoch seconds of a progress record's trigger start."""
    import datetime as dt

    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress record of the
    session's queries. Progress arrives asynchronously: read it only
    after ``wait_terminated`` returns, and remove the listener before the
    session stops."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.started: set[str] = set()
            self.terminated: set[str] = set()
            self._cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            with self._cv:
                self.started.add(str(event.id))

        def onQueryProgress(self, event) -> None:
            with self._cv:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._cv:
                self.terminated.add(str(event.id))
                self._cv.notify_all()

        def wait_terminated(self, timeout: float = 30.0) -> bool:
            with self._cv:
                return self._cv.wait_for(lambda: self.started <= self.terminated, timeout)

    return ProgressListener()
