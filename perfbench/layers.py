"""Per-layer metrics of a traced run.

Layers are named after the engine's modules. The Spark action has no
module of its own and is called ``exec``. Each metric is the median over
the traced passes of its per-pass value; a ``.<query>`` suffix gives
one value per query. Every metric is reported for every workload, as 0
where the workload does not exercise the layer.
"""

from __future__ import annotations

import glob
import os
import statistics

from perfbench.tracing import (
    Span,
    attribute_jobs,
    covered_seconds,
    input_rows,
    progress_time,
    read_event_log,
    task_skew,
    within,
)
from perfbench.workloads import TRACED_QUERIES

STREAM_OPS = ("indicator_stream", "minhash_stream", "stream_interval_join")
DURATIONS = ("addBatch", "queryPlanning", "getBatch", "latestOffset", "walCommit", "commitOffsets")

UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_wait_s": "s",
    "plans.build_self_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.cpu_util": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "catalog.scan_bytes": "bytes",
    "catalog.scan_rows": "count",
    "operators.pinned_rdds_after": "count",
    "operators.pinned_mb": "MB",
    "streaming.triggers": "count",
    **{f"streaming.{d}_s": "s" for d in DURATIONS},
    "streaming.batch_jobs": "count",
    "streaming.fresh_ratio": "ratio",
    "streaming.state_rows": "count",
    "sources.bytes_written": "bytes",
    "sources.records_written": "count",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "warehouse.read_range_s": "s",
    "warehouse.read_files": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
for _q in TRACED_QUERIES:
    UNITS[f"plans.build_s.{_q}"] = "s"
    UNITS[f"plans.build_jobs.{_q}"] = "count"
    UNITS[f"exec.action_s.{_q}"] = "s"
    UNITS[f"exec.shuffle_write_bytes.{_q}"] = "bytes"


def _jobs_in(jobs, span: Span) -> list:
    return [j for j in jobs if j.span is not None and within(j.span, span)]


def _stages(log, jobs) -> list:
    return [log.stages[s] for j in jobs for s in j.stages if s in log.stages]


def _pass_metrics(p: Span, spans: list[Span], log, cpus: int) -> dict:
    m: dict[str, float] = {}
    kids = [s for s in spans if s.parent is not None and within(s.parent, p)]
    ops = [s for s in kids if s.name == "op"]

    def add(key, v):
        m[key] = m.get(key, 0) + v

    for b in (s for s in kids if s.name == "build"):
        jobs = _jobs_in(log.jobs, b)
        wait = covered_seconds([(j.submit, j.end) for j in jobs], b.start, b.end)
        q = b.attrs["op"]
        add("plans.build_s", b.dur)
        add("plans.build_jobs", len(jobs))
        add("plans.build_wait_s", wait)
        add(f"plans.build_s.{q}", b.dur)
        add(f"plans.build_jobs.{q}", len(jobs))
    m["plans.build_self_s"] = m.get("plans.build_s", 0) - m.get("plans.build_wait_s", 0)

    actions = [s for s in kids if s.name == "action" and s.parent.attrs.get("kind") == "query"]
    all_stages = []
    for a in actions:
        jobs = _jobs_in(log.jobs, a)
        stages = _stages(log, jobs)
        all_stages += stages
        q = a.attrs["op"]
        add("exec.action_s", a.dur)
        add("exec.jobs", len(jobs))
        add("exec.stages", len(stages))
        add(f"exec.action_s.{q}", a.dur)
        add(f"exec.shuffle_write_bytes.{q}", sum(st.shuffle_write for st in stages))
    m["exec.tasks"] = sum(st.tasks for st in all_stages)
    m["exec.run_s"] = sum(st.run_ms for st in all_stages) / 1e3
    m["exec.cpu_s"] = sum(st.cpu_ns for st in all_stages) / 1e9
    m["exec.gc_s"] = sum(st.gc_ms for st in all_stages) / 1e3
    if m.get("exec.action_s"):
        m["exec.cpu_util"] = m["exec.cpu_s"] / (m["exec.action_s"] * cpus)
    m["exec.shuffle_read_bytes"] = sum(st.shuffle_read for st in all_stages)
    m["exec.shuffle_write_bytes"] = sum(st.shuffle_write for st in all_stages)
    m["exec.spill_bytes"] = sum(st.spill for st in all_stages)
    m["exec.task_skew"] = task_skew(all_stages)

    pass_stages = _stages(log, _jobs_in(log.jobs, p))
    m["catalog.scan_bytes"] = sum(st.in_bytes for st in pass_stages)
    m["catalog.scan_rows"] = sum(st.in_rows for st in pass_stages)

    stream_spans = [s for s in ops if s.attrs["op"] in STREAM_OPS]
    if stream_spans:
        prog = [
            pr
            for pr in log.progress
            if input_rows(pr) > 0
            and any(s.start <= progress_time(pr) <= s.end for s in stream_spans)
        ]
        m["streaming.triggers"] = len(prog)
        for d in DURATIONS:
            m[f"streaming.{d}_s"] = sum(pr["durationMs"].get(d, 0) for pr in prog) / 1e3
        m["streaming.state_rows"] = max(
            (sum(op.get("numRowsTotal", 0) for op in pr.get("stateOperators", [])) for pr in prog),
            default=0,
        )
        sink_jobs = [j for s in stream_spans for j in _jobs_in(log.jobs, s)]
        m["streaming.batch_jobs"] = len(sink_jobs)
        sink_stages = _stages(log, sink_jobs)
        m["sources.bytes_written"] = sum(st.out_bytes for st in sink_stages)
        m["sources.records_written"] = sum(st.out_rows for st in sink_stages)
    for s in ops:
        if s.attrs["op"] == "read_events_range":
            m["warehouse.read_range_s"] = s.dur
    return m


def per_layer(workload, w, tracer, log_dir, rt, pins, cpus, out) -> dict:
    logs = glob.glob(os.path.join(log_dir, "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    log = read_event_log(logs[0])
    attribute_jobs(log.jobs, tracer.spans)
    passes = [s for s in tracer.spans if s.name == "pass"]
    rows = [_pass_metrics(p, tracer.spans, log, cpus) for p in passes]
    m = {k: statistics.median(r.get(k, 0) for r in rows) for k in UNITS}
    m["session.start_s"] = out["session.start_s"]
    m["session.warmup_s"] = out["session.warmup_s"]
    if pins:
        m["operators.pinned_rdds_after"], m["operators.pinned_mb"] = pins[-1]
    if workload == "ingest":
        m["streaming.fresh_ratio"] = w.n_events / w.event_arrival.rows
        m["sources.files_written"] = w.files_written()
        m["sources.write_amp"] = m["sources.bytes_written"] / w.input_bytes
        m["warehouse.read_files"] = w.range_files()
    m["trace.pass_s"] = statistics.median(rt["pass_s"])
    m["trace.overhead_s"] = out["trace.overhead_s"]
    return {k: {"value": float(m[k]), "unit": UNITS[k]} for k in UNITS}

