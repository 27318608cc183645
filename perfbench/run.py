"""Benchmark of the engine's three uses: dashboard reads, corpus
curation and stream ingest.

    python3 perfbench/run.py --workload {dashboard,curation,ingest} \\
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest

Run it from the repository root. Inputs are generated from the seed
into a scratch directory under the root, which is removed on exit. One
client drives ``local[<cpus>]``, where ``<cpus>`` is the process's CPU
affinity count, in a closed loop. A run:

1. sets up the session five times, each ``get_spark`` plus a probe
   query on tiny inputs as its warm-up; the first includes JVM launch,
   the others restart the context in the same JVM. ``setup_s`` is the
   median;
2. generates the measured inputs and runs the workload's untimed
   warm-up: none for dashboard and curation, whose timed pass is the
   first after set-up, as for a job launched into a fresh JVM; for
   ingest, one small file through each stream runner, because the
   first micro-batches of a cold JVM dominate and vary too much;
3. times a fixed number of passes over the measured inputs, set by
   ``--seconds`` and the workload's nominal pass time, never by the
   host's speed;
4. checks every timed result (DuckDB oracle or batch recompute).

With ``--trace 1`` the timed passes are repeated in a fresh session
with an uncompressed event log, and per-layer metrics are derived from
the spans this benchmark records around each engine call, the event
log and the persistent-RDD registry. The difference between the traced
and untraced pass medians is reported as the tracing overhead.

The human-readable report goes to standard output, and its last line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or the per-layer ones with
``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
PACKAGE = "crypto_data_pipeline_with_kafka_spark"
SETUPS = 5
# nominal seconds of one pass on 4 cores; passes = seconds / this, at least 1
NOMINAL_PASS_S = {"dashboard": 20.0, "curation": 50.0, "ingest": 26.0}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("dashboard", "curation", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="one pass over tiny inputs")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    return args


def passes_for(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None with ten samples or fewer."""
    v = sorted(values)
    if len(v) <= 10:
        return None
    k = len(v) - 11
    return 100.0 * (k + 1) / len(v), v[k]


class Session:
    """The Spark session under test, with every scratch path of Spark and
    the JVM inside the run's work directory."""

    def __init__(self, work: str):
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.spark = None
        self.event_log_dir = None

    def start(self, event_log: str | None = None):
        """Start the session; ``event_log`` names a fresh directory for an
        uncompressed, non-rolling event log of this session."""
        from crypto_data_pipeline_with_kafka_spark.session import get_spark

        conf = {
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            self.event_log_dir = os.path.join(self.work, "eventlog", event_log)
            os.makedirs(self.event_log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_passes(w, tracer, n: int, first: int, listener=None) -> dict:
    """Time ``n`` passes of workload ``w``; check every result after its
    pass. Returns pass times, op latencies and failures."""
    pass_s, latencies, outcomes = [], [], []
    attempted = failed = 0
    check_s = 0.0
    for k in range(first, first + n):
        done = []
        with tracer.span("pass", k=k) as p:
            for op in w.ops(k):
                attempted += 1
                try:
                    done.append(w.run_op(op, k))
                except Exception as e:  # a failed op is counted, not fatal
                    failed += 1
                    print(f"# FAILED {op}: {type(e).__name__}: {e}", flush=True)
        pass_s.append(p.dur)
        t = time.time()
        for o in done:
            latencies.append(o.seconds)
            try:
                problem = o.check()
            except Exception as e:  # a check that cannot run counts as wrong
                problem = f"{type(e).__name__}: {e}"
            if problem:
                failed += 1
                print(f"# WRONG {o.op}: {problem}", flush=True)
            outcomes.append(o)
        check_s += time.time() - t
    if listener is not None and not listener.wait_terminated():
        print("# WARNING: a stream query has not reported termination", flush=True)
    return {
        "pass_s": pass_s,
        "latencies": latencies,
        "outcomes": outcomes,
        "attempted": attempted,
        "failed": failed,
        "check_s": check_s,
    }


def ingest_rates(w, tracer, progress: list[dict], outcomes: list) -> dict:
    """events_per_s, docs_per_s and trigger_p50_s from the stream ops."""
    from perfbench.tracing import input_rows, progress_time

    ev = [o.seconds for o in outcomes if o.op == "indicator_stream"]
    dc = [o.seconds for o in outcomes if o.op == "minhash_stream"]
    stream_spans = [s for s in tracer.spans if s.name == "op" and s.attrs.get("kind") == "stream"]
    trig = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in progress
        if input_rows(p) > 0
        and any(s.start <= progress_time(p) <= s.end for s in stream_spans)
    ]
    return {
        "events_per_s": w.event_arrival.rows / statistics.median(ev),
        "docs_per_s": w.doc_arrival.rows / statistics.median(dc),
        "trigger_p50_s": statistics.median(trig) if trig else float("nan"),
    }


def bench(args, work: str) -> dict:
    session = Session(work)
    try:
        return _bench(args, work, session)
    finally:
        session.shutdown()


def _bench(args, work: str, session: Session) -> dict:
    from crypto_data_pipeline_with_kafka_spark.plans.registry import queries

    from perfbench import inputs, workloads
    from perfbench.tracing import (
        Tracer,
        jvm_peak_rss_mb,
        make_progress_listener,
        pinned_rdds,
    )

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    out: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus}

    # 1. set-up, several times; the warm-up is a registry query on tiny
    # inputs. A traced run's last set-up turns the event log on.
    probe_dir = inputs.write_tables(
        {"documents": inputs.make_tables(args.seed, inputs.SIZES["tiny"])["documents"]},
        os.path.join(work, "probe"),
    )
    setups, starts, warmups = [], [], []
    t0 = T_PROCESS
    k = 1 if args.smoke else SETUPS
    for i in range(k):
        if i:
            session.stop()
            t0 = time.time()
        spark = session.start(event_log="timed" if args.trace and i == k - 1 else None)
        started = time.time()
        starts.append(started - t0)
        workloads.digest(queries()["dedup_exact"](spark, probe_dir))
        setups.append(time.time() - t0)
        warmups.append(time.time() - started)
    out["setup_samples"] = setups
    out["session.start_s"] = statistics.median(starts)
    out["session.warmup_s"] = statistics.median(warmups)

    # 2. the measured inputs, 3. the timed passes
    tracer = Tracer()
    t = time.time()
    size = "tiny" if args.smoke else args.workload
    w = workloads.WORKLOADS[args.workload](
        spark, tracer, os.path.join(work, "measured"), args.seed, size
    )
    out["inputs_s"] = time.time() - t
    t = time.time()
    w.warm_up()
    out["warm_up_s"] = time.time() - t
    pins = []
    if args.trace:
        w.after_action = lambda: pins.append(pinned_rdds(spark))
    listener = make_progress_listener()
    spark.streams.addListener(listener)
    try:
        n = 1 if args.smoke else passes_for(args.workload, args.seconds)
        r = run_passes(w, tracer, n, first=0, listener=listener)
    finally:
        spark.streams.removeListener(listener)
    out.update(passes=n, attempted=r["attempted"], failed=r["failed"], check_s=r["check_s"])
    out["pass_s"] = statistics.median(r["pass_s"])
    out["pass_samples"] = r["pass_s"]
    out["latency_p50_s"] = statistics.median(r["latencies"])
    out["latency_samples"] = len(r["latencies"])
    out["latency_tail"] = tail(r["latencies"])
    out["outcomes"] = r["outcomes"]
    out["jvm_peak_rss_mb"] = jvm_peak_rss_mb(session.jvm_pid())
    if args.workload == "ingest" and not r["failed"]:
        out.update(ingest_rates(w, tracer, listener.progress, r["outcomes"]))
    if not args.trace:
        return out

    # 4. traced run: per-layer metrics of the timed passes, then the
    # tracing overhead as a traced minus an untraced pass, both warm
    from perfbench import layers

    timed_log = session.event_log_dir
    w.after_action = lambda: None
    extra = {}
    for i, mode in enumerate(("untraced", "traced")):
        session.stop()
        w.spark = session.start(event_log=mode if mode == "traced" else None)
        if mode == "traced":
            w.after_action = lambda: pins.append(pinned_rdds(w.spark))
        extra[mode] = run_passes(w, Tracer(), 1, first=n + i)
        out["attempted"] += extra[mode]["attempted"]
        out["failed"] += extra[mode]["failed"]
    session.stop()  # closes the event logs
    out["trace.overhead_s"] = extra["traced"]["pass_s"][0] - extra["untraced"]["pass_s"][0]
    out["layers"] = layers.per_layer(args.workload, w, tracer, timed_log, r, pins, cpus, out)
    tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
    return out


END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "events_per_s": "1/s",
    "docs_per_s": "1/s",
    "trigger_p50_s": "s",
    "error_rate": "ratio",
    "jvm_peak_rss_mb": "MB",
}


def end_to_end(out: dict) -> dict:
    m = {
        "setup_s": statistics.median(out["setup_samples"]),
        "pass_s": out["pass_s"],
        "latency_p50_s": out["latency_p50_s"],
        "error_rate": out["failed"] / out["attempted"],
        "jvm_peak_rss_mb": out["jvm_peak_rss_mb"],
    }
    if out["latency_tail"] is not None:
        m["latency_tail_s"] = out["latency_tail"][1]
    for k in ("events_per_s", "docs_per_s", "trigger_p50_s"):
        if k in out:
            m[k] = out[k]
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in m.items()}


def report(out: dict, trace: bool, spec: dict | None) -> dict:
    """Print the human report and return the final JSON record."""
    e2e = end_to_end(out)
    print(
        f"# workload={out['workload']} seed={out['seed']} cpus={out['cpus']} "
        f"passes={out['passes']} setups={len(out['setup_samples'])} "
        f"op_samples={out['latency_samples']}"
    )
    for k, v in e2e.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    if out["latency_tail"] is not None:
        pct, _ = out["latency_tail"]
        print(f"# latency_tail_s is p{pct:.1f} of {out['latency_samples']} op executions")
    else:
        print(f"# latency_tail_s: {out['latency_samples']} op executions, too few for a tail")
    by_op: dict[str, list[float]] = {}
    for o in out["outcomes"]:
        by_op.setdefault(o.op, []).append(o.seconds)
    print("# setup samples: " + ", ".join(f"{v:.3f}" for v in out["setup_samples"]) + " s")
    print(
        f"# run phases: set-ups {sum(out['setup_samples']):.1f} s, inputs {out['inputs_s']:.1f} s, "
        f"warm-up {out['warm_up_s']:.1f} s, timed {sum(out['pass_samples']):.1f} s, "
        f"checks {out['check_s']:.1f} s"
    )
    for op, v in by_op.items():
        print(f"# op {op}: median {statistics.median(v):.3f} s over {len(v)}")
    if trace:
        for k, v in out["layers"].items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
    metrics = out["layers"] if trace else e2e
    if spec is not None:
        names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        metrics = {k: metrics[k] for k in names if k in metrics}
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def load_spec(root: str) -> dict | None:
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def prepare(root: str, tag: str) -> str:
    """Make the run's work directory and point every scratch path at it."""
    work = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return work


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: run from the repository root; no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.selftest:
        from perfbench import selftest

        return selftest.main(root)
    work = prepare(root, f"{args.workload}-{args.seed}")
    try:
        out = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = report(out, bool(args.trace), load_spec(root))
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
