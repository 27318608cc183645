"""Self-test: one traced smoke run of every workload over tiny inputs.

    python3 perfbench/run.py --selftest

Each run must exit 0 with every result correct, print every end-to-end
metric of BENCHMARK.json on its own report line with its unit, and end
with a JSON record holding every per-layer metric with its unit, which
proves the event log of the traced session was found and parsed. A
broken benchmark fails here in a few minutes instead of after a full
series of measured runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

WORKLOADS = ("dashboard", "curation", "ingest")


def check_run(root: str, spec: dict, workload: str) -> list[str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload]
    cmd += ["--seed", "7", "--smoke", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"{workload}: exit {proc.returncode}\n{proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    record = json.loads(lines[-1])
    problems = []
    if not record["correct"] or record["failed"]:
        why = [ln for ln in lines if ln.startswith(("# FAILED", "# WRONG"))]
        problems.append(
            f"{workload}: {record['failed']} of {record['attempted']} ops failed\n" + "\n".join(why)
        )
    printed = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3 and not line.startswith("#"):
            printed[parts[0]] = parts[2]
    for m in spec["end_to_end"]:
        if printed.get(m["name"]) != m["unit"]:
            problems.append(f"{workload}: end-to-end {m['name']} [{m['unit']}] not printed")
    for m in spec["per_layer"]:
        got = record["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            problems.append(f"{workload}: per-layer {m['name']} [{m['unit']}] missing")
    jobs = record["metrics"].get("exec.jobs", {}).get("value", 0)
    if not jobs > 0:
        problems.append(f"{workload}: no action jobs read from the event log")
    return problems


def main(root: str) -> int:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in WORKLOADS:
        found = check_run(root, spec, w)
        print(f"{w}: {'ok' if not found else 'FAILED'}", flush=True)
        problems += found
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0
