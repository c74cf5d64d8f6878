"""Self-test of the benchmark at sf0.001 size.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (default: all of them) once untraced and once
traced with ``--small``: tiny inputs (150 customers / 1,500 orders, a
600-vertex link graph, 300 documents) and a single pass (one cycle of
eight updates where the workload writes).  Each run must exit 0 with
its correctness checks passing, print every end-to-end metric of
BENCHMARK.json (untraced) or every per-layer metric (traced), and
report the workload's own metrics named in perfbench/README.md.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the workload's own end-to-end figures, reported in the run record
WORKLOAD_METRICS = {
    "sparql-read": ["lookup_p50_s", "lookup_tail_s", "analytic_p50_s", "analytic_tail_s", "read_qps"],
    "read-write": ["lookup_p50_s", "lookup_tail_s", "update_p50_s", "update_tail_s", "commits_per_s", "read_qps"],
    "graph-analytics": [
        "traversal_s", "pagerank_s", "path_s", "closure_s",
        "update_p50_s", "update_tail_s", "commits_per_s", "read_qps",
    ],
    "corpus-pipeline": ["pipeline_docs_per_s", "read_qps"],
}


def run_one(workload: str, trace: int, bench: dict) -> list[str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--small",
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    problems = []
    if p.returncode != 0:
        problems.append(f"exit code {p.returncode}: {p.stderr.strip()[-2000:]}")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if len(lines) < 2:
        return problems + ["no result printed"]
    result = json.loads(lines[-1])
    meta = json.loads(lines[-2])["meta"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") or result.get("attempted", 0) < 1:
        problems.append(f"check failed: attempted={result.get('attempted')} failed={result.get('failed')}")
    want = bench["per_layer"] if trace else bench["end_to_end"]
    for m in want:
        got = result["metrics"].get(m["name"])
        if got is None:
            problems.append(f"metric {m['name']} missing")
        elif got.get("unit") != m["unit"]:
            problems.append(f"metric {m['name']} has unit {got.get('unit')}, expected {m['unit']}")
    extra = set(result["metrics"]) - {m["name"] for m in want}
    if extra:
        problems.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    for name in WORKLOAD_METRICS[workload]:
        if name not in meta.get("workload_metrics", {}):
            problems.append(f"workload metric {name} missing from the run record")
    return problems


def main(argv) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = argv or list(WORKLOAD_METRICS)
    failed = False
    for w in workloads:
        for trace in (0, 1):
            problems = run_one(w, trace, bench)
            status = "ok" if not problems else "FAIL"
            print(f"{w} trace={trace}: {status}", flush=True)
            for p in problems:
                print(f"  {p}")
            failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
