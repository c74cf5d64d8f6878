"""The repository's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Starts a local Spark session and the
engine's SPARQL endpoint in this process, builds the workload's inputs
from the seed, drives the workload for ``--seconds`` and checks every
answer.  The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the
line before it is the run record (commit, seed, versions, sample
counts, the workload's own latency metrics).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("sparql-read", "read-write", "graph-analytics", "corpus-pipeline")


def process_age() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Ctx:
    """What a workload gets: the session, its work dir and the knobs."""

    def __init__(self, spark, work, args):
        self.spark = spark
        self.work = work
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.small = args.small
        self.nproc = harness.nproc()
        self.tracer = None
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer()

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--small", action="store_true",
        help="self-test size: tiny inputs, one pass (see selftest.py)",
    )
    ap.add_argument(
        "--out", default=os.path.join(harness.ROOT, ".bench_results"),
        help="dir for the run record and, when traced, the spans (default: .bench_results)",
    )
    return ap.parse_args(argv)


def _terminate(signum, _frame):
    # run the finally blocks: stop Spark, remove the work dir
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        work = harness.isolate(run_id)
    except harness.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    spark = None
    try:
        try:
            spark = harness.start_spark(work)
        except ImportError as e:
            print(f"perfbench: cannot start the engine: {e}", file=sys.stderr)
            return 2
        ctx = Ctx(spark, work, args)
        if args.workload == "sparql-read":
            import sparql_read as w
        elif args.workload == "read-write":
            import read_write as w
        elif args.workload == "graph-analytics":
            import graph_analytics as w
        else:
            import corpus as w
        out = w.run(ctx, process_age)
        if out.get("trace") is not None:
            os.makedirs(args.out, exist_ok=True)
            out["trace"].dump(
                os.path.join(args.out, f"{args.workload}-seed{args.seed}.spans.jsonl")
            )
        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "small": args.small,
            "commit": harness.commit_id(),
            "nproc": ctx.nproc,
            "jvm_heap": harness.JVM_HEAP,
            **harness.versions(spark),
            **out["meta"],
        }
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": out["layers"] if args.trace else out["metrics"],
    }
    harness.emit(result, meta, args.out)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
