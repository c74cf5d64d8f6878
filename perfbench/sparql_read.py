"""Workload ``sparql-read``: interactive reads over HTTP.

The TPC-H-style graph (customers, 10 orders each, 25 nations) rdfized
with the catalog's mapping and saved as the predicate-bucketed parquet
store, served by an in-process ``SparqlEndpoint``.  Two closed-loop
clients send the read mix of ``reads.py`` as HTTP GETs with JSON
results (N-Triples for DESCRIBE).  Reaches the server, parser,
compiler, store-layout pruning and writers; never commits.
"""

from __future__ import annotations

import sys
import threading
import time

import harness
import layers
from gen import tpch_graph
from reads import BLOCK, BLOCK_ALT, Oracle, ReadMix, count_rows

N_CUSTOMERS = 1500
N_CUSTOMERS_SMALL = 150
CLIENTS = 2
BUCKETS = 16
def warm_up(url: str, mixes) -> None:
    """Send one request of every kind outside the timed window, the
    kinds dealt out over the mixes, one connection per mix (JIT,
    codegen, the full-text index build).  The mixes share the run's key
    permutation, so a hot key they DESCRIBE is cached when the window
    starts."""
    kinds = sorted(set(BLOCK) | set(BLOCK_ALT))

    def send(i, mix):
        c = harness.Client(url)
        try:
            for kind in kinds[i::len(mixes)]:
                r = mix.request(kind)
                c.query(r.text, r.accept)
        finally:
            c.close()

    threads = [threading.Thread(target=send, args=(i, m)) for i, m in enumerate(mixes)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def send_reads(url: str, mix, stop, done: list, whole_blocks: bool = True) -> None:
    """One closed-loop client: send the next request of ``mix`` when the
    last reply has fully arrived, until ``stop()`` is true (and, with
    ``whole_blocks``, the current block of the mix is complete).
    Appends to ``done`` (a list append is atomic, so clients may share
    it)."""
    c = harness.Client(url)
    try:
        while not stop() or (whole_blocks and mix.pending):
            r = mix.next()
            r.status, r.body, r.latency = c.query(r.text, r.accept, r.rid)
            r.t_end = time.perf_counter()
            r.nbytes = len(r.body)
            done.append(r)
    finally:
        c.close()


def latency_metrics(latencies, prefix: str) -> tuple[dict, dict]:
    """Median and tail of the successful requests' ``latencies``."""
    ok = list(latencies)
    tail, pct, n = harness.tail(ok)
    return (
        {f"{prefix}_p50_s": harness.median(ok), f"{prefix}_tail_s": tail},
        {f"{prefix}_tail_percentile": pct, f"{prefix}_samples": n},
    )


def p50_by_kind(reqs) -> dict:
    kinds: dict = {}
    for r in reqs:
        kinds.setdefault(r.kind, []).append(r.latency)
    return {k: [round(harness.median(v), 4), len(v)] for k, v in sorted(kinds.items())}


def check(paths, reqs) -> int:
    """Count the requests whose reply is not DuckDB's answer."""
    oracle = Oracle(paths)
    failed = 0
    for r in reqs:
        if not oracle.matches(r):
            failed += 1
            print(f"perfbench: wrong answer ({r.status}) {r.kind}: {r.text[:160]}", file=sys.stderr)
    return failed


def read_layers(reqs):
    """``fill`` for ``layers.traced``: the read-path layers."""
    for r in reqs:
        r.rows = count_rows(r)
    return lambda att: layers.read_request_layers(
        att, [r for r in reqs if r.cls == "lookup"], [r for r in reqs if r.cls == "analytic"]
    )


def run(ctx, process_age) -> dict:
    nc = N_CUSTOMERS_SMALL if ctx.small else N_CUSTOMERS
    paths, store_dir = tpch_graph(ctx.spark, nc, BUCKETS)
    endpoint = harness.repeat_setup(
        lambda: harness.start_endpoint(ctx.spark, store_dir),
        lambda e: e.stop(),
        1 if ctx.small else harness.SETUP_REPEATS,
    )
    warm_up(endpoint.url, [ReadMix(ctx.seed, 100 + i, nc) for i in range(CLIENTS)])
    if ctx.trace:
        layers.install(ctx.tracer, ctx.spark, endpoint)
    setup_s = harness.setup_seconds(process_age)

    mixes = [ReadMix(ctx.seed, i, nc) for i in range(CLIENTS)]
    reqs: list = []
    layer_vals = att = None
    try:
        with harness.Window(ctx) as win:
            deadline = win.t0 + (0.5 if ctx.small else ctx.seconds)
            stop = lambda: time.perf_counter() >= deadline  # noqa: E731
            threads = [
                threading.Thread(target=send_reads, args=(endpoint.url, m, stop, reqs), daemon=True)
                for m in mixes
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        win.t1 = max([r.t_end for r in reqs], default=win.t1)
        if ctx.trace:
            busy = sum(r.latency for r in reqs)
            layer_vals, att = layers.traced(ctx, win, len(reqs), busy, read_layers(reqs))
    finally:
        endpoint.stop()
        if ctx.tracer is not None:
            ctx.tracer.uninstall()

    failed = check(paths, reqs)
    lookups = [r for r in reqs if r.cls == "lookup"]
    analytics = [r for r in reqs if r.cls == "analytic"]
    lm, lmeta = latency_metrics([r.latency for r in lookups if r.status == 200], "lookup")
    am, ameta = latency_metrics([r.latency for r in analytics if r.status == 200], "analytic")
    window = max(1e-9, win.t1 - win.t0)
    read_qps = sum(1 for r in reqs if r.status == 200) / window
    return {
        "attempted": len(reqs),
        "failed": failed,
        "metrics": harness.e2e_metrics(setup_s, win.rss_mb, read_qps),
        "layers": layer_vals,
        "trace": att,
        "meta": {
            "workload_metrics": {**lm, **am, "read_qps": read_qps},
            **lmeta,
            **ameta,
            "requests": len(reqs),
            "p50_by_kind_s": p50_by_kind(reqs),
            "window_s": window,
            "gc_s": win.gc_s,
            "clients": CLIENTS,
            "customers": nc,
        },
    }
