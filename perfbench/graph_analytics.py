"""Workload ``graph-analytics``: vertex-centric programs and RDFS closure,
then a durable writer.

A synthetic directed link graph ``<urn:v:i> <urn:link> <urn:v:j>`` with
power-law in-degree (``gen.link_graph``) and a random class hierarchy
with typed instances (``gen.class_hierarchy``).  The graph client runs
sequential passes of: ``gas:`` SERVICE BFS and SSSP from a seed-chosen
source, PageRank (fixed iterations), a bound-start ``<urn:link>+``
path, and ``rdfs_closure`` over the hierarchy.  Every SPARQL program
returns only COUNT/MAX/SUM aggregates and goes over HTTP; the closure is
a library call.  After the graph pass the ``read-write`` writer
(``read_write.Durable``) commits whole cycles of eight updates to a
journal of the TPC-H-style graph behind its own endpoint.  Reaches
``operators`` (graph, paths, lifecycle), ``inference`` and the write
path (``engine.update``, ``journal.commit_delta``, the journal's
materialization, the engine's compaction).

Check: every aggregate against a pure-Python BFS, Dijkstra and
PageRank over the generated edge list, instance counts of the
closure against the hierarchy, and the reopened journal against the
acknowledged updates.
"""

from __future__ import annotations

import heapq
import json
import os
import sys
import time

import numpy as np

import harness
import layers
from gen import RDF_TYPE, graph_data
from read_write import Durable
from sparql_read import N_CUSTOMERS, N_CUSTOMERS_SMALL

#: BFS/SSSP round cap (gas:maxIterations); sources are drawn among
#: vertices that reach farther, so every pass runs exactly this many
TRAVERSAL_ROUNDS = 2
PR_ITERATIONS = 2
GAS = "PREFIX gas: <http://www.bigdata.com/rdf/gas#> "
JSON = "application/sparql-results+json"


# ---------------------------------------------------- Python reference
class Reference:
    def __init__(self, edges):
        self.edges = edges
        self.out: dict = {}
        self.nodes = set()
        for a, b in edges:
            self.out.setdefault(a, []).append(b)
            self.nodes.update((a, b))

    def bfs(self, src: int, max_rounds: int | None = None) -> dict:
        depth = {src: 0}
        frontier = [src]
        d = 0
        while frontier and (max_rounds is None or d < max_rounds):
            d += 1
            nxt = []
            for u in frontier:
                for v in self.out.get(u, ()):
                    if v not in depth:
                        depth[v] = d
                        nxt.append(v)
            frontier = nxt
        return depth

    def dijkstra(self, src: int, max_hops: int) -> dict:
        """Unit-weight shortest paths using at most ``max_hops`` edges."""
        dist = {src: 0.0}
        heap = [(0.0, 0, src)]
        while heap:
            d, h, u = heapq.heappop(heap)
            if d > dist.get(u, float("inf")) or h >= max_hops:
                continue
            for v in self.out.get(u, ()):
                nd = d + 1.0
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(heap, (nd, h + 1, v))
        return dist

    def pagerank(self, iters: int, d: float = 0.85) -> dict:
        inflow: dict = {}
        for a, b in self.edges:
            inflow.setdefault(b, []).append(a)
        rank = {n: 1.0 for n in self.nodes}
        for _ in range(iters):
            rank = {
                n: (1.0 - d) + d * sum(rank[s] / len(self.out[s]) for s in inflow.get(n, ()))
                for n in self.nodes
            }
        return rank


def pick_sources(ref: Reference, seed: int, n: int) -> list[int]:
    """Seed-chosen sources with large reach: vertices whose BFS runs
    more than TRAVERSAL_ROUNDS rounds and reaches most of the graph, all
    with the same eccentricity (the most common one among the first
    candidates), so the path closure runs as many rounds whatever the
    seed."""
    rng = np.random.default_rng([seed, 30])
    cand = sorted(ref.out)
    far = []  # (vertex, eccentricity)
    for _ in range(500):
        v = cand[int(rng.integers(0, len(cand)))]
        depth = ref.bfs(v)
        if max(depth.values()) > TRAVERSAL_ROUNDS and len(depth) >= 0.5 * len(ref.nodes):
            far.append((v, max(depth.values())))
    eccs = [e for _v, e in far[:64]]
    mode = max(set(eccs), key=eccs.count) if eccs else None
    out = [v for v, e in far if e == mode][:n]
    if len(out) < n:
        raise harness.BenchError("link graph has too few far-reaching vertices")
    return out


# ------------------------------------------------------------ programs
def programs(src: int, rounds: int = TRAVERSAL_ROUNDS):
    """(kind, query) of one pass from ``src``."""
    gas = (
        "SELECT (COUNT(?node) AS ?n) (MAX(?v) AS ?mx) (SUM(?v) AS ?sm) WHERE {{ "
        "SERVICE gas:service {{ gas:program gas:gasClass \"{cls}\" ; gas:linkType <urn:link> ; "
        "{extra} gas:out ?node ; gas:out1 ?v . }} }}"
    )
    return [
        ("bfs", GAS + gas.format(cls="BFS", extra=f"gas:in <urn:v:{src}> ; gas:maxIterations {rounds} ;")),
        ("sssp", GAS + gas.format(cls="SSSP", extra=f"gas:in <urn:v:{src}> ; gas:maxIterations {rounds} ;")),
        ("pr", GAS + gas.format(cls="PR", extra=f"gas:maxIterations {PR_ITERATIONS} ;")),
        ("path", f"SELECT (COUNT(?x) AS ?n) WHERE {{ <urn:v:{src}> <urn:link>+ ?x }}"),
    ]


def expected(ref: Reference, kind: str, src: int):
    if kind == "bfs":
        d = ref.bfs(src, TRAVERSAL_ROUNDS)
        return {"n": len(d), "mx": max(d.values()), "sm": sum(d.values())}
    if kind == "sssp":
        d = ref.dijkstra(src, TRAVERSAL_ROUNDS)
        return {"n": len(d), "mx": max(d.values()), "sm": sum(d.values())}
    if kind == "pr":
        r = ref.pagerank(PR_ITERATIONS)
        return {"n": len(r), "mx": max(r.values()), "sm": sum(r.values())}
    reach = set()
    frontier = list(ref.out.get(src, ()))
    while frontier:
        nxt = []
        for v in frontier:
            if v not in reach:
                reach.add(v)
                nxt.extend(ref.out.get(v, ()))
        frontier = nxt
    return {"n": len(reach)}


def agrees(got: dict, exp: dict) -> bool:
    """Equal up to the 4 decimals ``reads.json_rows`` keeps."""
    if got.keys() != exp.keys():
        return False
    return all(abs(float(got[k]) - round(float(exp[k]), 4)) <= 1e-9 * max(1.0, abs(float(exp[k]))) for k in exp)


def subtree_counts(parent: list, inst: list, classes: list[int]) -> dict:
    """class → number of instances typed with it or a subclass of it."""
    out = {k: 0 for k in classes}
    for c in inst:
        while c >= 0:
            if c in out:
                out[c] += 1
            c = parent[c]
    return out


# ----------------------------------------------------------------- run
def run(ctx, process_age) -> dict:
    from database_spark.inference import rdfs
    from database_spark.store import TripleStore

    d = graph_data(ctx.spark, ctx.small)
    with open(os.path.join(d, "edges.json")) as f:
        ref = Reference([tuple(e) for e in json.load(f)])
    with open(os.path.join(d, "hierarchy.json")) as f:
        hier = json.load(f)
    sc = ctx.spark.sparkContext

    endpoint = harness.repeat_setup(
        lambda: harness.start_endpoint(ctx.spark, os.path.join(d, "links")),
        lambda e: e.stop(),
        1 if ctx.small else harness.SETUP_REPEATS,
    )
    classes = TripleStore.load(ctx.spark, os.path.join(d, "classes"))
    n_base = sum(1 for p in hier["parent"] if p >= 0) + len(hier["inst"])
    client = harness.Client(endpoint.url)
    sources = pick_sources(ref, ctx.seed, 8)
    dur = Durable(ctx, N_CUSTOMERS_SMALL if ctx.small else N_CUSTOMERS)
    results: list = []  # (pass, kind, src, status, seconds, body)
    closure_sizes: list = []

    def graph_pass(i: int) -> None:
        src = sources[i % len(sources)]
        for kind, text in programs(src):
            status, body, lat = client.query(text, JSON, f"g{i}-{kind}")
            results.append((i, kind, src, status, lat, body))
        sc.setJobGroup(f"perfbench-closure-{i}", "rdfs closure")
        t = time.perf_counter()
        # through the module, so the traced run's wrapper is called
        closed = rdfs.rdfs_closure(classes)
        n_closed = closed.df.count()
        lat = time.perf_counter() - t
        sc.setLocalProperty("spark.jobGroup.id", None)
        results.append((i, "closure", src, 200, lat, closed))
        closure_sizes.append(n_closed - n_base)

    layer_vals = att = None
    try:
        # a one-round BFS outside the window: the first query of the GAS
        # path compiles for seconds, more in some runs than in others
        client.query(dict(programs(sources[-1], rounds=1))["bfs"], JSON)
        if ctx.trace:
            layers.install(ctx.tracer, ctx.spark, endpoint)
            layers.install_handler(ctx.tracer, dur.endpoint)
        setup_s = harness.setup_seconds(process_age)
        with harness.Window(ctx) as win:
            # whole graph passes, then whole writer cycles, at least one
            # each, until the deadline; one after the other, so neither
            # is slowed by the other
            deadline = win.t0 + (0 if ctx.small else ctx.seconds)
            i = 0
            while i == 0 or time.perf_counter() < deadline:
                graph_pass(i)
                i += 1
            graph_s = time.perf_counter() - win.t0
            dur.loop(lambda: time.perf_counter() >= deadline)
        n_ops = len(results) + len(dur.updates)
        if ctx.trace:
            busy = sum(r[4] for r in results) + dur.busy_s()

            def fill(att):
                vals = layers.graph_layers(att, results, ctx.nproc)
                vals["inference.inferred_triples"] = layers.mean(closure_sizes)
                vals.update(dur.layer_values(att))
                return vals

            layer_vals, att = layers.traced(ctx, win, n_ops, busy, fill)
        failed = check(ref, hier, results)
    finally:
        client.close()
        endpoint.stop()
        dur.stop()
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
    failed += dur.check()

    per = {k: [] for k in ("traversal", "pagerank", "path", "closure")}
    by_pass: dict = {}
    for p, kind, _src, _st, lat, _b in results:
        by_pass.setdefault(p, {})[kind] = lat
    for p, ks in by_pass.items():
        per["traversal"].append(ks.get("bfs", 0.0) + ks.get("sssp", 0.0))
        per["pagerank"].append(ks.get("pr", 0.0))
        per["path"].append(ks.get("path", 0.0))
        per["closure"].append(ks.get("closure", 0.0))
    program_metrics = {f"{k}_s": harness.median(v) for k, v in per.items()}
    ok = (
        sum(1 for r in results if r[3] == 200) + sum(1 for u in dur.updates if u[1] == 200)
    )
    read_qps = ok / max(1e-9, win.t1 - win.t0)
    um, umeta = dur.metrics()
    commits = sum(1 for u in dur.updates if u[1] == 200)
    return {
        "attempted": n_ops,
        "failed": failed,
        "metrics": harness.e2e_metrics(setup_s, win.rss_mb, read_qps),
        "layers": layer_vals,
        "trace": att,
        "meta": {
            "workload_metrics": {
                **program_metrics,
                **um,
                "commits_per_s": commits / max(1e-9, win.t1 - win.t0 - graph_s),
                "read_qps": read_qps,
            },
            **umeta,
            "graph_s": graph_s,
            "passes": len(by_pass),
            "sources": sources[: len(by_pass)],
            "window_s": win.t1 - win.t0,
            "gc_s": win.gc_s,
            "vertices": len(ref.nodes),
            "edges": len(ref.edges),
            "inferred_triples": closure_sizes[:1],
        },
    }


def check(ref: Reference, hier: dict, results) -> int:
    """Count programs whose answer differs from the Python reference."""
    from pyspark.sql import functions as F

    from reads import json_rows

    failed = 0
    cache: dict = {}
    want = subtree_counts(hier["parent"], hier["inst"], list(range(len(hier["parent"]))))
    for p, kind, src, status, _lat, body in results:
        if status != 200:
            failed += 1
            continue
        if kind == "closure":
            # instances per class in the closed store, one job
            rows = (
                body.df.where((F.col("pt.lex") == RDF_TYPE) & F.col("st.lex").startswith("urn:i:"))
                .groupBy(F.col("ot.lex").alias("cls"))
                .count()
                .collect()
            )
            got = {r["cls"]: r["count"] for r in rows}
            exp = {f"urn:k:{k}": n for k, n in want.items() if n}
            if got != exp:
                failed += 1
                print("perfbench: closure instance counts differ from the hierarchy's", file=sys.stderr)
            continue
        key = (kind, src)
        if key not in cache:
            cache[key] = expected(ref, kind, src)
        rows, _b = json_rows(body)
        got = rows[0] if rows else {}
        if not agrees(got, cache[key]):
            failed += 1
            print(f"perfbench: {kind} from urn:v:{src} gave {got}, expected {cache[key]}", file=sys.stderr)
    return failed
