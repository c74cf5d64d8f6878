"""Which engine functions the traced run wraps, and how its spans and
Spark jobs become the per-layer metrics.

Each request a client sends carries an ``X-Bench-Rid`` header; the
wrapped HTTP handler opens the request's root span under that id, and
every wrapped engine call below it inherits the id.  Spark jobs are
attributed to a request by the job group the endpoint sets for each
query (updates get a group from the wrapper around ``engine.update``),
and to a layer by the innermost span of that request that was running
when the job was submitted.
"""

from __future__ import annotations

import contextlib
import itertools

import harness
from tracing import Tracer, self_times, wrapper_cost

#: every per-layer metric, in BENCHMARK.json order: (name, unit)
PER_LAYER = [
    ("parser.parse_s", "s"),
    ("compiler.compile_s", "s"),
    ("compiler.spark_jobs", "count"),
    ("exec.first_row_s", "s"),
    ("exec.shuffle_bytes", "bytes"),
    ("exec.input_bytes", "bytes"),
    ("exec.spark_jobs", "count"),
    ("exec.tasks", "count"),
    ("exec.rows_examined_per_result", "ratio"),
    ("writers.stream_s", "s"),
    ("writers.spark_jobs", "count"),
    ("writers.rows", "count"),
    ("server.self_s", "s"),
    ("server.bytes_out", "bytes"),
    ("jvm.gc_s", "s"),
    ("engine.update_s", "s"),
    ("journal.delta_s", "s"),
    ("journal.bytes_per_user_byte", "ratio"),
    ("journal.spark_jobs", "count"),
    ("journal.materialize_s", "s"),
    ("engine.compaction_s", "s"),
    ("lifecycle.checkpoints", "count"),
    ("lifecycle.checkpoint_s", "s"),
    ("graph.spark_jobs", "count"),
    ("graph.exec_share", "ratio"),
    ("paths.spark_jobs", "count"),
    ("inference.closure_s", "s"),
    ("inference.inferred_triples", "count"),
    ("blockmgr.storage_bytes", "bytes"),
    ("trace.spans_per_request", "count"),
    ("trace.overhead_share", "ratio"),
]

ENGINE_READS = ("engine.select", "engine.ask", "engine.construct", "engine.describe")
LIFECYCLE_FNS = ("checkpoint", "lazy_checkpoint", "protected_checkpoint", "checkpoint_count")
GRAPH_FNS = ("bfs", "sssp", "multi_sssp", "connected_components", "pagerank", "fuzzy_sssp")
PATH_FNS = ("transitive_closure", "reachable_pairs")


def install(tracer: Tracer, spark, endpoint=None) -> None:
    """Wrap the public entry points of every layer the table names."""
    from database_spark import journal as J
    from database_spark.inference import rdfs
    from database_spark.operators import graph, lifecycle, paths
    from database_spark.rio import writers
    from database_spark.server import SparqlEndpoint
    from database_spark.sparql import parser
    from database_spark.sparql.engine import SparqlEngine

    tracer.patch_function(parser, "parse_query", "parser.parse_query")
    for m in ("select", "ask", "construct", "describe"):
        tracer.patch_method(SparqlEngine, m, f"engine.{m}")
    for name in dir(writers):
        if name.startswith("iter_") and callable(getattr(writers, name)):
            tracer.patch_function(writers, name, f"writers.{name}")
    for name in LIFECYCLE_FNS:
        tracer.patch_function(lifecycle, name, f"lifecycle.{name}")
    for name in GRAPH_FNS:
        tracer.patch_function(graph, name, f"graph.{name}")
    for name in PATH_FNS:
        tracer.patch_function(paths, name, f"paths.{name}")
    tracer.patch_function(rdfs, "rdfs_closure", "inference.rdfs_closure")

    # journal commits: remember the version written, so compactions
    # (every COMPACT_EVERY-th version) can be told from delta commits
    orig_commit = J.Journal.__dict__["commit_delta"]
    wrapped_commit = tracer.wrap(orig_commit, "journal.commit_delta")

    def commit_delta(self, *a, **k):
        v = wrapped_commit(self, *a, **k)
        if tracer.enabled:
            last = tracer.last_finished("journal.commit_delta")
            if last is not None:
                last.info["version"] = v
                last.info["full"] = v % J.Journal.COMPACT_EVERY == 0
        return v

    J.Journal.commit_delta = commit_delta
    tracer._undo.append((J.Journal, "commit_delta", orig_commit))

    # updates: tag their Spark jobs with a job group of their own (reads
    # get one from the endpoint)
    sc = spark.sparkContext
    orig_update = SparqlEngine.__dict__["update"]
    wrapped_update = tracer.wrap(orig_update, "engine.update")
    counter = itertools.count(1)

    def update(self, text):
        if not tracer.enabled:
            return orig_update(self, text)
        group = f"perfbench-update-{next(counter)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return wrapped_update(self, text)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            last = tracer.last_finished("engine.update")
            if last is not None:
                last.info["group"] = group

    SparqlEngine.update = update
    tracer._undo.append((SparqlEngine, "update", orig_update))

    # the endpoint's query registration names the job group of a read
    orig_track = SparqlEndpoint.__dict__["_track_query"]

    @contextlib.contextmanager
    def track_query(self, *a, **k):
        with orig_track(self, *a, **k) as key:
            sp = tracer.current()
            if sp is not None:
                sp.info["group"] = key
            yield key

    SparqlEndpoint._track_query = track_query
    tracer._undo.append((SparqlEndpoint, "_track_query", orig_track))

    if endpoint is not None:
        install_handler(tracer, endpoint)


def install_handler(tracer: Tracer, endpoint) -> None:
    """Open a root span per HTTP request, named by the client's rid."""
    handler = endpoint._server.RequestHandlerClass
    for meth in ("do_GET", "do_POST"):
        orig = handler.__dict__[meth]

        def wrapped(h, _orig=orig):
            if not tracer.enabled:
                return _orig(h)
            sp = tracer.begin("server.request", rid=h.headers.get("X-Bench-Rid") or None)
            try:
                return _orig(h)
            finally:
                tracer.finish(sp)

        setattr(handler, meth, wrapped)
        tracer._undo.append((handler, meth, orig))


# ----------------------------------------------------------- reduction
class Attribution:
    """Spans and Spark jobs of one traced window, indexed by request."""

    def __init__(self, spans, jobs, epoch_offset_ms: float):
        self.spans = spans
        self.self_t = self_times(spans)
        self.by_rid: dict = {}
        for sp in spans:
            if sp.rid is not None:
                self.by_rid.setdefault(sp.rid, []).append(sp)
        self.jobs_by_group: dict = {}
        for j in jobs:
            # status-store times are epoch ms; spans use perf_counter
            j.submit = (j.submit - epoch_offset_ms) / 1000.0
            j.end = (j.end - epoch_offset_ms) / 1000.0
            self.jobs_by_group.setdefault(j.group, []).append(j)
        self.jobs = jobs

    def request_spans(self, rid) -> list:
        return self.by_rid.get(rid, [])

    def request_jobs(self, rid) -> list:
        groups = {sp.info.get("group") for sp in self.request_spans(rid)} - {None}
        out = []
        for g in groups:
            out.extend(self.jobs_by_group.get(g, []))
        return out

    def jobs_in(self, sp, jobs) -> list:
        return [j for j in jobs if any(s <= j.submit <= e for s, e in sp.intervals)]

    def innermost(self, rid, j):
        best = None
        for sp in self.request_spans(rid):
            if any(s <= j.submit <= e for s, e in sp.intervals):
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    def dump(self, path: str) -> None:
        """Write every span and Spark job of the window, one JSON object
        per line (times in seconds on the spans' clock)."""
        import json

        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({"span": {**sp.as_dict(), "self": self.self_t[sp.sid]}}) + "\n")
            for j in self.jobs:
                f.write(json.dumps({"job": {k: getattr(j, k) for k in j.__slots__}}) + "\n")


def span_total(spans, prefix: str) -> float:
    return sum(sp.busy for sp in spans if sp.name.startswith(prefix))


def read_request_layers(att: Attribution, reqs, analytic_reqs) -> dict:
    """Per-request means of the read path layers over ``reqs`` (the
    lookup class) and ``analytic_reqs``."""
    parse, compile_, cjobs, ejobs, tasks, wstream, wjobs, wrows = ([] for _ in range(8))
    sself, sbytes, examined, results = [], [], 0, 0
    for r in reqs:
        spans = att.request_spans(r.rid)
        if not spans:
            continue
        jobs = att.request_jobs(r.rid)
        parse.append(span_total(spans, "parser."))
        compile_.append(sum(att.self_t[sp.sid] for sp in spans if sp.name in ENGINE_READS))
        inner = [att.innermost(r.rid, j) for j in jobs]
        cjobs.append(sum(1 for sp in inner if sp is not None and sp.name in ENGINE_READS))
        wjobs.append(sum(1 for sp in inner if sp is not None and sp.name.startswith("writers.")))
        ejobs.append(len(jobs))
        tasks.append(sum(j.tasks for j in jobs))
        wstream.append(span_total(spans, "writers."))
        wrows.append(r.rows)
        sself.extend(att.self_t[sp.sid] for sp in spans if sp.name == "server.request")
        sbytes.append(r.nbytes)
        examined += sum(j.input_records for j in jobs)
        results += max(1, r.rows)
    first_row, shuffle, inp = [], [], []
    for r in analytic_reqs:
        spans = att.request_spans(r.rid)
        if not spans:
            continue
        w = [sp for sp in spans if sp.name.startswith("writers.")]
        if w:
            iv = sorted(w[0].intervals)
            first_row.append(iv[min(1, len(iv) - 1)][1] - iv[0][0])
        jobs = att.request_jobs(r.rid)
        shuffle.append(sum(j.shuffle_bytes for j in jobs))
        inp.append(sum(j.input_bytes for j in jobs))
    return {
        "parser.parse_s": mean(parse),
        "compiler.compile_s": mean(compile_),
        "compiler.spark_jobs": mean(cjobs),
        "exec.first_row_s": mean(first_row),
        "exec.shuffle_bytes": mean(shuffle),
        "exec.input_bytes": mean(inp),
        "exec.spark_jobs": mean(ejobs),
        "exec.tasks": mean(tasks),
        "exec.rows_examined_per_result": examined / results if results else 0.0,
        "writers.stream_s": mean(wstream),
        "writers.spark_jobs": mean(wjobs),
        "writers.rows": mean(wrows),
        "server.self_s": mean(sself),
        "server.bytes_out": mean(sbytes),
    }


def update_layers(att: Attribution) -> dict:
    ups = [sp for sp in att.spans if sp.name == "engine.update"]
    commits = [sp for sp in att.spans if sp.name == "journal.commit_delta"]
    deltas = [sp for sp in commits if not sp.info.get("full")]
    fulls = [sp for sp in commits if sp.info.get("full")]
    jjobs = []
    for sp in commits:
        group = next(
            (u.info.get("group") for u in ups if u.start <= sp.start and sp.end <= u.end), None
        )
        jjobs.append(len(att.jobs_in(sp, att.jobs_by_group.get(group, []))))
    # the engine's own lineage compaction: the protected checkpoint an
    # update takes outside the journal commit
    comp = 0.0
    for sp in att.spans:
        if sp.name != "lifecycle.protected_checkpoint":
            continue
        inside_update = any(u.start <= sp.start and sp.end <= u.end for u in ups)
        inside_commit = any(c.start <= sp.start and sp.end <= c.end for c in commits)
        if inside_update and not inside_commit:
            comp += sp.busy
    n = max(1, len(ups))
    return {
        "engine.update_s": mean([sp.busy for sp in ups]),
        "journal.delta_s": mean([sp.busy for sp in deltas]),
        "journal.spark_jobs": mean(jjobs),
        "journal.materialize_s": sum(sp.busy for sp in fulls) / n,
        "engine.compaction_s": comp / n,
    }


def graph_layers(att: Attribution, results, nproc: int) -> dict:
    """Per-pass means of the graph-program layers.  ``results`` are the
    graph client's (pass, kind, src, status, seconds, body) tuples."""
    passes = max(1, len({r[0] for r in results}))
    graph_jobs, graph_run_ms, graph_wall, path_jobs = 0, 0.0, 0.0, 0
    for p, kind, _src, _st, lat, _b in results:
        if kind == "closure":
            continue
        jobs = att.request_jobs(f"g{p}-{kind}")
        if kind == "path":
            path_jobs += len(jobs)
        else:
            graph_jobs += len(jobs)
            graph_run_ms += sum(j.run_ms for j in jobs)
            graph_wall += lat
    # the graph client's checkpoints: not those of the updates (rid w-*)
    # or funnel stages (rid f*)
    ckpt = [
        sp for sp in att.spans
        if sp.name.startswith("lifecycle.") and not (sp.rid or "").startswith(("w-", "f"))
    ]
    closure = [sp for sp in att.spans if sp.name == "inference.rdfs_closure"]
    return {
        "lifecycle.checkpoints": len(ckpt) / passes,
        "lifecycle.checkpoint_s": sum(sp.busy for sp in ckpt) / passes,
        "graph.spark_jobs": graph_jobs / passes,
        "graph.exec_share": graph_run_ms / 1000.0 / max(1e-9, graph_wall * nproc),
        "paths.spark_jobs": path_jobs / passes,
        "inference.closure_s": mean(sp.busy for sp in closure),
        "parser.parse_s": mean(
            span_total(att.request_spans(f"g{r[0]}-{r[1]}"), "parser.") for r in results if r[1] != "closure"
        ),
    }


def traced(ctx, win, n_requests: int, busy_s: float, fill) -> tuple[dict, Attribution]:
    """The per-layer metrics of a traced window: ``fill(att)`` returns
    the workload's layer values; GC, block-manager storage and the
    tracing cost are added here."""
    att = Attribution(ctx.tracer.spans(), win.jobs(), win.epoch_offset_ms)
    values = fill(att)
    values["jvm.gc_s"] = win.gc_s
    values["blockmgr.storage_bytes"] = harness.storage_bytes(ctx.spark)
    return finish(values, att, n_requests, wrapper_cost(), busy_s), att


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def finish(values: dict, att: Attribution, n_requests: int, wrapper_s: float, busy_s: float) -> dict:
    """Fill every per-layer metric (0 where the workload does not reach
    the layer) and add the tracing cost."""
    out = {name: float(values.get(name, 0.0)) for name, _u in PER_LAYER}
    n_spans = len(att.spans)
    out["trace.spans_per_request"] = n_spans / max(1, n_requests)
    out["trace.overhead_share"] = n_spans * wrapper_s / busy_s if busy_s > 0 else 0.0
    return {name: {"value": out[name], "unit": unit} for name, unit in PER_LAYER}

