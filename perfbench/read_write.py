"""Workload ``read-write``: durable updates beside point reads.

The ``sparql-read`` graph imported into a ``Journal`` and served by
``Journal.durable_engine()``: every acknowledged update is a journal
commit on disk before the 200 reply.  One closed-loop writer POSTs a
seeded mix of INSERT DATA (a new order, 4-5 triples), DELETE DATA of an
earlier insert, and DELETE/INSERT WHERE on one customer's balance, in
whole cycles of eight updates (each cycle holds one journal
materialization and one engine lineage compaction); one closed-loop
reader sends the lookup class of ``reads.py`` until the writer is done.
The journal flushes the way its own write path does; latencies are this
machine's.  ``Durable`` (journal, endpoint and writer) is also the
writer client of ``graph-analytics``.

Check: after the window the journal is reopened from disk and must hold
the base graph plus the acknowledged inserts minus the acknowledged
deletes, with every acknowledged balance change.
"""

from __future__ import annotations

import shutil
import sys
import threading
import time

import numpy as np

import harness
import layers
from gen import PRIORITIES, STATUSES, pristine_journal, tpch_graph
from reads import RDF_TYPE, T, Oracle, ReadMix
from sparql_read import BUCKETS, N_CUSTOMERS, N_CUSTOMERS_SMALL, latency_metrics, read_layers, send_reads

XSD_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"
#: keys of inserted orders start here, above every generated order key
NEW_ORDER_BASE = 10_000_000


class Writer:
    """Seeded update stream; remembers what each acknowledged update did."""

    def __init__(self, seed: int, nc: int):
        self.rng = np.random.default_rng([seed, 20])
        self.nc = nc
        self.n = 0
        self.live: list = []  # acknowledged inserts not yet deleted
        self.pending: list = []
        self.balance: dict = {}  # customer -> acknowledged acctbal
        self.inserted: dict = {}  # order key -> triples (acknowledged)
        self.deleted: set = set()
        self.user_bytes = 0

    def _order_triples(self, key: int):
        rng = self.rng
        s = f"urn:o:{key}"
        trips = [
            (s, T + "customer", ("iri", f"urn:c:{int(rng.integers(0, self.nc))}")),
            (s, T + "totalprice", ("double", f"{float(np.round(rng.uniform(850, 550000), 2))}")),
            (s, T + "orderstatus", ("str", STATUSES[int(rng.integers(0, len(STATUSES)))])),
            (s, T + "priority", ("str", PRIORITIES[int(rng.integers(0, len(PRIORITIES)))])),
        ]
        if rng.random() < 0.5:
            trips.append((s, RDF_TYPE, ("iri", T + "Order")))
        return trips

    @staticmethod
    def nt(trips) -> str:
        out = []
        for s, p, (kind, v) in trips:
            if kind == "iri":
                o = f"<{v}>"
            elif kind == "double":
                o = f'"{v}"^^<{XSD_DOUBLE}>'
            else:
                o = f'"{v}"'
            out.append(f"<{s}> <{p}> {o} .")
        return "\n".join(out)

    def next(self):
        """(op, update text, payload) of the next update."""
        if not self.pending:
            block = ["insert", "insert", "modify", "delete"]
            self.rng.shuffle(block)
            self.pending = block
        op = self.pending.pop()
        self.n += 1
        if op == "delete" and not self.live:
            op = "insert"
        if op == "insert":
            key = NEW_ORDER_BASE + self.n
            trips = self._order_triples(key)
            return op, f"INSERT DATA {{ {self.nt(trips)} }}", (key, trips)
        if op == "delete":
            key, trips = self.live[int(self.rng.integers(0, len(self.live)))]
            return op, f"DELETE DATA {{ {self.nt(trips)} }}", (key, trips)
        c = int(self.rng.integers(0, self.nc))
        v = f"{float(np.round(self.rng.uniform(-999.99, 9999.99), 2))}"
        text = (
            f"DELETE {{ <urn:c:{c}> <{T}acctbal> ?b }} "
            f'INSERT {{ <urn:c:{c}> <{T}acctbal> "{v}"^^<{XSD_DOUBLE}> }} '
            f"WHERE {{ <urn:c:{c}> <{T}acctbal> ?b }}"
        )
        return op, text, (c, v)

    def acknowledged(self, op: str, payload, text: str) -> None:
        self.user_bytes += len(text.encode())
        if op == "insert":
            self.live.append(payload)
            self.inserted[payload[0]] = payload[1]
        elif op == "delete":
            self.live = [x for x in self.live if x[0] != payload[0]]
            self.deleted.add(payload[0])
        else:
            self.balance[payload[0]] = payload[1]


#: updates per cycle: every COMPACT_EVERY-th journal version is a full
#: materialization and every 8th engine commit a lineage compaction, so
#: any CYCLE consecutive updates hold exactly one of each
CYCLE = 8


def write_loop(url, writer: Writer, stop, updates: list) -> None:
    """Closed-loop writer: POST the next update when the last reply has
    arrived, in whole cycles of ``CYCLE`` updates, at least one, until
    ``stop()`` is true at a cycle boundary."""
    c = harness.Client(url)
    try:
        n = 0
        while n < CYCLE or n % CYCLE or not stop():
            op, text, payload = writer.next()
            n += 1
            status, _body, lat = c.update(text, f"w-{n}")
            updates.append((op, status, lat, time.perf_counter()))
            if status == 200:
                writer.acknowledged(op, payload, text)
    finally:
        c.close()


class Durable:
    """The durable write path of a run: a copy of the pristine journal
    served by ``Journal.durable_engine()`` behind its own endpoint, and
    the seeded writer that updates it."""

    def __init__(self, ctx, nc: int):
        from database_spark.journal import Journal
        from database_spark.server import SparqlEndpoint

        self.ctx = ctx
        self.paths, self.store_dir = tpch_graph(ctx.spark, nc, BUCKETS)
        self.jpath = ctx.path("journal")
        pristine, self.n_base = pristine_journal(ctx.spark, self.store_dir, nc)
        shutil.copytree(pristine, self.jpath)
        self.endpoint = SparqlEndpoint(Journal(ctx.spark, self.jpath).durable_engine()).start()
        self.writer = Writer(ctx.seed, nc)
        self.updates: list = []
        self.jbytes0 = harness.dir_bytes(self.jpath)

    def loop(self, stop) -> None:
        write_loop(self.endpoint.url, self.writer, stop, self.updates)

    def stop(self) -> None:
        self.endpoint.stop()

    def check(self) -> int:
        """Failed updates plus mismatches of the reopened journal."""
        failed = sum(1 for u in self.updates if u[1] != 200)
        return failed + check_journal(self.ctx.spark, self.jpath, self.n_base, Oracle(self.paths), self.writer)

    def busy_s(self) -> float:
        return sum(u[2] for u in self.updates)

    def metrics(self) -> tuple[dict, dict]:
        um, umeta = latency_metrics([u[2] for u in self.updates if u[1] == 200], "update")
        umeta["updates_by_op"] = {
            op: sum(1 for u in self.updates if u[0] == op) for op in ("insert", "delete", "modify")
        }
        return um, umeta

    def layer_values(self, att) -> dict:
        vals = layers.update_layers(att)
        vals["journal.bytes_per_user_byte"] = (
            (harness.dir_bytes(self.jpath) - self.jbytes0) / max(1, self.writer.user_bytes)
        )
        return vals


def check_journal(spark, path: str, n_base: int, oracle: Oracle, writer: Writer) -> int:
    """Reopen the journal from disk and compare it with the base graph
    (``n_base`` statements; a touched customer's other triples from
    DuckDB) plus every acknowledged change.  Returns the number of
    mismatching subjects (a wrong total counts as one more)."""
    from database_spark.journal import Journal
    from database_spark.sparql.engine import SparqlEngine

    reopened = SparqlEngine(Journal(spark, path).open())
    failed = 0
    live = {k: t for k, t in writer.inserted.items() if k not in writer.deleted}
    expected = set()
    for trips in live.values():
        expected |= {(s, p, v) for s, p, (_k, v) in trips}
    for c, v in writer.balance.items():
        expected.add((f"urn:c:{c}", T + "acctbal", v))
        expected |= {t for t in oracle.customer_triples(c) if t[1] != T + "acctbal"}
    subjects = sorted({f"urn:o:{k}" for k in writer.inserted} | {f"urn:c:{c}" for c in writer.balance})
    got = set()
    if subjects:
        values = " ".join(f"<{s}>" for s in subjects)
        rows = reopened.select(f"SELECT ?s ?p ?o WHERE {{ VALUES ?s {{ {values} }} ?s ?p ?o }}").df.collect()
        got = {(r["s"]["lex"], r["p"]["lex"], r["o"]["lex"]) for r in rows}
    for s in subjects:
        g = {(p, _num(o)) for s2, p, o in got if s2 == s}
        e = {(p, _num(o)) for s2, p, o in expected if s2 == s}
        if g != e:
            failed += 1
            print(f"perfbench: journal reopen differs for {s}", file=sys.stderr)
    n_live = sum(len(t) for t in live.values())
    n_got = reopened.store.df.count()
    if n_got != n_base + n_live:
        failed += 1
        print(f"perfbench: journal reopen holds {n_got} statements, expected {n_base + n_live}", file=sys.stderr)
    return failed


def _num(v: str):
    try:
        return round(float(v), 4)
    except ValueError:
        return v


def run(ctx, process_age) -> dict:
    nc = N_CUSTOMERS_SMALL if ctx.small else N_CUSTOMERS
    dur = Durable(ctx, nc)
    url = dur.endpoint.url
    # warm-up: a few lookups (another client id: same hot keys, other draws)
    c = harness.Client(url)
    try:
        wmix = ReadMix(ctx.seed, 100, nc, lookup_only=True)
        for _ in range(5):
            r = wmix.next()
            c.query(r.text, r.accept)
    finally:
        c.close()
    if ctx.trace:
        layers.install(ctx.tracer, ctx.spark, dur.endpoint)
    setup_s = harness.setup_seconds(process_age)

    mix = ReadMix(ctx.seed, 0, nc, lookup_only=True)
    reqs: list = []
    layer_vals = att = None
    try:
        with harness.Window(ctx) as win:
            deadline = win.t0 + (0 if ctx.small else ctx.seconds)
            writer_done = threading.Event()

            def write():
                try:
                    dur.loop(lambda: time.perf_counter() >= deadline)
                finally:
                    writer_done.set()

            threads = [
                threading.Thread(target=write, daemon=True),
                threading.Thread(
                    target=send_reads, args=(url, mix, writer_done.is_set, reqs, False), daemon=True
                ),
            ]
            for th in threads:
                th.start()
            for th in threads:
                th.join()
        win.t1 = max([u[3] for u in dur.updates] + [r.t_end for r in reqs] + [win.t0])
        if ctx.trace:
            busy = dur.busy_s() + sum(r.latency for r in reqs)

            def fill(att):
                vals = read_layers(reqs)(att)
                vals.update(dur.layer_values(att))
                return vals

            layer_vals, att = layers.traced(ctx, win, len(dur.updates) + len(reqs), busy, fill)
    finally:
        dur.stop()
        if ctx.tracer is not None:
            ctx.tracer.uninstall()

    failed = dur.check()
    # reader answers: checked against DuckDB unless a customer the
    # writer touched is involved (its answer depends on timing)
    writer = dur.writer
    touched = set(writer.balance)
    touched |= {int(t[0][2][1].rsplit(":", 1)[1]) for t in writer.inserted.values()}
    oracle = Oracle(dur.paths)
    for r in reqs:
        if r.status != 200:
            failed += 1
            continue
        key = r.params.get("k")
        subj = r.params.get("subj", "")
        if key in touched or (subj.startswith("urn:c:") and int(subj[6:]) in touched):
            continue
        if not oracle.matches(r):
            failed += 1
            print(f"perfbench: wrong answer {r.kind}: {r.text[:160]}", file=sys.stderr)

    um, umeta = dur.metrics()
    lm, lmeta = latency_metrics([r.latency for r in reqs if r.status == 200], "lookup")
    window = max(1e-9, win.t1 - win.t0)
    commits = sum(1 for u in dur.updates if u[1] == 200)
    read_qps = sum(1 for r in reqs if r.status == 200) / window
    return {
        "attempted": len(dur.updates) + len(reqs),
        "failed": failed,
        "metrics": harness.e2e_metrics(setup_s, win.rss_mb, read_qps),
        "layers": layer_vals,
        "trace": att,
        "meta": {
            "workload_metrics": {**lm, **um, "commits_per_s": commits / window, "read_qps": read_qps},
            **lmeta,
            **umeta,
            "window_s": window,
            "gc_s": win.gc_s,
            "customers": nc,
        },
    }
