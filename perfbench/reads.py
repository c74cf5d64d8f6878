"""The read request mix over the TPC-H-style graph and its DuckDB check.

Lookup class (point reads a query service answers from a few triples):
``<urn:c:K> ?p ?o`` / ``<urn:o:K> ?p ?o``, ``?s ?p <urn:n:N>``, ASK,
``DESCRIBE <urn:c:K>`` and ``bds:search`` on a customer-name token.
Analytic class: a BGP star with FILTER and LIMIT, GROUP BY over orders,
OPTIONAL, and ORDER BY with LIMIT.

Keys are Zipf-skewed over the customer and order subjects with a seeded
permutation, so a hot head of keys repeats (and fits the engine's
64-entry DESCRIBE cache) while the tail does not.

Every answer is checked after the timed window against DuckDB over the
same parquet files the graph was built from.
"""

from __future__ import annotations

import json
import re

import numpy as np

from gen import PRIORITIES, SEGMENTS, STATUSES, N_NATIONS, Zipf

T = "urn:tpch:"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
PREFIX = "PREFIX t: <urn:tpch:> PREFIX bds: <http://www.bigdata.com/rdf/search#> "
JSON = "application/sparql-results+json"
NTRIPLES = "application/n-triples"

LOOKUP_KINDS = ("spo", "rev", "ask", "describe", "search")
#: one block of ten requests: 7 lookups and 3 analytic reads, in a
#: seeded order; blocks alternate between the two analytic sets.  A
#: client stops only at a block boundary, so every run sends the same
#: mix of kinds.
LOOKUP_BLOCK = ("spo", "spo", "spo", "rev", "ask", "describe", "search")
BLOCK = LOOKUP_BLOCK + ("star", "group", "top")
BLOCK_ALT = LOOKUP_BLOCK + ("optional", "group", "star")


class Request:
    __slots__ = ("rid", "kind", "cls", "text", "accept", "params", "status", "latency",
                 "nbytes", "rows", "body", "t_end")

    def __init__(self, rid, kind, text, accept, params):
        self.rid = rid
        self.kind = kind
        self.cls = "lookup" if kind in LOOKUP_KINDS else "analytic"
        self.text = text
        self.accept = accept
        self.params = params
        self.status = 0
        self.latency = 0.0
        self.nbytes = 0
        self.rows = 0
        self.body = b""
        self.t_end = 0.0


class ReadMix:
    """Seeded request stream of one client."""

    def __init__(self, seed: int, client: int, n_customers: int, lookup_only: bool = False):
        self.rng = np.random.default_rng([seed, 10, client])
        self.nc = n_customers
        self.no = 10 * n_customers
        # the key permutation is shared by every client (same hot set)
        shared = np.random.default_rng([seed, 11])
        self.subjects = Zipf(shared, self.nc + self.no)
        self.customers = Zipf(np.random.default_rng([seed, 12]), self.nc)
        self.subjects.rng = self.rng
        self.customers.rng = self.rng
        self.lookup_only = lookup_only
        self.client = client
        self.n = 0
        self.pending: list = []

    def _next_kind(self) -> str:
        if not self.pending:
            # clients start on different block kinds, so a run of one
            # block per client still sends every kind
            block = list(BLOCK if (self.n // 10 + self.client) % 2 == 0 else BLOCK_ALT)
            if self.lookup_only:
                block = [k for k in block if k in LOOKUP_KINDS]
            self.rng.shuffle(block)
            self.pending = block
        return self.pending.pop()

    def next(self) -> Request:
        return self.request(self._next_kind())

    def request(self, kind: str) -> Request:
        """A request of ``kind`` with this client's next keys."""
        self.n += 1
        rid = f"r{self.client}-{self.n}"
        rng = self.rng
        if kind == "spo":
            k = self.subjects.draw()
            subj = f"urn:c:{k}" if k < self.nc else f"urn:o:{k - self.nc}"
            return Request(rid, kind, f"SELECT ?p ?o WHERE {{ <{subj}> ?p ?o }}", JSON, {"subj": subj})
        if kind == "rev":
            n = int(rng.integers(0, N_NATIONS))
            return Request(rid, kind, f"SELECT ?s ?p WHERE {{ ?s ?p <urn:n:{n}> }}", JSON, {"n": n})
        if kind == "ask":
            k = self.customers.draw()
            seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
            return Request(
                rid, kind, PREFIX + f'ASK {{ <urn:c:{k}> t:mktsegment "{seg}" }}', JSON,
                {"k": k, "seg": seg},
            )
        if kind == "describe":
            k = self.customers.draw()
            return Request(rid, kind, f"DESCRIBE <urn:c:{k}>", NTRIPLES, {"k": k})
        if kind == "search":
            k = self.customers.draw()
            tok = f"{k:09d}"
            return Request(
                rid, kind,
                PREFIX + f'SELECT ?s ?lit WHERE {{ ?lit bds:search "{tok}" . ?s t:name ?lit }}',
                JSON, {"tok": tok},
            )
        if kind == "star":
            st = STATUSES[int(rng.integers(0, len(STATUSES)))]
            lo = float(np.round(rng.uniform(400000, 540000), 2))
            return Request(
                rid, kind,
                PREFIX + "SELECT ?o ?c ?p WHERE { ?o t:customer ?c ; t:totalprice ?p ; "
                f't:orderstatus "{st}" . FILTER(?p > {lo}) }} LIMIT 20',
                JSON, {"st": st, "lo": lo},
            )
        if kind == "group":
            lo = float(np.round(rng.uniform(0, 400000), 2))
            hi = lo + 100000.0
            return Request(
                rid, kind,
                PREFIX + "SELECT ?st (COUNT(?o) AS ?n) (SUM(?p) AS ?tot) WHERE { "
                f"?o t:orderstatus ?st ; t:totalprice ?p . FILTER(?p >= {lo} && ?p < {hi}) }} "
                "GROUP BY ?st",
                JSON, {"lo": lo, "hi": hi},
            )
        if kind == "optional":
            seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
            n = int(rng.integers(0, N_NATIONS))
            x = float(np.round(rng.uniform(0, 9000), 2))
            return Request(
                rid, kind,
                PREFIX + f'SELECT ?c ?n ?b WHERE {{ ?c t:mktsegment "{seg}" ; t:nation <urn:n:{n}> ; '
                f"t:name ?n . OPTIONAL {{ ?c t:acctbal ?b . FILTER(?b > {x}) }} }}",
                JSON, {"seg": seg, "n": n, "x": x},
            )
        pr = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))]
        return Request(
            rid, "top",
            PREFIX + f'SELECT ?o ?p WHERE {{ ?o t:totalprice ?p ; t:priority "{pr}" }} '
            "ORDER BY DESC(?p) LIMIT 10",
            JSON, {"pr": pr},
        )


# ------------------------------------------------------------- parsing
_NT = re.compile(r'^(<[^>]*>|_:\S+) (<[^>]*>) (.*) \.\s*$')
_LIT = re.compile(r'^"(.*)"(?:\^\^<([^>]*)>|@[\w-]+)?$')
_NUMERIC = ("integer", "decimal", "double", "float", "long", "int")


def _norm_value(value: str, datatype: str | None):
    if datatype and datatype.rsplit("#", 1)[-1] in _NUMERIC:
        return round(float(value), 4)
    return value


def json_rows(body: bytes) -> tuple[list[dict], bool | None]:
    doc = json.loads(body)
    if "boolean" in doc:
        return [], bool(doc["boolean"])
    rows = []
    for b in doc["results"]["bindings"]:
        rows.append({k: _norm_value(v["value"], v.get("datatype")) for k, v in b.items()})
    return rows, None


def nt_triples(body: bytes) -> set:
    out = set()
    for line in body.decode().splitlines():
        if not line.strip():
            continue
        m = _NT.match(line)
        if m is None:
            raise ValueError(f"bad N-Triples line: {line[:120]}")
        s, p, o = m.groups()
        if o.startswith("<"):
            ov = o[1:-1]
        else:
            lm = _LIT.match(o)
            if lm is None:
                raise ValueError(f"bad literal: {o[:120]}")
            ov = _norm_value(lm.group(1), lm.group(2))
        out.add((s[1:-1], p[1:-1], ov))
    return out


def count_rows(req: Request) -> int:
    if req.accept == NTRIPLES:
        return sum(1 for ln in req.body.splitlines() if ln.strip())
    try:
        rows, _b = json_rows(req.body)
    except (ValueError, KeyError):
        return 0
    return len(rows)


# ---------------------------------------------------------------- check
class Oracle:
    """Expected answers from DuckDB over the source parquet files."""

    def __init__(self, paths: dict[str, str]):
        import duckdb

        self.db = duckdb.connect()
        for name, path in paths.items():
            self.db.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def q(self, sql: str, *args):
        return self.db.execute(sql, list(args)).fetchall()

    def customer_triples(self, k: int) -> set:
        rows = self.q(
            "SELECT c_name, c_acctbal, c_mktsegment, c_nationkey FROM customer WHERE c_custkey = ?", k
        )
        out = set()
        for name, bal, seg, nat in rows:
            s = f"urn:c:{k}"
            out |= {
                (s, T + "name", name),
                (s, T + "acctbal", round(float(bal), 4)),
                (s, T + "mktsegment", seg),
                (s, T + "nation", f"urn:n:{nat}"),
                (s, RDF_TYPE, T + "Customer"),
            }
        return out

    def order_triples(self, k: int) -> set:
        rows = self.q(
            "SELECT o_custkey, o_totalprice, o_orderstatus, o_orderpriority FROM orders "
            "WHERE o_orderkey = ?", k,
        )
        out = set()
        for ck, price, st, pr in rows:
            s = f"urn:o:{k}"
            out |= {
                (s, T + "customer", f"urn:c:{ck}"),
                (s, T + "totalprice", round(float(price), 4)),
                (s, T + "orderstatus", st),
                (s, T + "priority", pr),
                (s, RDF_TYPE, T + "Order"),
            }
        return out

    def expected(self, req: Request):
        p = req.params
        if req.kind == "spo":
            kind, key = p["subj"].split(":")[1], int(p["subj"].rsplit(":", 1)[1])
            trips = self.customer_triples(key) if kind == "c" else self.order_triples(key)
            return sorted((t[1], str(t[2])) for t in trips)
        if req.kind == "rev":
            rows = self.q("SELECT c_custkey FROM customer WHERE c_nationkey = ?", p["n"])
            return sorted((f"urn:c:{k}", T + "nation") for (k,) in rows)
        if req.kind == "ask":
            (n,) = self.q(
                "SELECT count(*) FROM customer WHERE c_custkey = ? AND c_mktsegment = ?",
                p["k"], p["seg"],
            )[0]
            return n > 0
        if req.kind == "describe":
            k = p["k"]
            out = self.customer_triples(k)
            for (ok,) in self.q("SELECT o_orderkey FROM orders WHERE o_custkey = ?", k):
                out.add((f"urn:o:{ok}", T + "customer", f"urn:c:{k}"))
            return out
        if req.kind == "search":
            rows = self.q(
                "SELECT c_custkey, c_name FROM customer "
                "WHERE list_contains(regexp_split_to_array(lower(c_name), '[^a-z0-9]+'), ?)",
                p["tok"],
            )
            return sorted((f"urn:c:{k}", name) for k, name in rows)
        if req.kind == "star":
            rows = self.q(
                "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                "WHERE o_orderstatus = ? AND o_totalprice > ?", p["st"], p["lo"],
            )
            return {(f"urn:o:{o}", f"urn:c:{c}", str(round(float(pr), 4))) for o, c, pr in rows}
        if req.kind == "group":
            rows = self.q(
                "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM orders "
                "WHERE o_totalprice >= ? AND o_totalprice < ? GROUP BY 1", p["lo"], p["hi"],
            )
            return {st: (n, float(tot)) for st, n, tot in rows}
        if req.kind == "optional":
            rows = self.q(
                "SELECT c_custkey, c_name, CASE WHEN c_acctbal > ? THEN c_acctbal END FROM customer "
                "WHERE c_mktsegment = ? AND c_nationkey = ?", p["x"], p["seg"], p["n"],
            )
            return sorted(
                (f"urn:c:{k}", name, "" if b is None else str(round(float(b), 4)))
                for k, name, b in rows
            )
        rows = self.q(
            "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = ? "
            "ORDER BY o_totalprice DESC LIMIT 10", p["pr"],
        )
        return [round(float(pr), 4) for _o, pr in rows]

    def matches(self, req: Request) -> bool:
        """Does the reply of ``req`` equal DuckDB's answer?"""
        if req.status != 200:
            return False
        exp = self.expected(req)
        if req.kind == "describe":
            return nt_triples(req.body) == exp
        rows, boolean = json_rows(req.body)
        if req.kind == "ask":
            return boolean is exp
        if req.kind == "spo":
            return sorted((r["p"], str(r["o"])) for r in rows) == exp
        if req.kind == "rev":
            return sorted((r["s"], r["p"]) for r in rows) == exp
        if req.kind == "search":
            return sorted((r["s"], r["lit"]) for r in rows) == exp
        if req.kind == "star":
            got = [(r["o"], r["c"], str(r["p"])) for r in rows]
            return len(got) == min(20, len(exp)) and len(set(got)) == len(got) and set(got) <= exp
        if req.kind == "group":
            got = {r["st"]: (int(r["n"]), float(r["tot"])) for r in rows}
            return got.keys() == exp.keys() and all(
                got[k][0] == exp[k][0] and abs(got[k][1] - exp[k][1]) <= 1e-6 * max(1.0, abs(exp[k][1]))
                for k in exp
            )
        if req.kind == "optional":
            got = sorted((r["c"], r["n"], str(r.get("b", ""))) for r in rows)
            return got == exp
        got = [round(float(r["p"]), 4) for r in rows]
        return got == exp
