"""Seeded input generators.

The data sets (the TPC-H-style tables and the graph built from them, the
link graph, the class hierarchy) are generated from the fixed
``DATA_SEED``, like a benchmark's fixed scale-factor tables, and built
once per checkout (see ``harness.cached``).  Everything a run sends —
request keys, parameters, traversal sources, update payloads — comes
from ``--seed``.  The same seed gives the same inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25

DATA_SEED = 20160901

#: tables of the graph and the catalog mapping each is rdfized with
GRAPH_TABLES = ("customer", "orders", "nation")


def tpch_tables(seed: int, n_customers: int, out_dir: str) -> dict[str, str]:
    """customer / orders (10 per customer) / nation parquet files with
    the column names and types of the TPC-H test tables.  Returns
    table → path."""
    rng = np.random.default_rng([seed, 1])
    nc = n_customers
    no = 10 * nc
    tables = {
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
                "o_orderstatus": pa.array(rng.choice(STATUSES, no)),
                "o_totalprice": pa.array(np.round(rng.uniform(850.0, 550000.0, no), 2)),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
                "n_name": pa.array([f"NATION{i:02d}" for i in range(N_NATIONS)]),
                "n_regionkey": pa.array((np.arange(N_NATIONS) % 5).astype(np.int32)),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, tbl in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


def build_graph_store(spark, paths: dict[str, str], store_dir: str, buckets: int):
    """rdfize the tables with the catalog's direct mapping and save them
    as the predicate-bucketed parquet store."""
    from __spark_entry__ import _MAPPINGS
    from database_spark.store import TripleStore, rdfize

    parts = [rdfize(spark, spark.read.parquet(paths[t]), _MAPPINGS[t]) for t in GRAPH_TABLES]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    TripleStore.from_term_structs(spark, u, dedupe=False).save(
        store_dir, partition_by_predicate=True, buckets=buckets
    )


def tpch_graph(spark, n_customers: int, buckets: int) -> tuple[dict[str, str], str]:
    """The cached TPC-H-style data set: (table → parquet path, store dir)."""
    import harness

    def build(d):
        paths = tpch_tables(DATA_SEED, n_customers, os.path.join(d, "tables"))
        build_graph_store(spark, paths, os.path.join(d, "store"), buckets)

    d = harness.cached(f"tpch-{n_customers}", build)
    tables = os.path.join(d, "tables")
    return (
        {t: os.path.join(tables, f"{t}.parquet") for t in GRAPH_TABLES},
        os.path.join(d, "store"),
    )


#: graph-analytics data set: vertices, preferential and uniform links
#: per vertex; classes and typed instances of the hierarchy
N_VERTICES, PREFERENTIAL, UNIFORM = 4000, 2, 3
N_VERTICES_SMALL = 600
N_CLASSES, N_INSTANCES = 32, 4000
N_CLASSES_SMALL, N_INSTANCES_SMALL = 16, 500
SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _save_store(spark, rows, path):
    """(s, p, o) IRI triples → saved TripleStore."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from database_spark import terms as T
    from database_spark.store import TripleStore

    src = path + ".src.parquet"
    s, p, o = zip(*rows)
    pq.write_table(pa.table({"s": list(s), "p": list(p), "o": list(o)}), src)
    df = spark.read.parquet(src).select(
        T.iri_col(F.col("s")).alias("st"), T.iri_col(F.col("p")).alias("pt"), T.iri_col(F.col("o")).alias("ot")
    )
    TripleStore.from_term_structs(spark, df, dedupe=False).save(path)
    os.remove(src)


def graph_data(spark, small: bool) -> str:
    """The cached link graph and class hierarchy: a dir with
    ``edges.json``, ``hierarchy.json`` and the saved stores ``links``
    and ``classes``."""
    nv = N_VERTICES_SMALL if small else N_VERTICES
    ncl, ni = (N_CLASSES_SMALL, N_INSTANCES_SMALL) if small else (N_CLASSES, N_INSTANCES)

    def build(d):
        edges = link_graph(DATA_SEED, nv, PREFERENTIAL, UNIFORM)
        with open(os.path.join(d, "edges.json"), "w") as f:
            json.dump(edges, f)
        _save_store(spark, [(f"urn:v:{a}", "urn:link", f"urn:v:{b}") for a, b in edges], os.path.join(d, "links"))
        parent, inst = class_hierarchy(DATA_SEED, ncl, ni)
        with open(os.path.join(d, "hierarchy.json"), "w") as f:
            json.dump({"parent": parent, "inst": inst}, f)
        rows = [(f"urn:k:{i}", SUBCLASS, f"urn:k:{p}") for i, p in enumerate(parent) if p >= 0]
        rows += [(f"urn:i:{i}", RDF_TYPE, f"urn:k:{k}") for i, k in enumerate(inst)]
        _save_store(spark, rows, os.path.join(d, "classes"))

    import harness

    return harness.cached(f"graph-{nv}-{ni}", build)


def pristine_journal(spark, store_dir: str, n_customers: int) -> tuple[str, int]:
    """A journal whose head is the TPC-H-style graph, built once per
    checkout; every run that writes works on a copy.  Returns (journal
    dir, number of statements at its head)."""
    import harness
    from database_spark.journal import Journal
    from database_spark.store import TripleStore

    def build(d):
        store = TripleStore.load(spark, store_dir)
        Journal(spark, os.path.join(d, "journal")).commit(store)
        with open(os.path.join(d, "base.json"), "w") as f:
            json.dump({"statements": store.df.count()}, f)

    d = harness.cached(f"journal-{n_customers}", build)
    with open(os.path.join(d, "base.json")) as f:
        return os.path.join(d, "journal"), json.load(f)["statements"]


class Zipf:
    """Zipf(s) over ``n`` keys with a seeded rank → key permutation, so
    the hot keys differ between seeds but the skew does not."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self) -> int:
        r = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return int(self.perm[min(r, len(self.perm) - 1)])


def link_graph(seed: int, n_vertices: int, preferential: int, uniform: int) -> list[tuple[int, int]]:
    """Directed graph with power-law in-degree and a small diameter:
    every vertex links to ``preferential`` targets drawn with weight
    1/rank^0.9 (a few hubs collect most in-links) and ``uniform`` targets
    drawn uniformly (which keeps most vertices reachable in a dozen
    hops).  Self-loops and duplicate edges are dropped.  Returns sorted
    distinct (src, dst) pairs."""
    rng = np.random.default_rng([seed, 2])
    w = 1.0 / np.arange(1, n_vertices + 1) ** 0.9
    cdf = np.cumsum(w / w.sum())
    perm = rng.permutation(n_vertices)
    src = np.repeat(np.arange(n_vertices), preferential)
    dst = perm[np.minimum(np.searchsorted(cdf, rng.random(src.size), side="right"), n_vertices - 1)]
    src_u = np.repeat(np.arange(n_vertices), uniform)
    dst_u = rng.integers(0, n_vertices, src_u.size)
    src = np.concatenate([src, src_u])
    dst = np.concatenate([dst, dst_u])
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return [(int(a), int(b)) for a, b in pairs]


def class_hierarchy(seed: int, n_classes: int, n_instances: int):
    """A random tree of ``n_classes`` classes (class i's parent is drawn
    from classes < i) and ``n_instances`` instances each typed with one
    class.  Returns (parent list, instance class list)."""
    rng = np.random.default_rng([seed, 3])
    parent = [-1] + [int(rng.integers(0, i)) for i in range(1, n_classes)]
    inst = rng.integers(0, n_classes, n_instances).tolist()
    return parent, inst
