"""SparqlEngine — the query/update entry point.

Reference lifecycle (SURVEY §3.1): parse → AST rewrites → AST2BOp →
QueryEngine vectored pipeline.  Ours: parse → compile to a DataFrame →
Catalyst.  Query forms SELECT/ASK/CONSTRUCT/DESCRIBE
(``QueryType.java``, ``ASTConstructIterator.java``,
``DescribeModeEnum.java``) and the UPDATE verbs
(``AST2BOpUpdate.java:400-458`` convertUpdateSwitch).
"""

from __future__ import annotations

import contextlib
import re
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import terms as T
from ..store import TripleStore
from . import ast as A
from .compiler import Compiler, Sol
from .parser import parse_query, parse_update


def _serialized(fn):
    """Serialize mutation entry points per engine (the reference
    serializes writers on the unisolated connection; concurrent HTTP
    handler threads would otherwise interleave store-pointer swaps and
    changeset accumulation).  Reads stay lock-free — stores are
    immutable, a reader just keeps whichever pointer it grabbed."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._write_lock:
            return fn(self, *args, **kwargs)

    return wrapper


class TxConflict(Exception):
    """A writable transaction failed validation: the store advanced
    since the transaction began (coarse OCC over the commit counter —
    over-approximates the reference's write-write validation)."""


@dataclass
class SelectResult:
    df: DataFrame | None  # term-struct column per projected variable
    vars: list
    #: the bindings as Python dicts (var -> term dict) when the
    #: layout probe answered the query; ``df`` is None then
    rows: list | None = None


@dataclass
class PointRead:
    """How the layout probe answers a query (``SparqlEngine.point_read_plan``):
    the store it reads, the constant-keyed patterns to probe — (s, p, o)
    with a Term per bound position, None per variable — and the reply's
    shape."""

    store: TripleStore
    form: str  # "select" | "ask" | "describe"
    patterns: list
    #: SELECT: head.vars, and which probed column binds each variable
    vars: list = field(default_factory=list)
    binds: dict = field(default_factory=dict)
    limit: int | None = None


_DECIMAL_LEX = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")


def _order_key(t: dict | None) -> tuple | None:
    """``terms.sort_key`` of one term dict, computed in Python (unbound
    first), or None when the key needs a cast Python cannot reproduce
    exactly (a non-decimal numeric lexical, any date/time)."""
    if t is None:
        return (0,)
    if t["kind"] != T.KIND_LITERAL:
        return (1 if t["kind"] == T.KIND_BNODE else 2, (0,), (0,), (0,), _opt(t["lang"]), t["lex"])
    dt = t["dt"]
    if dt is None or dt in (T.XSD_STRING, T.RDF_LANGSTRING):
        return (3, (0,), (0,), (0,), _opt(t["lang"]), t["lex"])
    if dt in (T.XSD_DATETIME, T.XSD_DATE):
        return None
    if dt in T.NUMERIC_DATATYPES:
        if not _DECIMAL_LEX.fullmatch(t["lex"]):
            return None
        return (4, (1, float(t["lex"])), (0,), (1, dt), _opt(t["lang"]), t["lex"])
    return (6, (0,), (0,), (1, dt), _opt(t["lang"]), t["lex"])


def _opt(v) -> tuple:
    """Nulls-first ordering of an optional key part."""
    return (0,) if v is None else (1, v)


def term_value(col: Column, target: str = "lex") -> Column:
    """Extract a plain SQL value from a TERM struct column."""
    if target == "lex":
        return col.getField("lex")
    if target == "long":
        return (col.getField("lex")).try_cast("long")
    if target == "int":
        return (col.getField("lex")).try_cast("int")
    if target == "double":
        return T.numeric_value(col)
    if target == "decimal":
        return (col.getField("lex")).try_cast("decimal(38,12)")
    if target == "timestamp":
        return T.datetime_value(col)
    if target == "boolean":
        return T.boolean_value(col)
    raise ValueError(target)


def default_services() -> dict:
    """Built-in SERVICE registry: graph analytics (gas:), full-text
    (bds:search), geospatial (geo:search) — the reference's built-in
    services (`ServiceRegistry.java` defaults)."""
    from ..operators.graph import make_gas_service
    from ..search.external_fts import make_fts_service
    from ..search.fulltext import make_search_service
    from ..search.geospatial import make_geo_service

    from .labels import make_label_service
    from .storedquery import make_stored_query_service

    out: dict = {}
    out.update(make_gas_service())
    out.update(make_search_service())
    out.update(make_geo_service())
    out.update(make_fts_service())
    out.update(make_stored_query_service())
    out.update(make_label_service())
    from .bdservices import make_bd_utility_services

    out.update(make_bd_utility_services())
    return out


class SparqlEngine:
    def __init__(
        self,
        store: TripleStore,
        services: dict | None = None,
        maintain_entailments: bool = False,
        backchain: bool = False,
        geo_datatype_configs: list | None = None,
        geo_default_datatype: str | None = None,
        geo_include_builtins: bool = True,
    ):
        self.store = store
        # query-time backchained entailments (reference:
        # BackchainAccessPath.java — rdfs9/11 via the class hierarchy,
        # rdfs7 via the property hierarchy) instead of a materialized
        # closure: bound-class type patterns and bound predicates
        # expand through the driver-cached schema closure at scan time
        self.backchain = backchain
        self._backchain_maps = None
        #: justification table (JUST index analog) feeding the
        #: retraction fast path; populated by _recompute_entailments
        self._tm_justs = None
        #: DESCRIBE plan cache (DescribeCacheServlet analog), keyed by
        #: (query text, mode); cleared on every mutation.  LRU-bounded:
        #: the reference's DescribeCache is a managed index, not an
        #: unbounded map — a long-lived endpoint fed parameterized
        #: DESCRIBE texts must not grow driver memory (each entry pins
        #: its compiled DataFrame lineage) without limit.
        self._describe_cache: "OrderedDict" = OrderedDict()
        self._describe_cache_max = 64
        self.services = default_services()
        if (
            geo_datatype_configs is not None
            or geo_default_datatype is not None
            or not geo_include_builtins
        ):
            # custom geospatial datatype registry (the reference's
            # GEO_SPATIAL_DATATYPE_CONFIG.* / GEO_SPATIAL_DEFAULT_DATATYPE
            # store properties)
            from ..search.geospatial import make_geo_service

            self.services.update(
                make_geo_service(
                    geo_datatype_configs,
                    geo_default_datatype,
                    include_builtins=geo_include_builtins,
                )
            )
        # truth maintenance (reference: TruthMaintenance.java): when on,
        # inserts/deletes keep the RDFS+ closure current.  DELETE DATA
        # takes the justification-based DRed fast path (tm_retract over
        # the JUST table — cone-bounded cost); other mutations recompute
        # the rule-pruned semi-naive closure, which also refreshes the
        # justification table.
        self.maintain_entailments = maintain_entailments
        #: changeset subscribers (reference: IChangeLog.java /
        #: InMemChangeLog.java): each gets one ChangeSet per update()
        #: call with the statements actually added/removed.  Delta
        #: tracking only runs while this list is non-empty.
        self._change_listeners: list = []
        self._cs_added: list = []
        self._cs_removed: list = []
        self._commits_since_compact = 0
        self._compact_snapshot = None
        #: read-only transactions (TxServlet / ITransactionService
        #: analog): txid → {store, snap, reads_on, begun, view}.  Each
        #: tx pins the immutable store DataFrame current at begin time;
        #: snapshot isolation is free because stores are never mutated.
        self._tx: dict = {}
        self._tx_next = 1
        #: compaction snapshots whose blocks could not be freed because
        #: a transaction still reads on them (id(snap) → snap); freed
        #: when the last pinning tx ends.
        self._deferred_snaps: dict = {}
        #: read pins: id(snap) → [snap, refcount] for reads currently
        #: executing against a compaction snapshot (see read_pin) —
        #: compaction defers freeing a read-pinned snapshot exactly
        #: like a tx-pinned one
        self._read_pins: dict = {}
        #: set on tx views: (owner engine, pinned snap) so read_pin on
        #: a view protects the tx's snapshot in the OWNER's registry
        self._read_pin_target: "tuple | None" = None
        #: count of in-flight unisolated reads (read_pin on the engine
        #: itself, not a tx view).  While > 0, NO compaction snapshot is
        #: freed: a long read (chunked response streaming for minutes)
        #: may start later queries whose plans root at snapshots created
        #: AFTER its pin, so only the specific pinned snapshot being
        #: protected is not enough (advice r8) — the reference's journal
        #: read lock blocks recycling of every commit point the same way
        self._active_reads = 0
        #: monotonic commit counter — the readsOnCommitTime analog
        self._commit_count = 0
        #: set on tx view engines; all mutation entry points refuse
        self._read_only = False
        #: writer serialization (see _serialized)
        self._write_lock = threading.RLock()
        if services:
            self.services.update(services)

    # --------------------------------------------------------- changesets
    def add_change_listener(self, fn) -> None:
        """Subscribe ``fn(ChangeSet)`` to per-commit deltas
        (IChangeLog.changeEvent analog, batched per commit)."""
        self._change_listeners.append(fn)

    def remove_change_listener(self, fn) -> None:
        self._change_listeners.remove(fn)

    def _describe_cache_invalidate(self) -> None:
        """Mutation hook: drop every materialized description (the
        persisted blocks, not just the plan entries)."""
        for df in self._describe_cache.values():
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session teardown races
                pass
        self._describe_cache.clear()

    @property
    def _track_changes(self) -> bool:
        return bool(self._change_listeners)

    _CS_COLS = ("st", "pt", "ot", "gt", "inferred")

    def _cs_empty(self) -> DataFrame:
        from pyspark.sql.types import ByteType, StructField, StructType

        schema = StructType(
            [StructField(c, T.TERM_TYPE, True) for c in ("st", "pt", "ot", "gt")]
            + [StructField("inferred", ByteType(), True)]
        )
        return self.store.spark.createDataFrame([], schema)

    @staticmethod
    def _stmt_join(big: DataFrame, keys: DataFrame, anti: bool = False) -> DataFrame:
        """Rows of ``big`` whose (s,p,o,g) statement identity is (semi)
        / is not (anti) present in ``keys`` — null-safe on g (NULL g =
        default graph).  ``big`` stays the streamed side: one scan of
        the store per mutation op, candidates hash/broadcast."""
        k = keys.select(
            F.col("s").alias("__cs"),
            F.col("p").alias("__cp"),
            F.col("o").alias("__co"),
            F.col("g").alias("__cg"),
        ).dropDuplicates()
        cond = (
            (F.col("s") == F.col("__cs"))
            & (F.col("p") == F.col("__cp"))
            & (F.col("o") == F.col("__co"))
            & F.col("g").eqNullSafe(F.col("__cg"))
        )
        return big.join(k, cond, "left_anti" if anti else "left_semi")

    def _cs_track(self, added: DataFrame | None = None, removed: DataFrame | None = None) -> None:
        if added is not None:
            self._cs_added.append(added.select(*self._CS_COLS))
        if removed is not None:
            self._cs_removed.append(removed.select(*self._CS_COLS))

    # ------------------------------------------------------------ queries
    @staticmethod
    def _hint_scope(q):
        """Compile-scoped query hints: expressions are built eagerly on
        the driver, so setting the contextvar around compile suffices
        (hint:regexMatchNonString etc.)."""
        from contextlib import contextmanager

        from .functions import QUERY_HINTS

        @contextmanager
        def scope():
            tok = QUERY_HINTS.set(getattr(q, "hints", None) or {})
            try:
                yield
            finally:
                QUERY_HINTS.reset(tok)

        return scope()

    def _compiler(
        self, named_sets: dict | None = None, dataset: list | None = None,
        hints: dict | None = None,
    ) -> Compiler:
        """dataset: [("default"|"named", Term)] from FROM / FROM NAMED.

        FROM graphs form the query's default graph (union + distinct
        SPO); FROM NAMED restricts which graphs GRAPH patterns see
        (reference: DataSetSummary / the dataset node on the AST).
        With no dataset clause the store-wide union default graph is
        used (quads-mode default).
        """
        default_df = None
        named_graphs = None
        if dataset:
            import functools
            import operator

            # blazegraph virtual graphs: FROM [NAMED] VIRTUAL GRAPH <vg>
            # expands to the <vg> bd:virtualGraph <member> declarations
            # found anywhere in the store (ASTDatasetClause / virtual
            # graph support in the reference's dataset handling)
            if any(k.startswith("virtual") for k, _ in dataset):
                expanded = []
                for k, t in dataset:
                    if k.startswith("virtual"):
                        base = "default" if k.endswith("default") else "named"
                        expanded += [(base, A.Const(m)) for m in self._virtual_members(t)]
                    else:
                        expanded.append((k, t))
                dataset = expanded

            from_terms = [t.term if isinstance(t, A.Const) else t for k, t in dataset if k == "default"]
            named_terms = [t.term if isinstance(t, A.Const) else t for k, t in dataset if k == "named"]
            flat = self.store.df
            if "p_bucket" in flat.columns:
                flat = flat.drop("p_bucket")
            if from_terms:
                cond = functools.reduce(
                    operator.or_,
                    [F.col("g") == T.term_id(T.lit_term(t)) for t in from_terms],
                    F.lit(False),
                )
                default_df = (
                    flat.where(cond)
                    .withColumn("g", F.lit(None).cast("long"))
                    .withColumn("gt", F.lit(None).cast(T.TERM_TYPE))
                    .dropDuplicates(["s", "p", "o"])
                )
            else:
                # FROM NAMED only: the default graph is empty
                default_df = flat.where(F.lit(False))
            # a dataset clause fully REPLACES the store's dataset: with
            # no FROM NAMED the named-graph section is empty, so GRAPH
            # patterns match nothing (named-graphs-01b fixture)
            named_graphs = named_terms
        if (
            default_df is None
            and (hints or {}).get("defaultGraphDistinctFilter", "").lower()
            == "false"
        ):
            # hint:defaultGraphDistinctFilter "false": read the raw
            # union of contexts without the distinct-SPO filter
            # (reference: AST2BOpContext.defaultGraphDistinctFilter)
            flat2 = self.store.df
            if "p_bucket" in flat2.columns:
                flat2 = flat2.drop("p_bucket")
            default_df = flat2.withColumn(
                "g", F.lit(None).cast("long")
            ).withColumn("gt", F.lit(None).cast(T.TERM_TYPE))
        return Compiler(
            self.store.spark,
            self.store.df,
            self.services,
            p_buckets=getattr(self.store, "p_buckets", None),
            s_triples=getattr(self.store, "s_df", None),
            s_buckets=getattr(self.store, "s_buckets", None),
            o_triples=getattr(self.store, "o_df", None),
            o_buckets=getattr(self.store, "o_buckets", None),
            g_triples=getattr(self.store, "g_df", None),
            g_buckets=getattr(self.store, "g_buckets", None),
            named_sets=named_sets,
            default_triples=(
                default_df if default_df is not None else self.store.default_graph()
            ),
            named_graph_ids=named_graphs,
            backchain_maps=self._backchain() if self.backchain else None,
            cache_token=getattr(self.store, "gen", None),
        )

    def _backchain(self) -> tuple[dict, dict]:
        """Schema-closure maps for query-time backchaining
        (``BackchainAccessPath.java``): class/property IRI → the set of
        IRIs of its sub-classes / sub-properties (reflexive,
        transitive, equivalence folded in).  The schema relation is
        ontology-sized, so one bounded driver-side collect + a Python
        closure is the analog of the reference walking the class
        hierarchy per access path."""
        if self._backchain_maps is not None:
            return self._backchain_maps
        import functools
        import operator

        import pyspark.sql.functions as F

        from .. import terms as T

        preds = {
            T.RDFS + "subClassOf": ("c", False),
            T.OWL + "equivalentClass": ("c", True),
            T.RDFS + "subPropertyOf": ("p", False),
            T.OWL + "equivalentProperty": ("p", True),
        }
        cond = functools.reduce(
            operator.or_,
            [
                F.col("p") == T.term_id(T.lit_term(T.Term.iri(u)))
                for u in preds
            ],
        )
        rows = self.store.df.where(cond).select("st", "pt", "ot").collect()
        sub_edges: dict[str, list] = {"c": [], "p": []}
        for r in rows:
            fam, sym = preds[r["pt"]["lex"]]
            s_lex, o_lex = r["st"]["lex"], r["ot"]["lex"]
            sub_edges[fam].append((o_lex, s_lex))
            if sym:
                sub_edges[fam].append((s_lex, o_lex))

        def close(edges):
            down: dict[str, set] = {}
            for sup, sub in edges:
                down.setdefault(sup, set()).add(sub)
            out: dict[str, set] = {}
            for start in down:
                seen = {start}
                stack = [start]
                while stack:
                    for nxt in down.get(stack.pop(), ()):
                        if nxt not in seen:
                            seen.add(nxt)
                            stack.append(nxt)
                out[start] = seen
            return out

        self._backchain_maps = (close(sub_edges["c"]), close(sub_edges["p"]))
        return self._backchain_maps

    _VIRTUAL_GRAPH = "http://www.bigdata.com/rdf#virtualGraph"

    def _virtual_members(self, t) -> list:
        """Member graphs of a virtual graph: ``<vg> bd:virtualGraph <m>``
        statements, looked up store-wide.  Declarations are tiny
        (operator metadata, not data), so a driver-side collect is fine."""
        vg = t.term if isinstance(t, A.Const) else t
        rows = (
            self.store.df.where(
                (F.col("s") == T.term_id(T.lit_term(vg)))
                & (F.col("p") == T.term_id(T.lit_term(T.Term.iri(self._VIRTUAL_GRAPH))))
            )
            .select("ot")
            .collect()
        )
        return [
            T.Term(kind=r["ot"]["kind"], lex=r["ot"]["lex"], dt=r["ot"]["dt"], lang=r["ot"]["lang"])
            for r in rows
        ]

    def solution_set(self, df: DataFrame) -> Sol:
        """Wrap a DataFrame of term-struct columns as a named solution
        set usable via INCLUDE %name (reference: ISolutionSetManager —
        pre-computed solution sets installed by the caller)."""
        vars_ = {c for c in df.columns if not c.endswith("__id")}
        for v in sorted(vars_):
            if v + "__id" not in df.columns:
                df = df.withColumn(
                    v + "__id", F.when(F.col(v).isNotNull(), T.term_id(F.col(v)))
                )
        return Sol(df, vars_, set(vars_))

    def select(self, text: str, named_sets: dict | None = None) -> SelectResult:
        q = parse_query(text)
        if not isinstance(q, A.SelectQuery):
            raise TypeError("not a SELECT query")
        return self._select(q, named_sets)

    def _select(self, q: A.SelectQuery, named_sets: dict | None = None) -> SelectResult:
        c = self._compiler(
            {k: self.solution_set(v) for k, v in (named_sets or {}).items()},
            dataset=q.dataset,
            hints=getattr(q, "hints", None),
        )
        with self._hint_scope(q):
            sol = c.compile_select(q)
        order = getattr(sol, "projected_order", sorted(sol.vars))
        df = sol.df.select(*order)
        if c._owned:
            # compile-time checkpoints (shared compat-join sides) ride
            # the result: lifecycle.free(result.df) — or the session
            # sweep — releases them once the result is consumed
            from ..operators import lifecycle as L

            L.adopt(df, *c._owned)
        return SelectResult(df, order)

    def ask(self, text: str) -> bool:
        q = parse_query(text)
        if not isinstance(q, A.AskQuery):
            raise TypeError("not an ASK query")
        c = self._compiler(dataset=q.dataset, hints=getattr(q, "hints", None))
        with self._hint_scope(q):
            sol = c.compile_group(q.where)
        result = bool(sol.df.limit(1).count())
        if c._owned:
            from ..operators import lifecycle as L

            L.free(*c._owned)  # consumed eagerly: release compile ckpts
        return result

    def construct(self, text: str) -> DataFrame:
        q = parse_query(text)
        if not isinstance(q, A.ConstructQuery):
            raise TypeError("not a CONSTRUCT query")
        c = self._compiler(dataset=q.dataset, hints=getattr(q, "hints", None))
        with self._hint_scope(q):
            sol = c.compile_group(q.where)
        if q.offset:
            sol = Sol(sol.df.offset(q.offset), sol.vars, sol.maybe_unbound)
        if q.limit is not None:
            sol = Sol(sol.df.limit(q.limit), sol.vars, sol.maybe_unbound)
        out = self._instantiate(sol, q.template)
        if c._owned:
            from ..operators import lifecycle as L

            L.adopt(out, *c._owned)
        return out

    def _instantiate(self, sol: Sol, template: list, graph: T.Term | None = None) -> DataFrame:
        """Template instantiation (ASTConstructIterator): one select per
        template triple, union, validity filter, distinct."""
        outs = []
        for tp in template:
            cols = []
            ok = F.lit(True)
            for node, name in ((tp.s, "st"), (tp.p, "pt"), (tp.o, "ot")):
                if isinstance(node, A.Var):
                    if node.name in sol.vars:
                        c = F.col(node.name)
                    else:
                        c = F.lit(None).cast(T.TERM_TYPE)
                    ok = ok & c.isNotNull()
                else:
                    c = T.lit_term(node.term)
                cols.append(c.alias(name))
            df = sol.df.select(*cols).where(ok)
            df = df.where(
                (F.col("st").getField("kind") != T.KIND_LITERAL)
                & (F.col("pt").getField("kind") == T.KIND_IRI)
            )
            outs.append(df)
        u = outs[0]
        for o in outs[1:]:
            u = u.unionByName(o)
        if graph is not None:
            u = u.withColumn("gt", T.lit_term(graph))
        else:
            u = u.withColumn("gt", F.lit(None).cast(T.TERM_TYPE))
        u = u.withColumn("__sid", T.term_id(F.col("st"))).withColumn(
            "__pid", T.term_id(F.col("pt"))
        ).withColumn("__oid", T.term_id(F.col("ot")))
        u = u.dropDuplicates(["__sid", "__pid", "__oid"]).drop("__sid", "__pid", "__oid")
        return u

    #: DescribeModeEnum.java names → our mode keys (the reference
    #: selects the mode with the ``hint:describeMode`` query hint,
    #: QueryHints.DESCRIBE_MODE; default SymmetricOneStep)
    _DESCRIBE_MODES = {
        "forwardonestep": "forward",
        "symmetriconestep": "symmetric",
        "cbd": "cbd",
        "scbd": "scbd",
    }

    def describe(self, text: str, mode: str = "symmetric") -> DataFrame:
        """DESCRIBE a set of resources (DescribeModeEnum.java:47-127).

        mode='symmetric': forward+backward one step (SymmetricOneStep,
        the reference default).  mode='forward': forward one step
        (ForwardOneStep).  mode='cbd': Concise Bounded Description —
        forward statements, recursively expanded through blank-node
        objects (a driver-side fixpoint; bnode chains are short in
        practice, bounded at 16 hops).  mode='scbd': symmetric CBD —
        CBD plus reverse statements expanded through blank-node
        subjects.  A ``hint:describeMode`` in the query overrides the
        argument.
        """
        # DESCRIBE cache (DescribeCacheServlet analog): the compiled
        # plan is memoized per (query, mode) and invalidated on any
        # mutation — dashboards that re-DESCRIBE the same resources
        # skip the parse+compile entirely; materialization stays
        # Spark's job (persist the returned df for a hot cache).
        key = (text, mode)
        hit = self._describe_cache.get(key)
        if hit is not None:
            self._describe_cache.move_to_end(key)
            return hit
        out = self._describe_uncached(text, mode)
        # materialized cache, not just a plan cache: persist() makes the
        # first action compute the description and every repeat serve it
        # from block storage (DescribeCacheServlet materializes too);
        # eviction/mutation unpersists so storage stays LRU-bounded
        out = out.persist()
        self._describe_cache[key] = out
        while len(self._describe_cache) > self._describe_cache_max:
            _k, old = self._describe_cache.popitem(last=False)
            old.unpersist()
        return out

    def _describe_uncached(self, text: str, mode: str) -> DataFrame:
        q = parse_query(text)
        if not isinstance(q, A.DescribeQuery):
            raise TypeError("not a DESCRIBE query")
        hint = (getattr(q, "hints", None) or {}).get("describeMode")
        if hint:
            mode = self._DESCRIBE_MODES.get(hint.lower(), mode)
        if mode not in self._DESCRIBE_MODES.values():
            raise ValueError(f"unknown DESCRIBE mode {mode!r}")
        c = self._compiler()
        ids = None
        var_targets = [t for t in q.targets if isinstance(t, A.Var)]
        const_targets = [t.term for t in q.targets if isinstance(t, A.Const)]
        if q.where is not None and var_targets:
            sol = c.compile_group(q.where)
            parts = [
                sol.df.select(F.col(v.name + "__id").alias("id"))
                for v in var_targets
                if v.name in sol.vars
            ]
            if parts:
                ids = parts[0]
                for p in parts[1:]:
                    ids = ids.unionAll(p)
        trips = self.store.df
        if mode in ("cbd", "scbd"):
            if const_targets:
                cdf = self.store.spark.range(1).select(
                    F.explode(
                        F.array(*[T.term_id(T.lit_term(t)) for t in const_targets])
                    ).alias("id")
                )
                ids = cdf if ids is None else ids.unionAll(cdf)
            if ids is None:
                return trips.select("st", "pt", "ot").limit(0)
            ids = ids.where(F.col("id").isNotNull()).dropDuplicates()
            return self._cbd(trips, ids, reverse=mode == "scbd")
        # one step: a constant target reads only the bucket of the s-
        # (and, symmetric, o-) keyed layout that holds it, instead of
        # semi-joining the whole store against the target ids
        cols = ("s", "p", "o", "g", "st", "pt", "ot")
        parts = []
        if ids is not None:
            ids = ids.where(F.col("id").isNotNull()).dropDuplicates()
            parts.append(trips.join(ids.withColumnRenamed("id", "s"), "s", "left_semi"))
            if mode == "symmetric":
                parts.append(trips.join(ids.withColumnRenamed("id", "o"), "o", "left_semi"))
        for t in dict.fromkeys(const_targets):
            tid = T.term_id(T.lit_term(t))
            parts.append(self.store._probe_df(t, None).where(F.col("s") == tid))
            if mode == "symmetric":
                parts.append(self.store._probe_df(None, None, t).where(F.col("o") == tid))
        if not parts:
            return trips.select("st", "pt", "ot").limit(0)
        out = parts[0].select(*cols)
        for part in parts[1:]:
            out = out.unionByName(part.select(*cols))
        return out.dropDuplicates(["s", "p", "o", "g"]).select("st", "pt", "ot")

    def _cbd(
        self,
        trips: DataFrame,
        ids: DataFrame,
        max_hops: int = 16,
        reverse: bool = False,
    ) -> DataFrame:
        """Concise Bounded Description fixpoint: follow bnode objects
        (and, for SCBD, also reverse statements + bnode subjects)."""
        from ..operators import lifecycle as L

        seen = L.checkpoint(ids)
        frontier = seen
        out = None
        for _ in range(max_hops):
            stmts = trips.join(
                frontier.withColumnRenamed("id", "s"), "s", "left_semi"
            )
            if reverse:
                stmts = stmts.unionByName(
                    trips.join(
                        frontier.withColumnRenamed("id", "o"), "o", "left_semi"
                    )
                )
            stmts = L.checkpoint(stmts)
            new_out = L.checkpoint(
                stmts if out is None else out.unionByName(stmts)
            )
            L.free(out, stmts)
            out = new_out
            bnode_objs = (
                out.where(F.col("ot.kind") == T.KIND_BNODE)
                .select(F.col("o").alias("id"))
                .dropDuplicates()
            )
            if reverse:
                bnode_objs = bnode_objs.unionAll(
                    out.where(F.col("st.kind") == T.KIND_BNODE)
                    .select(F.col("s").alias("id"))
                    .dropDuplicates()
                ).dropDuplicates()
            new_frontier = L.checkpoint(bnode_objs.join(seen, "id", "left_anti"))
            if frontier is not seen:
                L.free(frontier)
            frontier = new_frontier
            if frontier.isEmpty():
                L.free(frontier)
                break
            new_seen = L.checkpoint(seen.unionByName(frontier))
            L.free(seen)
            seen = new_seen
        L.free(seen)
        if frontier is not seen:
            L.free(frontier)
        return out.dropDuplicates(["s", "p", "o", "g"]).select("st", "pt", "ot")

    def query(self, text: str):
        q = parse_query(text)
        if isinstance(q, A.SelectQuery):
            return self._select(q)
        if isinstance(q, A.AskQuery):
            c = self._compiler()
            result = bool(c.compile_group(q.where).df.limit(1).count())
            if c._owned:
                from ..operators import lifecycle as L

                L.free(*c._owned)
            return result
        if isinstance(q, A.ConstructQuery):
            return self.construct(text)
        if isinstance(q, A.DescribeQuery):
            return self.describe(text)
        raise TypeError(f"unsupported query {type(q)}")

    # -------------------------------------------------------- point reads
    def point_read_plan(self, q) -> PointRead | None:
        """Whether the layout probe (``TripleStore.probe_rows``) answers
        the parsed query ``q`` exactly as the Spark path would — the
        reference answers a pattern with a bound key as a prefix scan
        of one index permutation (``SPOKeyOrder``).  Eligible: a loaded,
        unmutated triples store (``TripleStore.probe_ready``), no
        backchaining, no FROM/FROM NAMED, no hints, and

        * SELECT (plain projection, optional LIMIT) or ASK whose WHERE
          is one triple pattern of plain variables and constants — no
          path, no repeated variable, no blank-node constant, no magic
          service predicate — with a constant subject, or a constant
          object and a variable subject;
        * DESCRIBE of constant IRIs with no WHERE (a ``describeMode``
          hint may leave an empty one), in symmetric or forward mode.

        Returns None for every other query (the Spark path)."""
        store = self.store
        if self.backchain or not store.probe_ready or getattr(q, "dataset", None):
            return None
        hints = dict(getattr(q, "hints", None) or {})
        if isinstance(q, A.DescribeQuery):
            mode = self._DESCRIBE_MODES.get(hints.pop("describeMode", "").lower(), "symmetric")
            if (
                hints
                or (q.where is not None and q.where.elements)
                or mode not in ("symmetric", "forward")
                or not q.targets
                or not all(
                    isinstance(t, A.Const) and t.term.kind == T.KIND_IRI for t in q.targets
                )
            ):
                return None
            patterns = []
            for t in dict.fromkeys(t.term for t in q.targets):
                patterns.append((t, None, None))
                if mode == "symmetric":
                    patterns.append((None, None, t))
            return PointRead(store, "describe", patterns)
        if hints or not isinstance(q, (A.SelectQuery, A.AskQuery)):
            return None
        if isinstance(q, A.SelectQuery) and (
            q.distinct or q.reduced or q.group_by or q.having or q.order_by
            or q.offset or q.values is not None or q.named_subqueries
            or any(e is not None for _v, e in q.projections)
        ):
            return None
        els = q.where.elements
        if len(els) != 1 or not isinstance(els[0], A.TriplePattern):
            return None
        nodes = (els[0].s, els[0].p, els[0].o)
        if not all(isinstance(n, (A.Var, A.Const)) for n in nodes):
            return None
        names = [n.name for n in nodes if isinstance(n, A.Var)]
        consts = [n.term for n in nodes if isinstance(n, A.Const)]
        s, p, o = (n.term if isinstance(n, A.Const) else None for n in nodes)
        if (
            len(set(names)) != len(names)
            or any(t.kind == T.KIND_BNODE for t in consts)
            or (p is not None and p.lex.startswith(Compiler.MAGIC_SERVICE_NS))
            or (s is None and o is None)
        ):
            return None
        if isinstance(q, A.AskQuery):
            return PointRead(store, "ask", [(s, p, o)])
        binds = {n.name: col for n, col in zip(nodes, ("st", "pt", "ot")) if isinstance(n, A.Var)}
        head = [v.name for v, _e in q.projections] or sorted(
            v for v in binds if not v.startswith("__")
        )
        return PointRead(store, "select", [(s, p, o)], head, binds, q.limit)

    def point_read(self, q):
        """Answer the parsed query ``q`` with the layout probe: a
        :class:`SelectResult` carrying ``rows`` (SELECT), a bool (ASK),
        or the described statements as (st, pt, ot) term dicts
        (DESCRIBE).  None when the probe cannot answer it — the caller
        takes the Spark path."""
        plan = self.point_read_plan(q)
        if plan is None:
            return None
        if plan.form == "describe":
            seen: dict = {}
            for s, p, o in plan.patterns:
                for r in plan.store.probe_rows(s, p, o):
                    seen.setdefault((r["s"], r["p"], r["o"]), (r["st"], r["pt"], r["ot"]))
            return list(seen.values())
        s, p, o = plan.patterns[0]
        if plan.form == "ask":
            return bool(plan.store.probe_rows(s, p, o, columns=("s",)))
        cols = sorted(set(plan.binds.values())) or ["s"]
        rows = [
            {v: r[plan.binds[v]] if v in plan.binds else None for v in plan.vars}
            for r in plan.store.probe_rows(s, p, o, columns=cols)
        ]
        if plan.limit is not None and len(rows) > plan.limit:
            # LIMIT without ORDER BY: the Spark path keeps the first
            # rows in term order (compile_select) — same choice here
            keys = [tuple(_order_key(r[v]) for v in plan.vars) for r in rows]
            if any(None in k for k in keys):
                return None
            order = sorted(range(len(rows)), key=keys.__getitem__)[: plan.limit]
            rows = [rows[i] for i in order]
        return SelectResult(None, plan.vars, rows)

    # ------------------------------------------------------------ update
    def update(self, text: str) -> None:
        """Execute SPARQL UPDATE ops in order, replacing self.store
        (AST2BOpUpdate.convertUpdateSwitch dispatch).

        When change listeners are subscribed, the statements actually
        added/removed across the whole call (one commit, including
        truth-maintenance consequences) are delivered as one ChangeSet
        after the last op (IChangeLog.transactionCommitted analog)."""
        self._run_update_ops(parse_update(text))

    def insert_statements(self, quads: list) -> None:
        """Insert driver-parsed statements [(s,p,o,g|None) Terms] with
        full commit bookkeeping (TM, caches, changesets) — the engine
        half of the reference's InsertServlet POST-with-body path."""
        self._run_update_ops([A.InsertData(triples=list(quads))])

    def remove_statements(self, quads: list) -> None:
        """Remove driver-parsed statements; DeleteServlet body path."""
        self._run_update_ops([A.DeleteData(triples=list(quads))])

    @_serialized
    def insert_dataframe(self, df: DataFrame, graph: T.Term | None = None) -> None:
        """Bulk-insert a distributed statement frame (``st``/``pt``/
        ``ot`` [+ ``gt``] TERM-struct columns) with full commit
        bookkeeping — the LoadUpdate path minus the file read.  Used by
        bulk loaders (blueprints ``BigdataGraphBulkLoad`` analog); the
        frame is never enumerated on the driver."""
        self._assert_writable()
        self._cs_added, self._cs_removed = [], []
        if graph is not None:
            df = df.withColumn("gt", T.lit_term(graph))
        if self._track_changes:
            self._track_insert(df, self.store.df)
        self.store = self.store.add(df, other_has_named=graph is not None)
        self._backchain_maps = None
        self._describe_cache_invalidate()
        if self.maintain_entailments:
            self._recompute_entailments()
        self._fire_changeset()
        self._maybe_compact()

    @_serialized
    def remove_dataframe(self, df: DataFrame) -> None:
        """Bulk-remove a distributed statement frame (``st``/``pt``/
        ``ot`` [+ ``gt``] columns) with full commit bookkeeping; the
        set-oriented half of DeleteServlet (blueprints removeVertex
        uses it to drop a vertex plus all incident edge state in one
        commit)."""
        self._assert_writable()
        self._cs_added, self._cs_removed = [], []
        if "gt" not in df.columns:
            df = df.withColumn("gt", F.lit(None).cast(T.TERM_TYPE))
        if self._track_changes:
            self._track_delete(df, self.store.df)
        self.store = self.store.remove(df.select("st", "pt", "ot", "gt"))
        self._backchain_maps = None
        self._describe_cache_invalidate()
        if self.maintain_entailments:
            if self._tm_justs is not None:
                self._tm_retract(df.where(F.col("gt").isNull()).select("st", "pt", "ot"))
            else:
                self._recompute_entailments()
        self._fire_changeset()
        self._maybe_compact()

    @_serialized
    def _run_update_ops(self, ops: list) -> None:
        self._assert_writable()
        self._cs_added, self._cs_removed = [], []
        for op in ops:
            mutates = isinstance(
                op, (A.InsertData, A.DeleteData, A.Modify, A.LoadUpdate, A.ClearUpdate, A.DropUpdate, A.CopyMoveAdd)
            )
            # CREATE/DROP/ENABLE ENTAILMENTS replace the store too (they
            # are not user mutations truth maintenance would re-close)
            changes_store = mutates or (
                isinstance(op, A.EntailmentsUpdate) and op.op != "DISABLE"
            )
            self._update_one(op)
            if changes_store:
                # the memoized sub-class/sub-property closure may now be
                # stale (e.g. an inserted rdfs:subClassOf edge)
                self._backchain_maps = None
                self._describe_cache_invalidate()
            if self.maintain_entailments and mutates:
                if (
                    isinstance(op, A.DeleteData)
                    and self._tm_justs is not None
                    and all(q[3] is None for q in op.triples)
                ):
                    # justification-based retraction (DRed over the
                    # JUST table): cost scales with the affected cone,
                    # not the closure — no rule re-evaluation
                    self._tm_retract(self._quads_df(op.triples))
                else:
                    self._recompute_entailments()
        self._fire_changeset()
        self._maybe_compact()

    #: commits between store-lineage compactions (see _maybe_compact)
    _COMPACT_EVERY = 8

    def _maybe_compact(self) -> None:
        """Bound store lineage depth across commits.

        Every mutation stacks `union + dropDuplicates` onto the store
        plan; a CRUD-style workload (blueprints/GOM veneers, REST
        endpoints issuing many small updates) would otherwise make
        every later read re-execute the whole mutation history —
        quadratic in commit count.  Every ``_COMPACT_EVERY`` commits the
        store is localCheckpoint'ed (the journal commit-record analog:
        reads start from a materialized snapshot, like the reference's
        B+Tree after a commit point) and the PREVIOUS snapshot's blocks
        are released.  Contract: changeset deltas are delivered before
        the commit returns and must be consumed before the next batch
        of commits (IChangeLog has the same in-commit delivery shape);
        only the current snapshot is ever live storage."""
        from ..operators import lifecycle as L

        self._commit_count += 1
        self._commits_since_compact += 1
        if self._commits_since_compact < self._COMPACT_EVERY:
            return
        self._commits_since_compact = 0
        prev = self._compact_snapshot
        st = self.store
        snap = L.protected_checkpoint(st.df)
        # keep the layout FAMILY across compaction: the aux layouts are
        # derived VIEWS of the one snapshot (bucket column recomputed —
        # no extra storage; a checkpointed store has no parquet
        # partitions left to prune anyway), so the compiler's
        # p-/s-/o-layout paths stay live and the next full save()
        # re-materializes them as pruned parquet.  Checkpointing three
        # copies would triple block-manager storage for zero pruning.
        flat = snap.drop("p_bucket") if "p_bucket" in snap.columns else snap
        self.store = TripleStore(
            st.spark,
            snap,
            has_named=st.has_named,
            p_buckets=st.p_buckets if "p_bucket" in snap.columns else None,
            s_df=(
                flat.withColumn(
                    "s_bucket", F.pmod(F.col("s"), F.lit(st.s_buckets))
                )
                if st.s_df is not None and st.s_buckets
                else None
            ),
            s_buckets=st.s_buckets if st.s_df is not None else None,
            o_df=(
                flat.withColumn(
                    "o_bucket", F.pmod(F.col("o"), F.lit(st.o_buckets))
                )
                if st.o_df is not None and st.o_buckets
                else None
            ),
            o_buckets=st.o_buckets if st.o_df is not None else None,
            g_df=(
                flat.where(F.col("g").isNotNull()).withColumn(
                    "g_bucket", F.pmod(F.col("g"), F.lit(st.g_buckets))
                )
                if st.g_df is not None and st.g_buckets
                else None
            ),
            g_buckets=st.g_buckets if st.g_df is not None else None,
        )
        self._compact_snapshot = snap
        if prev is not None and (
            self._snap_pinned(prev)
            or id(prev) in self._read_pins
            or self._active_reads > 0
        ):
            # a read-only tx — or an in-flight read (read_pin) — still
            # reads on this snapshot: freeing it would kill their jobs
            # with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  Defer until the
            # last pin drops (end_tx / read_pin exit frees it).
            self._deferred_snaps[id(prev)] = prev
        else:
            L.unprotect_and_free(prev)

    @_serialized
    def apply_changeset(self, added=None, removed=None) -> None:
        """Retract ``removed`` and assert ``added`` (term-struct
        statement frames, disjoint) in ONE commit with full
        bookkeeping — one changeset delivered, one compaction tick.
        The set-oriented retract-and-assert primitive behind read-write
        transaction publication (reference: a tx's write set lands as
        one unisolated commit)."""
        self._assert_writable()
        self._cs_added, self._cs_removed = [], []
        before = self.store.df
        if removed is not None:
            if "gt" not in removed.columns:
                removed = removed.withColumn("gt", F.lit(None).cast(T.TERM_TYPE))
            if self._track_changes:
                self._track_delete(removed, before)
            self.store = self.store.remove(removed.select("st", "pt", "ot", "gt"))
        if added is not None:
            if self._track_changes:
                self._track_insert(added, before)
            self.store = self.store.add(added)
        self._backchain_maps = None
        self._describe_cache_invalidate()
        if self.maintain_entailments:
            self._recompute_entailments()
        self._fire_changeset()
        self._maybe_compact()

    # ------------------------------------------------ read pinning
    @contextlib.contextmanager
    def read_pin(self):
        """Pin the snapshot this engine's reads start from, so a
        concurrent writer's compaction cannot free its checkpoint
        blocks mid-read.

        The reference holds the journal's read lock for the duration
        of every read; this is the Spark-lifecycle analog.  Without
        it, a query (or a chunked response streaming for minutes)
        whose plan references compaction snapshot S dies with
        CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND the moment 8 more commits
        land and compaction frees S — found mechanically by the
        concurrency soak test.  Wrap the WHOLE read (compile through
        last-row materialization).  No-op when there is no snapshot
        yet; on a tx view it pins the tx's snapshot in the owner
        engine's registry (a COMMIT/ABORT ending the tx mid-stream
        defers the free instead of orphaning the reader)."""
        is_tx_view = self._read_pin_target is not None
        owner = self._read_pin_target[0] if is_tx_view else self
        # Resolve the snapshot INSIDE the owner's write lock: compaction
        # runs under the same lock, so it cannot swap _compact_snapshot
        # and free the one we captured between capture and registration
        # (advice r8 — the old outside-the-lock read left a narrow
        # window where the reader pinned an already-freed snapshot).
        with owner._write_lock:
            snap = (
                self._read_pin_target[1]
                if is_tx_view
                else owner._compact_snapshot
            )
            if not is_tx_view:
                # unisolated read: later queries inside the pin read
                # owner.store LIVE, so they may root at snapshots newer
                # than `snap` — block ALL frees while we're in flight
                owner._active_reads += 1
            if snap is not None:
                ent = owner._read_pins.setdefault(id(snap), [snap, 0])
                ent[1] += 1
        try:
            yield
        finally:
            with owner._write_lock:
                if not is_tx_view:
                    owner._active_reads -= 1
                if snap is not None:
                    ent = owner._read_pins.get(id(snap))
                    if ent is not None:
                        ent[1] -= 1
                        if ent[1] <= 0:
                            owner._read_pins.pop(id(snap), None)
                if owner._active_reads <= 0:
                    owner._sweep_deferred()
                elif snap is not None:
                    owner._free_if_unpinned(snap)

    def _free_if_unpinned(self, snap) -> None:
        """Free a DEFERRED compaction snapshot once nothing pins it
        (no tx reads on it, no in-flight read_pin) AND no unisolated
        read is in flight — an active reader's next query may root at
        any snapshot created since its pin, so frees wait for quiesce
        (swept by the last read_pin exit)."""
        from ..operators import lifecycle as L

        if (
            snap is not None
            and id(snap) in self._deferred_snaps
            and self._active_reads <= 0
            and not self._snap_pinned(snap)
            and id(snap) not in self._read_pins
        ):
            L.unprotect_and_free(self._deferred_snaps.pop(id(snap)))

    def _sweep_deferred(self) -> None:
        """Free every deferred snapshot nothing pins (called under the
        write lock when the last in-flight read exits)."""
        from ..operators import lifecycle as L

        for sid in list(self._deferred_snaps):
            snap = self._deferred_snaps[sid]
            if not self._snap_pinned(snap) and sid not in self._read_pins:
                L.unprotect_and_free(self._deferred_snaps.pop(sid))

    # ------------------------------------------------ transactions
    def _snap_pinned(self, snap) -> bool:
        return snap is not None and any(
            t["snap"] is snap for t in self._tx.values()
        )

    def _assert_writable(self) -> None:
        if self._read_only:
            raise PermissionError(
                "read-only transaction view: mutations must go through "
                "the unisolated engine"
            )

    @_serialized
    def begin_read_tx(self) -> int:
        """CREATE-TX: open a read-only transaction pinning the current
        commit point (reference ``TxServlet.doCreateTx`` /
        ``ITransactionService.newTx`` with a read-historical
        timestamp).  The tx sees exactly the store as of this commit —
        later mutations are invisible — because store DataFrames are
        immutable; the only bookkeeping is keeping the compaction
        lifecycle from freeing a snapshot the tx's lineage needs.

        Serialized: registration must be atomic with respect to
        ``_maybe_compact``'s pin scan (a concurrent writer could
        otherwise free the snapshot between our store read and the
        ``self._tx`` insert) and ``_tx_next`` must not mint duplicate
        txids under ThreadingHTTPServer concurrency."""
        txid = self._tx_next
        self._tx_next += 1
        self._tx[txid] = {
            "store": self.store,
            "snap": self._compact_snapshot,
            "reads_on": self._commit_count,
            "begun": time.time(),
            "view": None,
        }
        return txid

    def tx_view(self, txid: int) -> "SparqlEngine":
        """A read-only engine evaluating queries against the commit
        point the transaction pinned (KeyError for unknown/ended tx).
        Shares the service registry; mutation entry points raise."""
        t = self._tx[txid]
        if t["view"] is None:
            view = SparqlEngine(
                t["store"], services=self.services, backchain=self.backchain
            )
            view._read_only = True
            view._read_pin_target = (self, t["snap"])
            t["view"] = view
        return t["view"]

    def tx_info(self, txid: int) -> dict:
        t = self._tx[txid]
        return {
            "txId": txid,
            "readsOnCommitTime": t["reads_on"],
            "readOnly": not t.get("writable", False),
        }

    def list_tx(self) -> list:
        return [self.tx_info(txid) for txid in sorted(self._tx)]

    @_serialized
    def begin_read_write_tx(self) -> int:
        """CREATE-TX with the unisolated timestamp (reference
        ``ITx.UNISOLATED`` = 0): a WRITABLE transaction.  Updates
        through the tx view stage against the pinned snapshot — the
        unisolated engine never sees them — and the view's changeset
        tracking records each update's exact delta (checkpointed at
        delivery).  ``commit_tx`` publishes the folded net delta as ONE
        unisolated commit under coarse OCC; ``end_tx`` (ABORT)
        discards the staging."""
        txid = self.begin_read_tx()
        t = self._tx[txid]
        view = SparqlEngine(
            t["store"], services=self.services, backchain=self.backchain
        )
        view._read_pin_target = (self, t["snap"])
        t["view"], t["writable"], t["staged"] = view, True, []

        def _capture(cs, staged=t["staged"]):
            from ..operators import lifecycle as L

            staged.append((L.checkpoint(cs.added), L.checkpoint(cs.removed)))

        view.add_change_listener(_capture)
        return txid

    def commit_tx(self, txid: int) -> None:
        """COMMIT-TX: read-only tx just release their pin; a writable
        tx validates (coarse OCC — ANY commit since the tx began
        conflicts; the reference validates write-write overlap, which
        this over-approximates) and publishes its folded net delta as
        one unisolated commit."""
        from ..changesets import fold_net_delta
        from ..operators import lifecycle as L

        with self._write_lock:
            t = self._tx[txid]
            if not t.get("writable"):
                self.end_tx(txid)
                return
            if self._commit_count != t["reads_on"]:
                self.end_tx(txid)
                raise TxConflict(
                    f"tx {txid} began on commit {t['reads_on']} but the "
                    f"store is at {self._commit_count}: validation failed"
                )
            staged, t["staged"] = t["staged"], []
            net_a, net_r = fold_net_delta(staged)
            if net_a is not None:
                # materialize the (delta-sized) net frames so the
                # staged per-update checkpoints can be freed; the
                # blocks are reclaimed by the next lifecycle sweep
                net_a, net_r = L.checkpoint(net_a), L.checkpoint(net_r)
            self.end_tx(txid)
            for a, r in staged:
                L.free(a, r)
            if net_a is not None:
                self.apply_changeset(net_a, net_r)

    @_serialized
    def end_tx(self, txid: int) -> None:
        """ABORT-TX (and the read-only COMMIT, which is identical — a
        read-only commit just releases the read lock): drop the pin,
        discard any staged writes, free any compaction snapshot whose
        release was deferred while this tx read on it.  Serialized so
        the pop + deferred-snapshot free cannot interleave with a
        writer's compaction pin scan (RLock: ``commit_tx`` re-enters)."""
        from ..operators import lifecycle as L

        t = self._tx.pop(txid)
        for a, r in t.get("staged") or []:
            L.free(a, r)
        self._free_if_unpinned(t["snap"])

    def _fire_changeset(self) -> None:
        """Deliver the accumulated commit delta to subscribers
        (IChangeLog.transactionCommitted analog)."""
        if not (self._track_changes and (self._cs_added or self._cs_removed)):
            return
        from ..changesets import ChangeSet

        def _u(parts):
            if not parts:
                return self._cs_empty()
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        cs = ChangeSet(added=_u(self._cs_added), removed=_u(self._cs_removed))
        self._cs_added, self._cs_removed = [], []
        for fn in list(self._change_listeners):
            fn(cs)

    def _pattern_matches(
        self, s=None, p=None, o=None, g=None, from_all_graphs: bool = False
    ) -> DataFrame:
        """Store rows matching the (s,p,o,g) access-path pattern
        (None = wildcard; None g = default graph unless
        ``from_all_graphs``)."""
        cond = F.lit(True)
        for col, term in (("s", s), ("p", p), ("o", o)):
            if term is not None:
                cond = cond & (F.col(col) == T.term_id(T.lit_term(term)))
        if g is not None:
            cond = cond & (F.col("g") == T.term_id(T.lit_term(g)))
        elif not from_all_graphs:
            cond = cond & F.col("g").isNull()
        return self.store.df.where(cond)

    @_serialized
    def remove_pattern(
        self, s=None, p=None, o=None, g=None, from_all_graphs: bool = False
    ) -> None:
        """Access-path delete (reference DeleteServlet
        ``doDeleteWithAccessPath``): remove every statement matching the
        (s,p,o,g) pattern, None = wildcard.  By default a None g means
        the DEFAULT graph (the servlet's triples-mode behavior);
        ``from_all_graphs=True`` wildcards the context.  Runs with full
        commit bookkeeping: the matching set stays a DataFrame end to
        end (never driver-enumerated), truth maintenance retracts
        consequences, and change listeners get the exact delta."""
        self._assert_writable()
        self._cs_added, self._cs_removed = [], []
        matches = self._pattern_matches(s, p, o, g, from_all_graphs)
        if self._track_changes:
            self._cs_track(removed=matches)
        self.store = self.store.remove(matches.select("st", "pt", "ot", "gt"))
        self._backchain_maps = None
        self._describe_cache_invalidate()
        if self.maintain_entailments:
            if self._tm_justs is not None and g is None and not from_all_graphs:
                self._tm_retract(matches.select("st", "pt", "ot"))
            else:
                self._recompute_entailments()
        self._fire_changeset()
        self._maybe_compact()

    @_serialized
    def replace_pattern(
        self,
        s=None,
        p=None,
        o=None,
        g=None,
        inserts=(),
        from_all_graphs: bool = False,
    ) -> None:
        """Retract-and-assert in ONE commit: remove every statement
        matching the (s,p,o,g) pattern, then insert ``inserts``
        ([(s,p,o,g|None) Terms]), delivering a SINGLE changeset (one
        seq number) for the whole operation.  Engine analog of the
        reference's single-connection-commit ``setProperty``
        (bigdata-blueprints ``BigdataElement.setProperty`` retracts the
        old values and asserts the new one before the one commit), so a
        failure can never land between the retract and the assert."""
        self._assert_writable()
        self._cs_added, self._cs_removed = [], []
        matches = self._pattern_matches(s, p, o, g, from_all_graphs)
        if self._track_changes:
            self._cs_track(removed=matches)
        self.store = self.store.remove(matches.select("st", "pt", "ot", "gt"))
        if inserts:
            self._update_one(A.InsertData(triples=list(inserts)))
        self._backchain_maps = None
        self._describe_cache_invalidate()
        if self.maintain_entailments:
            self._recompute_entailments()
        self._fire_changeset()
        self._maybe_compact()

    @_serialized
    def remove_triples_all_graphs(self, df: DataFrame) -> None:
        """Set-oriented delete of (st,pt,ot) triples in EVERY context —
        the engine half of the reference's DeleteServlet
        ``doDeleteWithQuery`` (``SAILS/webapp/DeleteServlet.java``):
        the servlet materializes a CONSTRUCT/DESCRIBE result and
        removes those statements with a null-context (= all contexts)
        ``removeStatements``.  The triple set stays distributed: a
        semi-join on term ids picks the store rows, never a driver
        enumeration."""
        self._assert_writable()
        self._cs_added, self._cs_removed = [], []
        keys = df.select(
            T.term_id(F.col("st")).alias("__ks"),
            T.term_id(F.col("pt")).alias("__kp"),
            T.term_id(F.col("ot")).alias("__ko"),
        ).dropDuplicates()
        matches = self.store.df.join(
            keys,
            (F.col("s") == F.col("__ks"))
            & (F.col("p") == F.col("__kp"))
            & (F.col("o") == F.col("__ko")),
            "left_semi",
        )
        if self._track_changes:
            self._cs_track(removed=matches)
        self.store = self.store.remove(matches.select("st", "pt", "ot", "gt"))
        self._backchain_maps = None
        self._describe_cache_invalidate()
        if self.maintain_entailments:
            self._recompute_entailments()
        self._fire_changeset()
        self._maybe_compact()

    def _tm_retract(self, deleted) -> None:
        from ..inference.rdfs import tm_retract

        if self._track_changes:
            self.store, self._tm_justs, (tm_add, tm_rm) = tm_retract(
                self.store, self._tm_justs, deleted, with_delta=True
            )
            self._cs_track(added=tm_add, removed=tm_rm)
        else:
            self.store, self._tm_justs = tm_retract(
                self.store, self._tm_justs, deleted
            )

    def _recompute_entailments(self) -> None:
        """Re-derive the closure from the current explicit statements,
        refreshing the justification table that the retraction fast
        path (``tm_retract``) consumes."""
        from ..inference.rdfs import rdfs_closure
        from ..store import EXPLICIT, TripleStore as TS

        before_inf = None
        if self._track_changes:
            # inferred-statement delta: diff bounded to the inferred
            # rows (explicit deltas are tracked by the op branches);
            # O(closure), same order as the recompute itself
            before_inf = self.store.df.where(F.col("inferred") != EXPLICIT)
        explicit = TS(self.store.spark, self.store.explicit())
        self.store, self._tm_justs = rdfs_closure(
            explicit, with_justifications=True
        )
        if before_inf is not None:
            after_inf = self.store.df.where(F.col("inferred") != EXPLICIT)
            self._cs_track(
                added=self._stmt_join(after_inf, before_inf, anti=True),
                removed=self._stmt_join(before_inf, after_inf, anti=True),
            )

    def _track_insert(self, cand: DataFrame, before: DataFrame) -> None:
        """added = candidates not already present (only actually-written
        statements notify, like the reference's index-write check)."""
        from ..store import _with_ids

        cand = _with_ids(cand)
        existing = self._stmt_join(before, cand)  # one store scan
        self._cs_track(added=self._stmt_join(cand, existing, anti=True))

    def _track_delete(self, cand: DataFrame, before: DataFrame) -> None:
        from ..store import _with_ids

        self._cs_track(removed=self._stmt_join(before, _with_ids(cand)))

    def _update_one(self, op) -> None:
        spark = self.store.spark
        track = self._track_changes
        if isinstance(op, A.InsertData):
            qdf = self._quads_df(op.triples)
            if track:
                self._track_insert(qdf, self.store.df)
            self.store = self.store.add(
                qdf,
                other_has_named=any(q[3] is not None for q in op.triples),
            )
        elif isinstance(op, A.DeleteData):
            qdf = self._quads_df(op.triples)
            if track:
                self._track_delete(qdf, self.store.df)
            self.store = self.store.remove(qdf)
        elif isinstance(op, A.Modify):
            g = op.with_graph
            if op.using:
                # USING/USING NAMED replaces WITH for pattern matching
                # (templates still instantiate into the WITH graph) —
                # SPARQL 1.1 Update §3.1.3; reuses the FROM/FROM NAMED
                # dataset machinery
                c = self._compiler(dataset=op.using)
                sol = c.compile_group(op.where)
            else:
                c = self._compiler()
                sol = c.compile_group(op.where, graph=g)
            sol = Sol(sol.df.localCheckpoint(), sol.vars, sol.maybe_unbound)
            if c._owned:
                # the localCheckpoint above materialized the WHERE
                # solutions; the compile-time compat checkpoints they
                # read are now dead
                from ..operators import lifecycle as L

                L.free(*c._owned)
            if op.delete_templates:
                dels = self._instantiate(sol, op.delete_templates, g)
                if track:
                    self._track_delete(dels, self.store.df)
                self.store = self.store.remove(dels)
            if op.insert_templates:
                ins = self._instantiate(sol, op.insert_templates, g)
                if track:
                    self._track_insert(ins, self.store.df)
                self.store = self.store.add(ins, other_has_named=g is not None)
        elif isinstance(op, A.LoadUpdate):
            from ..rio.reader import read_rdf

            path = op.source.lex
            if path.startswith("file://"):
                path = path[7:]
            df = read_rdf(spark, path)
            if op.graph is not None:
                df = df.withColumn("gt", T.lit_term(op.graph))
            if track:
                self._track_insert(df, self.store.df)
            self.store = self.store.add(df)
        elif isinstance(op, (A.ClearUpdate, A.DropUpdate)):
            tgt = op.target
            df = self.store.df
            if tgt == "DEFAULT":
                kept = df.where(F.col("g").isNotNull())
            elif tgt == "NAMED":
                kept = df.where(F.col("g").isNull())
            elif tgt == "ALL":
                kept = df.limit(0)
            else:
                kept = df.where(
                    F.col("g").isNull() | (F.col("g") != T.term_id(T.lit_term(tgt)))
                )
            if track:
                # removed = complement of kept (bounded to the cleared
                # graph's rows; no full-store diff)
                self._cs_track(removed=self._stmt_join(df, kept, anti=True))
            self.store = TripleStore(spark, kept)
        elif isinstance(op, A.EntailmentsUpdate):
            # AST2BOpUpdate.java:400-458 Create/Drop/Enable/DisableEntailments
            if op.op == "CREATE":
                self._recompute_entailments()
            elif op.op == "DROP":
                if track:
                    from ..store import EXPLICIT

                    self._cs_track(
                        removed=self.store.df.where(F.col("inferred") != EXPLICIT)
                    )
                self.store = TripleStore(spark, self.store.explicit())
            elif op.op == "ENABLE":
                self.maintain_entailments = True
                self._recompute_entailments()
            else:  # DISABLE
                self.maintain_entailments = False
        elif isinstance(op, A.CreateUpdate):
            pass  # graphs are implicit
        elif isinstance(op, A.CopyMoveAdd):
            df = self.store.df

            def graph_cond(tgt):
                if tgt == "DEFAULT":
                    return F.col("g").isNull()
                return F.coalesce(
                    F.col("g") == T.term_id(T.lit_term(tgt)), F.lit(False)
                )

            moved = df.where(graph_cond(op.src))
            if op.dst == "DEFAULT":
                moved = moved.withColumn("gt", F.lit(None).cast(T.TERM_TYPE))
            else:
                moved = moved.withColumn("gt", T.lit_term(op.dst))
            moved = moved.select("st", "pt", "ot", "gt", "inferred")
            base = df
            if op.op in ("COPY", "MOVE"):
                base = base.where(~graph_cond(op.dst))  # overwrite destination
            if op.op == "MOVE":
                base = base.where(~graph_cond(op.src))
            new_store = TripleStore(spark, base).add(moved)
            if track:
                # delta bounded to the src/dst graphs (never full-store)
                aff = graph_cond(op.src) | graph_cond(op.dst)
                b_aff = df.where(aff)
                a_aff = new_store.df.where(aff)
                self._cs_track(
                    added=self._stmt_join(a_aff, b_aff, anti=True),
                    removed=self._stmt_join(b_aff, a_aff, anti=True),
                )
            self.store = new_store
        else:
            raise TypeError(f"unsupported update {type(op)}")

    def _quads_df(self, quads: list) -> DataFrame:
        return T.terms_df(
            self.store.spark,
            [(s, p, o, g) for (s, p, o, g) in quads],
            ["st", "pt", "ot", "gt"],
        )
