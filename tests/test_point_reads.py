"""Constant-keyed point reads served from the saved key layouts without
Spark (the reference answers a pattern with a bound key as a prefix scan
of one index permutation, ``SPOKeyOrder``): the Python term id, the
layout probe's eligibility, and its answers against the Spark path."""

import dataclasses
import json
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from database_spark import terms as T
from database_spark.server import SparqlEndpoint
from database_spark.sparql.engine import SparqlEngine
from database_spark.sparql.parser import parse_query
from database_spark.store import TripleStore
from database_spark.terms import Term

EX = "http://example.org/"
NAME = Term.iri(EX + "name")
KNOWS = Term.iri(EX + "knows")
AGE = Term.iri(EX + "age")
FORMATS = (
    "application/sparql-results+json",
    "application/sparql-results+xml",
    "text/csv",
    "text/tab-separated-values",
    "text/html",
)


def _trips():
    out = []
    for i in range(40):
        s = Term.iri(EX + f"s{i}")
        out.append((s, KNOWS, Term.iri(EX + f"s{(i * 7) % 40}")))
        out.append((s, AGE, Term.integer(i % 9)))
        out.append((s, Term.iri(EX + f"p{i % 5}"), Term.literal(f"{i}.5", T.XSD_DECIMAL)))
    s1 = Term.iri(EX + "s1")
    out += [
        (s1, NAME, Term.literal('tab\there "quoted" back\\slash\r\nline')),
        (s1, NAME, Term.literal("chat", lang="FR")),
        (s1, NAME, Term.literal("")),
        (s1, NAME, Term.literal("héllo wörld ✓ 日本語")),
        (s1, NAME, Term.literal("x" * 40)),
        (s1, KNOWS, Term.bnode("b0")),
        (s1, Term.iri(EX + "when"), Term.literal("2020-01-02", T.XSD_DATE)),
        (Term.bnode("b0"), KNOWS, s1),
    ]
    return out


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    """A saved and reloaded store (probe-eligible) with one inferred
    statement, plus an engine over the same store with the root
    cleared — the Spark path for every query."""
    path = str(tmp_path_factory.mktemp("point") / "st")
    base = TripleStore.from_python_triples(spark, _trips()).df
    inferred = TripleStore.from_python_triples(
        spark, [(Term.iri(EX + "s2"), KNOWS, Term.iri(EX + "s3"))]
    ).df.withColumn("inferred", F.lit(1).cast("tinyint"))
    TripleStore(spark, base.unionByName(inferred), has_named=False).save(
        path, partition_by_predicate=True, buckets=8
    )
    store = TripleStore.load(spark, path)
    assert store.probe_ready
    return (
        SparqlEngine(store),
        SparqlEngine(dataclasses.replace(store, root=None)),
        path,
    )


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _chunks(body) -> list:
    """A streamed reply as its sorted row chunks (row order is free
    without ORDER BY; the separator before a row depends on it)."""
    if isinstance(body, str):
        return [body]
    return sorted(c.removeprefix(", ") for c in body)


# ------------------------------------------------------------- term ids
def test_python_term_id_matches_spark_column(spark):
    terms = [
        Term.iri(EX + "a"),
        Term.bnode("b0"),
        Term.literal("chat", lang="FR"),
        Term.literal("12", T.XSD_INTEGER),
        Term.literal("1.5", T.XSD_DOUBLE),
        Term.literal(""),
        Term.literal("héllo wörld ✓ 日本語"),
        Term.iri(T.RDF + "type"),
    ]
    # 0..71 bytes: every tail path and one, two stripes of the 32-byte loop
    terms += [Term.literal("a" * n) for n in range(72)]
    terms += [Term.literal("é" * n, lang="de") for n in (15, 16, 17, 40)]
    got = (
        T.terms_df(spark, [(t,) for t in terms], ["t"])
        .select(T.term_id(F.col("t")).alias("id"))
        .collect()
    )
    assert [r["id"] for r in got] == [T.term_id_of(t) for t in terms]


def test_stored_ids_match_python_ids(saved):
    eng, _spark_eng, _path = saved
    rows = eng.store.df.select("s", "st", "o", "ot").collect()
    for r in rows:
        assert r["s"] == T.term_id_of(Term(**r["st"].asDict()))
        assert r["o"] == T.term_id_of(Term(**r["ot"].asDict()))


# --------------------------------------------------------- differential
ELIGIBLE_SELECTS = [
    f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}",
    f"SELECT * WHERE {{ <{EX}s1> ?p ?o }}",
    f"SELECT ?o WHERE {{ <{EX}s1> <{EX}name> ?o }}",
    f"SELECT ?s ?p WHERE {{ ?s ?p <{EX}s1> }}",
    f"SELECT ?s WHERE {{ ?s <{EX}knows> <{EX}s7> }}",
    f"SELECT ?p ?x WHERE {{ <{EX}s1> ?p <{EX}s7> }}",
    f"SELECT ?o ?unbound WHERE {{ <{EX}s5> ?p ?o }}",
    f'SELECT ?s WHERE {{ ?s <{EX}name> "chat"@fr }}',
    f"SELECT ?p ?o WHERE {{ <{EX}nobody> ?p ?o }}",
    f"SELECT ?p ?o WHERE {{ <{EX}s3> ?p ?o }} LIMIT 2",
    f"SELECT ?o WHERE {{ <{EX}s1> <{EX}name> ?o }} LIMIT 3",
    f"SELECT ?p WHERE {{ <{EX}s4> ?p ?o }} LIMIT 0",
]
ELIGIBLE_ASKS = [
    f"ASK {{ <{EX}s1> <{EX}name> \"chat\"@fr }}",
    f"ASK {{ <{EX}s1> <{EX}name> \"nope\" }}",
    f"ASK {{ ?s ?p <{EX}s1> }}",
    f"ASK {{ <{EX}zzz> ?p ?o }}",
]
ELIGIBLE_DESCRIBES = [
    f"DESCRIBE <{EX}s1>",
    f"DESCRIBE <{EX}s1> <{EX}s7>",
    f"PREFIX hint: <http://www.bigdata.com/queryHints#> DESCRIBE <{EX}s1> "
    'WHERE { hint:Query hint:describeMode "ForwardOneStep" }',
    f"DESCRIBE <{EX}zzz>",
]


def test_probe_matches_spark_path(spark, saved):
    """Every eligible shape answers as the Spark path does, in every
    result format, with no Spark job."""
    eng, spark_eng, _path = saved
    ep = SparqlEndpoint(eng)
    for query in ELIGIBLE_SELECTS + ELIGIBLE_ASKS:
        assert eng.point_read_plan(parse_query(query)) is not None, query
        for fmt in FORMATS:
            (body, ctype), jobs = _jobs_in(
                spark, "probe-diff", lambda: ep.evaluate(query, fmt, eng)
            )
            got = _chunks(body)
            assert jobs == [], f"probe ran Spark jobs for {query}"
            want_body, want_ctype = ep.evaluate(query, fmt, spark_eng)
            assert ctype == want_ctype
            assert got == _chunks(want_body), (query, fmt)


def test_describe_probe_is_byte_identical(spark, saved):
    eng, spark_eng, _path = saved
    ep = SparqlEndpoint(eng)
    for query in ELIGIBLE_DESCRIBES:
        assert eng.point_read_plan(parse_query(query)) is not None
        (body, ctype), jobs = _jobs_in(spark, "probe-desc", lambda: ep.evaluate(query, "", eng))
        got = _chunks(body)
        assert jobs == [] and ctype == "application/n-triples"
        want = _chunks(ep.evaluate(query, "", spark_eng)[0])
        assert got == want and len(set(got)) == len(got), query
    # non-N-Triples formats take the Spark path
    body, ctype = ep.evaluate(ELIGIBLE_DESCRIBES[0], "text/turtle", eng)
    assert ctype == "text/turtle" and "chat" in "".join(body)


def test_limit_keeps_the_spark_path_rows(saved):
    """LIMIT without ORDER BY keeps the first rows in term order on both
    paths — the same rows, in the same order."""
    eng, spark_eng, _path = saved
    for query in ELIGIBLE_SELECTS:
        q = parse_query(query)
        if q.limit is None:
            continue
        res = eng.point_read(q)
        want = spark_eng.select(query)
        assert res.vars == want.vars
        rows = [[r[v] for v in res.vars] for r in res.rows]
        want_rows = [
            [None if r[v] is None else r[v].asDict() for v in want.vars]
            for r in want.df.collect()
        ]
        assert rows == want_rows, query


def test_limit_over_dates_falls_back(saved):
    """An order Python cannot reproduce exactly (a date literal
    among the candidates) hands the query to Spark."""
    eng, _spark_eng, _path = saved
    q = parse_query(f"SELECT ?o WHERE {{ <{EX}s1> ?p ?o }} LIMIT 1")
    assert eng.point_read_plan(q) is not None
    assert eng.point_read(q) is None


def test_http_reply_and_paging(saved):
    eng, _spark_eng, _path = saved
    ep = SparqlEndpoint(eng).start()
    try:
        q = f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}"
        url = ep.url + "?" + urllib.parse.urlencode({"query": q, "limit": 3, "offset": 1})
        with urllib.request.urlopen(url) as r:
            doc = json.loads(r.read())
        assert doc["head"]["vars"] == ["p", "o"]
        assert len(doc["results"]["bindings"]) == 3
    finally:
        ep.stop()


def test_explain_names_the_probe(saved):
    eng, spark_eng, _path = saved
    ep = SparqlEndpoint(eng)
    body, _ = ep.explain(f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}", eng)
    assert "=== Layout probe ===" in body and "s_bucket=" in body
    body, _ = ep.explain(f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}", spark_eng)
    assert "Layout probe" not in body


# ------------------------------------------------------------- fallback
def test_only_local_paths_get_a_root():
    from database_spark.store import _local_dir

    assert _local_dir("/data/st") == "/data/st"
    assert _local_dir("file:///data/st") == "/data/st"
    assert _local_dir("file:/data/st") == "/data/st"
    assert _local_dir("hdfs://nn:8020/data/st") is None
    assert _local_dir("s3a://bucket/st") is None


@pytest.mark.parametrize(
    "query",
    [
        f"SELECT ?o WHERE {{ <{EX}s1> <{EX}knows>+ ?o }}",  # property path
        f"SELECT ?p WHERE {{ <{EX}s1> ?p ?p }}",  # repeated variable
        f"SELECT ?o FROM <{EX}g> WHERE {{ <{EX}s1> ?p ?o }}",  # dataset
        f"SELECT DISTINCT ?p WHERE {{ <{EX}s1> ?p ?o }}",
        f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }} ORDER BY ?o",
        f"SELECT ?s ?o WHERE {{ ?s <{EX}knows> ?o }}",  # no constant key
        f"SELECT ?p ?o WHERE {{ _:b ?p ?o }}",
        f"SELECT ?s WHERE {{ ?s <http://www.bigdata.com/rdf/search#search> \"x\" }}",
        f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o . <{EX}s2> ?p ?o }}",
        f"DESCRIBE ?s WHERE {{ ?s <{EX}knows> <{EX}s7> }}",
        f"CONSTRUCT {{ <{EX}s1> ?p ?o }} WHERE {{ <{EX}s1> ?p ?o }}",
    ],
)
def test_ineligible_queries_use_spark(saved, query):
    eng, _spark_eng, _path = saved
    assert eng.point_read_plan(parse_query(query)) is None


def test_backchain_engine_uses_spark(saved):
    eng, _spark_eng, _path = saved
    q = parse_query(f"SELECT ?p ?o WHERE {{ <{EX}s1> ?p ?o }}")
    assert SparqlEngine(eng.store, backchain=True).point_read_plan(q) is None


def test_fallback_after_insert(spark, saved):
    eng, _spark_eng, path = saved
    mutable = SparqlEngine(TripleStore.load(spark, path))
    mutable.update(f'INSERT DATA {{ <{EX}s1> <{EX}name> "added" }}')
    assert mutable.store.root is None
    q = f"SELECT ?o WHERE {{ <{EX}s1> <{EX}name> ?o }}"
    assert mutable.point_read_plan(parse_query(q)) is None
    body, _ = SparqlEndpoint(mutable).evaluate(q, "", mutable)
    names = {b["o"]["value"] for b in json.loads("".join(body))["results"]["bindings"]}
    assert "added" in names and "chat" in names


def test_fallback_for_quad_store(spark, tmp_path):
    path = str(tmp_path / "quads")
    g = Term.iri(EX + "g")
    TripleStore.from_python_triples(
        spark, [(Term.iri(EX + "a"), NAME, Term.literal("A"), g),
                (Term.iri(EX + "a"), NAME, Term.literal("B"))]
    ).save(path, partition_by_predicate=True, buckets=4)
    eng = SparqlEngine(TripleStore.load(spark, path))
    q = f"SELECT ?o WHERE {{ <{EX}a> ?p ?o }}"
    assert eng.point_read_plan(parse_query(q)) is None
    body, _ = SparqlEndpoint(eng).evaluate(q, "", eng)
    got = {b["o"]["value"] for b in json.loads("".join(body))["results"]["bindings"]}
    assert got == {"A", "B"}  # union default graph


def test_include_inferred_false_uses_explicit_view(saved):
    eng, _spark_eng, _path = saved
    ep = SparqlEndpoint(eng).start()
    try:
        q = f"SELECT ?o WHERE {{ <{EX}s2> <{EX}knows> ?o }}"

        def objects(extra):
            url = ep.url + "?" + urllib.parse.urlencode({"query": q, **extra})
            with urllib.request.urlopen(url) as r:
                doc = json.loads(r.read())
            return {b["o"]["value"] for b in doc["results"]["bindings"]}

        assert objects({}) == {EX + "s14", EX + "s3"}
        assert objects({"includeInferred": "false"}) == {EX + "s14"}
    finally:
        ep.stop()


# --------------------------------------------------------------- HASSTMT
def test_has_statement_uses_the_probe(spark, saved):
    eng, spark_eng, _path = saved
    cases = [
        ({"s": Term.iri(EX + "s1"), "p": NAME, "o": Term.literal("chat", lang="fr")}, True),
        ({"s": Term.iri(EX + "s1"), "o": Term.literal("nope")}, False),
        ({"o": Term.iri(EX + "s7")}, True),
        ({"o": Term.iri(EX + "zzz")}, False),
        ({"s": Term.iri(EX + "s1"), "g": Term.iri(EX + "g")}, False),
    ]
    for spoc, want in cases:
        got, jobs = _jobs_in(spark, "hasstmt", lambda: eng.store.has_statement(**spoc))
        assert got is want and jobs == [], spoc
        assert spark_eng.store.has_statement(**spoc) is want
    # an unkeyed pattern keeps the Spark path
    assert eng.store.probe_rows(p=NAME) is None
    assert eng.store.has_statement(p=NAME)


def test_concurrent_probes_share_the_bucket_cache(spark, saved):
    """Handler threads probe one store at once: the per-bucket dataset
    cache may be filled by several of them, every answer stays exact."""
    import sys
    import threading

    _eng, _spark_eng, path = saved
    store = TripleStore.load(spark, path)  # empty cache
    keys = [Term.iri(EX + f"s{i}") for i in range(40)]
    want = {k: len(store.probe_rows(s=k)) for k in keys}
    store = TripleStore.load(spark, path)
    errors: list = []

    def worker(i):
        try:
            for j in range(60):
                k = keys[(i * 7 + j) % len(keys)]
                if len(store.probe_rows(s=k)) != want[k]:
                    errors.append(k)
        except Exception as e:  # noqa: BLE001 — reported by the assert
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
