"""Result + RDF writers.

Reference: SPARQL results serializers
(`RDF/rdf/rio/json/BigdataSPARQLResultsJSONWriter.java`, SPARQL-XML
sibling, TSV via Sesame) and statement writers
(`rio/turtle/BigdataTurtleWriter.java`, N-Triples).

Design: two tiers.
* Driver-side serializers for query RESULTS (`SelectResult` → W3C
  SPARQL-Results JSON / XML / CSV / TSV strings) — results are
  human-sized; we iterate with `toLocalIterator` so a large result
  never materializes as one driver list.
* Distributed statement writer for CONSTRUCT/dump outputs: the N-Triples
  line is built as a COLUMN expression (term → N3 lexical form) and
  written with `df.write.text` — scales to any size, no driver
  bottleneck.
"""

from __future__ import annotations

import json
from xml.sax.saxutils import escape as xml_escape

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import terms as T


# ------------------------------------------------------------ term → JSON


def _term_json(row_val) -> dict | None:
    if row_val is None:
        return None
    kind, lex, dt, lang = row_val["kind"], row_val["lex"], row_val["dt"], row_val["lang"]
    if kind == T.KIND_IRI:
        return {"type": "uri", "value": lex}
    if kind == T.KIND_BNODE:
        return {"type": "bnode", "value": lex}
    out = {"type": "literal", "value": lex}
    if lang:
        out["xml:lang"] = lang
    elif dt and dt != T.XSD_STRING:
        out["datatype"] = dt
    return out


def result_rows(result):
    """The binding rows of a SelectResult: the layout probe's
    in-memory rows when it answered the query, else the DataFrame
    streamed through ``toLocalIterator`` (the whole result set is never
    held in memory).  Either way ``row[var]`` is the term (struct
    fields by name) or None."""
    if result.rows is not None:
        return iter(result.rows)
    return result.df.toLocalIterator()


def iter_results_json(result):
    """SelectResult → W3C SPARQL 1.1 Query Results JSON, streamed as
    string chunks (one binding row per chunk)."""
    yield (
        '{"head": {"vars": ' + json.dumps(list(result.vars))
        + '}, "results": {"bindings": ['
    )
    first = True
    for row in result_rows(result):
        b = {}
        for v in result.vars:
            tj = _term_json(row[v])
            if tj is not None:
                b[v] = tj
        chunk = json.dumps(b)
        yield chunk if first else ", " + chunk
        first = False
    yield "]}}"


def results_json(result) -> str:
    """SelectResult → W3C SPARQL 1.1 Query Results JSON string."""
    return "".join(iter_results_json(result))


def iter_results_xml(result):
    """SelectResult → SPARQL Query Results XML, streamed (one result
    element per chunk)."""
    yield (
        '<?xml version="1.0"?>'
        '<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
        "<head>"
        + "".join(f'<variable name="{v}"/>' for v in result.vars)
        + "</head><results>"
    )
    for row in result_rows(result):
        parts = ["<result>"]
        for v in result.vars:
            t = row[v]
            if t is None:
                continue
            kind, lex = t["kind"], xml_escape(t["lex"] or "")
            if kind == T.KIND_IRI:
                inner = f"<uri>{lex}</uri>"
            elif kind == T.KIND_BNODE:
                inner = f"<bnode>{lex}</bnode>"
            elif t["lang"]:
                inner = f'<literal xml:lang="{t["lang"]}">{lex}</literal>'
            elif t["dt"] and t["dt"] != T.XSD_STRING:
                inner = f'<literal datatype="{xml_escape(t["dt"])}">{lex}</literal>'
            else:
                inner = f"<literal>{lex}</literal>"
            parts.append(f'<binding name="{v}">{inner}</binding>')
        parts.append("</result>")
        yield "".join(parts)
    yield "</results></sparql>"


def results_xml(result) -> str:
    """SelectResult → SPARQL Query Results XML string."""
    return "".join(iter_results_xml(result))


def _csv_cell(t, sep: str) -> str:
    if t is None:
        return ""
    lex = t["lex"] or ""
    if sep == "\t":
        # TSV uses full N3 forms per the W3C spec
        return _n3_py(t)
    if any(c in lex for c in (",", '"', "\n")):
        return '"' + lex.replace('"', '""') + '"'
    return lex


def _n3_py(t) -> str:
    """Python twin of :func:`n3_col` (same escapes, same checks),
    so a line built here is byte-identical to ``ntriples_lines``."""
    kind, lex = t["kind"], t["lex"]
    if kind == T.KIND_IRI:
        return f"<{lex}>"
    if kind == T.KIND_BNODE:
        return f"_:{lex}"
    esc = (
        lex.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )
    if t["lang"] is not None:
        return f'"{esc}"@{t["lang"]}'
    if t["dt"] is not None and t["dt"] != T.XSD_STRING:
        return f'"{esc}"^^<{t["dt"]}>'
    return f'"{esc}"'


def iter_results_csv(result, sep: str = ","):
    yield sep.join(result.vars) + "\n"
    for row in result_rows(result):
        yield sep.join(_csv_cell(row[v], sep) for v in result.vars) + "\n"


def results_csv(result, sep: str = ",") -> str:
    return "".join(iter_results_csv(result, sep))


def iter_results_tsv(result):
    yield "\t".join("?" + v for v in result.vars) + "\n"
    for row in result_rows(result):
        yield (
            "\t".join(
                "" if row[v] is None else _n3_py(row[v]) for v in result.vars
            )
            + "\n"
        )


def results_tsv(result) -> str:
    return "".join(iter_results_tsv(result))


def iter_results_html(result):
    """SelectResult → a readable HTML table, streamed one row per
    chunk (the reference styles its XML results with
    ``result-to-html.xsl`` for browsers; this serves the rendered
    table directly).  Every value is escaped."""
    yield (
        "<!DOCTYPE html><html><head><meta charset='utf-8'/>"
        "<style>table{border-collapse:collapse}"
        "td,th{border:1px solid #999;padding:.2em .5em;"
        "font-family:monospace}</style></head><body><table><tr>"
        + "".join(f"<th>{xml_escape(v)}</th>" for v in result.vars)
        + "</tr>"
    )
    for row in result_rows(result):
        cells = []
        for v in result.vars:
            t = row[v]
            cells.append(
                "<td></td>"
                if t is None
                else f"<td>{xml_escape(_n3_py(t))}</td>"
            )
        yield "<tr>" + "".join(cells) + "</tr>"
    yield "</table></body></html>"


def results_html(result) -> str:
    return "".join(iter_results_html(result))


# --------------------------------------------------- distributed N-Triples


def _esc_literal(lex: Column) -> Column:
    """Escape a literal's lexical form for STRING_LITERAL_QUOTE (shared
    by the N-Triples and Turtle writers).  Mirrors the reference's
    Sesame ``TurtleUtil.encodeString``: backslash, quote, and the \\t
    \\n \\r control characters — a raw CR/TAB inside a quoted string is
    forbidden by the grammar, so CRLF text must be escaped or the dump
    does not round-trip."""
    esc = F.regexp_replace(lex, r"\\", r"\\\\")
    esc = F.regexp_replace(esc, '"', '\\\\"')
    esc = F.regexp_replace(esc, "\t", r"\\t")
    esc = F.regexp_replace(esc, "\n", r"\\n")
    return F.regexp_replace(esc, "\r", r"\\r")


def n3_col(t: Column) -> Column:
    """Term struct → its N3 lexical form, as a pure column expression
    (stays in codegen for arbitrarily large dumps)."""
    lex = t.getField("lex")
    esc = _esc_literal(lex)
    return (
        F.when(t.getField("kind") == T.KIND_IRI, F.concat(F.lit("<"), lex, F.lit(">")))
        .when(t.getField("kind") == T.KIND_BNODE, F.concat(F.lit("_:"), lex))
        .when(
            t.getField("lang").isNotNull(),
            F.concat(F.lit('"'), esc, F.lit('"@'), t.getField("lang")),
        )
        .when(
            t.getField("dt").isNotNull() & (t.getField("dt") != T.XSD_STRING),
            F.concat(F.lit('"'), esc, F.lit('"^^<'), t.getField("dt"), F.lit(">")),
        )
        .otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
    )


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """(st, pt, ot) → one-column DataFrame of N-Triples lines."""
    return triples.select(
        F.concat_ws(
            " ",
            n3_col(F.col("st")),
            n3_col(F.col("pt")),
            n3_col(F.col("ot")),
            F.lit("."),
        ).alias("value")
    )


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Distributed N-Triples dump (any size; one file per partition)."""
    ntriples_lines(triples).write.mode("overwrite").text(path)


# ------------------------------------------------------------- N-Quads


def nquads_lines(quads: DataFrame) -> DataFrame:
    """(st, pt, ot[, gt]) → one-column DataFrame of N-Quads lines; a
    null/absent graph term emits a default-graph triple line (valid
    N-Quads).  Pure column expressions like the N-Triples writer."""
    parts = [n3_col(F.col("st")), n3_col(F.col("pt")), n3_col(F.col("ot"))]
    if "gt" in quads.columns:
        parts.append(
            F.when(F.col("gt").isNotNull(), n3_col(F.col("gt"))).otherwise(
                F.lit(None)
            )
        )
    return quads.select(
        F.concat_ws(" ", *parts, F.lit(".")).alias("value")
    )


def iter_nquads(quads: DataFrame):
    """Stream an N-Quads document line by line (bounded driver
    memory)."""
    for r in nquads_lines(quads).toLocalIterator():
        yield r["value"] + "\n"


def nquads_string(quads: DataFrame) -> str:
    return "".join(iter_nquads(quads))


def write_nquads(quads: DataFrame, path: str) -> None:
    """Distributed N-Quads dump (any size; one file per partition)."""
    nquads_lines(quads).write.mode("overwrite").text(path)


# ------------------------------------------------------- abbreviated Turtle
#
# Reference: ``rio/turtle/BigdataTurtleWriter.java`` (prefixed,
# subject-grouped, predicate-list abbreviated Turtle).  Spark design:
# term→Turtle rendering and subject-block assembly are pure column
# expressions over two hash aggregations ((s,p)→objects, s→predicate
# list), so the dump scales like any groupBy; only the @prefix header
# is driver-side.

RDF_TYPE = T.RDF + "type"

#: conservative PN_LOCAL / PN_PREFIX shapes — anything outside falls
#: back to the full <IRI> form, which is always valid
_PN_LOCAL_RE = "^[A-Za-z_][A-Za-z0-9_-]*$"
_INT_RE = "^[+-]?[0-9]+$"
_DEC_RE = r"^[+-]?[0-9]*\.[0-9]+$"
_DBL_RE = r"^[+-]?([0-9]+\.[0-9]*|\.?[0-9]+)[eE][+-]?[0-9]+$"


def infer_prefixes(triples: DataFrame, max_prefixes: int = 8) -> dict:
    """Namespace table for the dump: top-N namespaces by triple count
    (bounded aggregate + driver collect of N rows), named ns1..nsN,
    merged under the well-known table (rdf:/rdfs:/xsd:/…)."""
    iris = None
    for c in ("st", "pt", "ot"):
        one = triples.select(F.col(c).getField("lex").alias("iri")).where(
            F.col(c).getField("kind") == T.KIND_IRI
        )
        iris = one if iris is None else iris.unionByName(one)
    ns = (
        iris.select(
            F.regexp_extract("iri", r"^(.*[/#])[^/#]*$", 1).alias("ns")
        )
        .where(F.length("ns") > 1)
        .groupBy("ns")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "ns")
        .limit(max_prefixes)
        .collect()
    )
    known = {v: k for k, v in T.WELL_KNOWN_PREFIXES.items()}
    out: dict[str, str] = {}
    i = 0
    for r in ns:
        if r["ns"] in known:
            out[known[r["ns"]]] = r["ns"]
        else:
            i += 1
            out[f"ns{i}"] = r["ns"]
    return out


def _ttl_iri(lex: Column, prefixes: dict) -> Column:
    """IRI lexical → prefixed name where a namespace matches and the
    local part is PN_LOCAL-safe, else <IRI>."""
    out = F.concat(F.lit("<"), lex, F.lit(">"))
    # Build the CASE chain shortest-namespace-first: each later F.when
    # wraps the previous chain, so the LAST namespace added is evaluated
    # first at runtime — iterating shortest-first puts the longest
    # (tightest) namespace outermost, which is what nested prefixes
    # (ex:/exsub:) need to pick the tighter match.
    for pfx, ns in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
        local = F.substring(lex, len(ns) + 1, 2_000_000_000)
        out = F.when(
            lex.startswith(ns) & local.rlike(_PN_LOCAL_RE),
            F.concat(F.lit(pfx + ":"), local),
        ).otherwise(out)
    return out


def ttl_term(t: Column, prefixes: dict) -> Column:
    """Term struct → abbreviated Turtle token (bare numeric/boolean
    literals, prefixed names, N3 fallback)."""
    lex = t.getField("lex")
    dt = t.getField("dt")
    bare = (
        ((dt == T.XSD_INTEGER) & lex.rlike(_INT_RE))
        | ((dt == T.XSD_DECIMAL) & lex.rlike(_DEC_RE))
        | ((dt == T.XSD_DOUBLE) & lex.rlike(_DBL_RE))
        | ((dt == T.XSD_BOOLEAN) & lex.isin("true", "false"))
    )
    esc = _esc_literal(lex)
    return (
        F.when(t.getField("kind") == T.KIND_IRI, _ttl_iri(lex, prefixes))
        .when(t.getField("kind") == T.KIND_BNODE, F.concat(F.lit("_:"), lex))
        .when(bare, lex)
        .when(
            t.getField("lang").isNotNull(),
            F.concat(F.lit('"'), esc, F.lit('"@'), t.getField("lang")),
        )
        .when(
            dt.isNotNull() & (dt != T.XSD_STRING),
            F.concat(
                F.lit('"'), esc, F.lit('"^^'), _ttl_iri(dt, prefixes)
            ),
        )
        .otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
    )


def _with_xsd(prefixes: dict) -> dict:
    """Datatype positions almost always need xsd:; declare it unless
    the namespace is already bound under some prefix."""
    if T.XSD in prefixes.values() or "xsd" in prefixes:
        return prefixes
    return {**prefixes, "xsd": T.XSD}


def turtle_header(prefixes: dict) -> str:
    return "".join(
        f"@prefix {p}: <{ns}> .\n" for p, ns in sorted(prefixes.items())
    )


def turtle_blocks(triples: DataFrame, prefixes: dict) -> DataFrame:
    """(st, pt, ot) → one-column DataFrame `value`, one subject block
    per row::

        ex:s a ex:T ;
            ex:p "v1", "v2" .

    Deterministic: objects sorted within a predicate, predicates sorted
    with rdf:type (`a`) first, blocks sortable by subject."""
    p_lex = F.col("pt").getField("lex")
    pred = F.when(p_lex == F.lit(RDF_TYPE), F.lit("a")).otherwise(
        ttl_term(F.col("pt"), prefixes)
    )
    po = (
        triples.select(
            ttl_term(F.col("st"), prefixes).alias("s"),
            pred.alias("p"),
            # rdf:type sorts before every other predicate
            F.when(p_lex == F.lit(RDF_TYPE), F.lit(" a")).otherwise(
                ttl_term(F.col("pt"), prefixes)
            ).alias("p_key"),
            ttl_term(F.col("ot"), prefixes).alias("o"),
        )
        .groupBy("s", "p", "p_key")
        .agg(F.array_join(F.array_sort(F.collect_set("o")), ", ").alias("os"))
    )
    return (
        po.groupBy("s")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("p_key"), F.col("p"), F.col("os")))
            ).alias("ps")
        )
        .select(
            F.concat(
                F.col("s"),
                F.lit(" "),
                F.array_join(
                    F.transform(
                        "ps", lambda x: F.concat(x["p"], F.lit(" "), x["os"])
                    ),
                    " ;\n    ",
                ),
                F.lit(" ."),
            ).alias("value")
        )
    )


def iter_turtle(triples: DataFrame, prefixes: dict | None = None):
    """Stream a Turtle document as string chunks: @prefix header, then
    one subject block per chunk via ``toLocalIterator`` — bounded
    driver memory for arbitrarily large graphs."""
    prefixes = _with_xsd(
        infer_prefixes(triples) if prefixes is None else prefixes
    )
    yield turtle_header(prefixes)
    first = True
    for r in (
        turtle_blocks(triples, prefixes).orderBy("value").toLocalIterator()
    ):
        yield ("\n" if first else "\n\n") + r["value"]
        first = False
    if not first:
        yield "\n"


def turtle_string(triples: DataFrame, prefixes: dict | None = None) -> str:
    """Full Turtle document as a driver-side string (header + blocks,
    assembled distributed and streamed)."""
    return "".join(iter_turtle(triples, prefixes))


def iter_ntriples(triples):
    """Stream an N-Triples document line by line (bounded driver
    memory); use :func:`write_ntriples` for distributed dumps.
    ``triples`` is an (st, pt, ot) DataFrame, or the layout probe's
    list of (st, pt, ot) term dicts."""
    if not isinstance(triples, DataFrame):
        for st, pt, ot in triples:
            yield f"{_n3_py(st)} {_n3_py(pt)} {_n3_py(ot)} .\n"
        return
    for r in ntriples_lines(triples).toLocalIterator():
        yield r["value"] + "\n"


def write_turtle(
    triples: DataFrame, path: str, prefixes: dict | None = None
) -> None:
    """Distributed Turtle dump: subject blocks stream through the
    aggregation pipeline; every output partition file carries the
    @prefix header (each part is then a standalone Turtle document).
    Arrow-batched mapInPandas only prepends the header per partition —
    block assembly itself is pure column expressions."""
    import pandas as pd

    prefixes = _with_xsd(
        infer_prefixes(triples) if prefixes is None else prefixes
    )
    header = turtle_header(prefixes)

    def with_header(batches):
        yield pd.DataFrame({"value": [header]})
        yield from batches

    turtle_blocks(triples, prefixes).mapInPandas(
        with_header, "value string"
    ).write.mode("overwrite").text(path)


# ---------------------------------------------------------------- TriG
#
# TriG = Turtle + graph blocks.  Distributed shape: one output row per
# (graph, subject) block, each named-graph block individually wrapped
# as ``<g> { ... }`` — the same graph label may appear in any number of
# graph statements (their triples union), so blocks never have to be
# gathered per graph and the dump scales like the Turtle writer.


def trig_blocks(quads: DataFrame, prefixes: dict) -> DataFrame:
    """(st, pt, ot[, gt]) → one-column ``value``: default-graph rows as
    bare Turtle subject blocks, named-graph rows wrapped per block."""
    df = quads
    if "gt" not in df.columns:
        from pyspark.sql import types as _T  # noqa: F401

        df = df.withColumn("gt", F.lit(None).cast(df.schema["st"].dataType))
    p_lex = F.col("pt").getField("lex")
    pred = F.when(p_lex == F.lit(RDF_TYPE), F.lit("a")).otherwise(
        ttl_term(F.col("pt"), prefixes)
    )
    po = (
        df.select(
            F.col("gt").getField("kind").alias("g_kind"),
            F.col("gt").getField("lex").alias("g_lex"),
            F.when(
                F.col("gt").isNotNull(), ttl_term(F.col("gt"), prefixes)
            ).alias("g"),
            ttl_term(F.col("st"), prefixes).alias("s"),
            pred.alias("p"),
            F.when(p_lex == F.lit(RDF_TYPE), F.lit(" a")).otherwise(
                ttl_term(F.col("pt"), prefixes)
            ).alias("p_key"),
            ttl_term(F.col("ot"), prefixes).alias("o"),
        )
        .groupBy("g_kind", "g_lex", "g", "s", "p", "p_key")
        .agg(F.array_join(F.array_sort(F.collect_set("o")), ", ").alias("os"))
    )
    block = (
        po.groupBy("g_kind", "g_lex", "g", "s")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("p_key"), F.col("p"), F.col("os")))
            ).alias("ps")
        )
        .select(
            "g_kind",
            "g_lex",
            F.concat(
                F.col("s"),
                F.lit(" "),
                F.array_join(
                    F.transform(
                        "ps", lambda x: F.concat(x["p"], F.lit(" "), x["os"])
                    ),
                    " ;\n        ",
                ),
                F.lit(" ."),
            ).alias("body"),
            F.col("g"),
        )
    )
    return block.select(
        "g_kind",
        "g_lex",
        F.when(
            F.col("g").isNotNull(),
            F.concat(
                F.col("g"), F.lit(" {\n    "), F.col("body"), F.lit("\n}")
            ),
        )
        .otherwise(F.col("body"))
        .alias("value"),
    )


def iter_trig(quads: DataFrame, prefixes: dict | None = None):
    """Stream a TriG document: @prefix header, then one (graph,
    subject) block per chunk — bounded driver memory."""
    triples_view = quads.select("st", "pt", "ot")
    prefixes = _with_xsd(
        infer_prefixes(triples_view) if prefixes is None else prefixes
    )
    yield turtle_header(prefixes)
    first = True
    for r in (
        trig_blocks(quads, prefixes)
        .orderBy("g_kind", "g_lex", "value")
        .select("value")
        .toLocalIterator()
    ):
        yield ("\n" if first else "\n\n") + r["value"]
        first = False
    if not first:
        yield "\n"


def trig_string(quads: DataFrame, prefixes: dict | None = None) -> str:
    return "".join(iter_trig(quads, prefixes))


def write_trig(
    quads: DataFrame, path: str, prefixes: dict | None = None
) -> None:
    """Distributed TriG dump; every partition file carries the @prefix
    header (each part a standalone TriG document)."""
    import pandas as pd

    triples_view = quads.select("st", "pt", "ot")
    prefixes = _with_xsd(
        infer_prefixes(triples_view) if prefixes is None else prefixes
    )
    header = turtle_header(prefixes)

    def with_header(batches):
        yield pd.DataFrame({"value": [header]})
        yield from batches

    trig_blocks(quads, prefixes).select("value").mapInPandas(
        with_header, "value string"
    ).write.mode("overwrite").text(path)


# ------------------------------------------------------ RDF/XML writer
#
# Reference: ``rio/rdfxml/BigdataRDFXMLWriter.java`` (Sesame's
# RDFXMLWriter under the Bigdata value factory).  Subject-grouped
# rdf:Description blocks with namespace-abbreviated property elements.
# Spark design (mirrors the Turtle writer): block assembly is pure
# column expressions over one hash aggregation (subject → sorted
# property-element lines); the only driver-side work is the xmlns
# table — distinct PREDICATE namespaces, schema-sized in any real
# dataset — and streaming the blocks out via ``toLocalIterator`` (one
# Arrow batch resident at a time, never the whole graph).

#: NCName tail: the longest XML-name suffix of a predicate IRI becomes
#: the element's local part (the grammar REQUIRES abbreviation)
_NCNAME_TAIL_RE = "([A-Za-z_][A-Za-z0-9_.-]*)$"


def _xml_text_col(c: Column) -> Column:
    """Escape element text: & < > (saxutils.escape as columns)."""
    e = F.regexp_replace(c, "&", "&amp;")
    e = F.regexp_replace(e, "<", "&lt;")
    return F.regexp_replace(e, ">", "&gt;")


def _xml_attr_col(c: Column) -> Column:
    """Render an attribute value: escaped and double-quoted
    (saxutils.quoteattr shape)."""
    return F.concat(
        F.lit('"'), F.regexp_replace(_xml_text_col(c), '"', "&quot;"), F.lit('"')
    )


def predicate_namespaces(triples: DataFrame) -> dict:
    """xmlns table for the RDF/XML dump: namespace → prefix over the
    DISTINCT predicate IRIs (bounded by schema size — the one
    driver-side collect this writer performs).  Raises for a predicate
    with no NCName tail (not XML-serializable, reference behavior)."""
    p_lex = F.col("pt").getField("lex")
    pns = (
        triples.select(p_lex.alias("p"))
        .distinct()
        .select("p", F.regexp_extract("p", _NCNAME_TAIL_RE, 1).alias("local"))
        .select(
            "p",
            F.col("p").substr(
                F.lit(1), F.length("p") - F.length("local")
            ).alias("ns"),
            "local",
        )
    )
    bad = pns.where(
        (F.length("local") == 0) | (F.length("ns") == 0)
    ).limit(1).collect()
    if bad:
        raise ValueError(
            f"predicate IRI not XML-serializable: {bad[0]['p']}"
        )
    ns_table: dict[str, str] = {T.RDF: "rdf"}
    for r in pns.select("ns").distinct().orderBy("ns").collect():
        if r["ns"] not in ns_table:
            ns_table[r["ns"]] = f"ns{len(ns_table)}"
    return ns_table


def rdfxml_header(ns_table: dict) -> str:
    from xml.sax.saxutils import quoteattr

    xmlns = "".join(
        f"\n    xmlns:{p}={quoteattr(ns)}"
        for ns, p in sorted(ns_table.items(), key=lambda kv: kv[1])
    )
    return '<?xml version="1.0" encoding="UTF-8"?>\n' + f"<rdf:RDF{xmlns}>"


RDFXML_FOOTER = "</rdf:RDF>\n"


def rdfxml_blocks(triples: DataFrame, ns_table: dict | None = None):
    """(st, pt, ot) → (ns_table, one-column DataFrame ``value`` of
    ``<rdf:Description>`` blocks, one subject per row, property lines
    sorted (pred, obj) within the block).  Entirely column
    expressions + one groupBy — scales like any aggregation."""
    if ns_table is None:
        ns_table = predicate_namespaces(triples)
    p_lex = F.col("pt").getField("lex")
    local = F.regexp_extract(p_lex, _NCNAME_TAIL_RE, 1)
    ns_col = p_lex.substr(F.lit(1), F.length(p_lex) - F.length(local))
    tag = F.lit(None).cast("string")
    for ns, pfx in ns_table.items():
        tag = F.when(ns_col == ns, F.lit(pfx + ":")).otherwise(tag)
    tag = F.concat(tag, local)

    ot = F.col("ot")
    o_lex = ot.getField("lex")
    line = (
        F.when(
            ot.getField("kind") == T.KIND_IRI,
            F.concat(
                F.lit("    <"), tag, F.lit(" rdf:resource="),
                _xml_attr_col(o_lex), F.lit("/>"),
            ),
        )
        .when(
            ot.getField("kind") == T.KIND_BNODE,
            F.concat(
                F.lit("    <"), tag, F.lit(" rdf:nodeID="),
                _xml_attr_col(o_lex), F.lit("/>"),
            ),
        )
        .when(
            ot.getField("lang").isNotNull(),
            F.concat(
                F.lit("    <"), tag, F.lit(" xml:lang="),
                _xml_attr_col(ot.getField("lang")), F.lit(">"),
                _xml_text_col(o_lex), F.lit("</"), tag, F.lit(">"),
            ),
        )
        .when(
            ot.getField("dt").isNotNull() & (ot.getField("dt") != T.XSD_STRING),
            F.concat(
                F.lit("    <"), tag, F.lit(" rdf:datatype="),
                _xml_attr_col(ot.getField("dt")), F.lit(">"),
                _xml_text_col(o_lex), F.lit("</"), tag, F.lit(">"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("    <"), tag, F.lit(">"),
                _xml_text_col(o_lex), F.lit("</"), tag, F.lit(">"),
            )
        )
    )
    st = F.col("st")
    about = F.when(
        st.getField("kind") == T.KIND_IRI,
        F.concat(F.lit(" rdf:about="), _xml_attr_col(st.getField("lex"))),
    ).otherwise(
        F.concat(F.lit(" rdf:nodeID="), _xml_attr_col(st.getField("lex")))
    )
    blocks = (
        triples.select(
            st.getField("kind").alias("s_kind"),
            st.getField("lex").alias("s_lex"),
            about.alias("about"),
            F.struct(
                p_lex.alias("pk"), o_lex.alias("ok"), line.alias("line")
            ).alias("pl"),
        )
        .groupBy("s_kind", "s_lex", "about")
        .agg(F.array_sort(F.collect_list("pl")).alias("pls"))
        .select(
            F.col("s_kind"),
            F.col("s_lex"),
            F.concat(
                F.lit("  <rdf:Description"),
                F.col("about"),
                F.lit(">\n"),
                F.array_join(
                    F.transform("pls", lambda x: x["line"]), "\n"
                ),
                F.lit("\n  </rdf:Description>"),
            ).alias("value"),
        )
    )
    return ns_table, blocks


def iter_rdfxml(triples: DataFrame):
    """Stream an RDF/XML document as string chunks: header, one chunk
    per subject block (via ``toLocalIterator`` — bounded driver
    memory), footer.  Deterministic: blocks ordered by subject."""
    ns_table, blocks = rdfxml_blocks(triples)
    yield rdfxml_header(ns_table)
    for r in blocks.orderBy("s_kind", "s_lex").select("value").toLocalIterator():
        yield "\n" + r["value"]
    yield "\n" + RDFXML_FOOTER


def rdfxml_string(triples: DataFrame) -> str:
    """(st, pt, ot) → RDF/XML document string, one rdf:Description per
    subject; property IRIs get xmlns-abbreviated (required by the
    grammar), bnodes use rdf:nodeID.  Assembled distributed and
    streamed — the driver never holds more than the output string
    plus one block batch."""
    return "".join(iter_rdfxml(triples))


def write_rdfxml(
    triples: DataFrame, path: str, partitions: int | None = None
) -> None:
    """Distributed RDF/XML dump: every output partition file carries
    the xmlns header and footer (each part is a standalone RDF/XML
    document, like ``write_turtle``'s parts).  Block assembly stays in
    column expressions; mapInPandas only brackets each partition.
    ``partitions`` sizes the output file count (AQE otherwise picks
    it from data volume)."""
    import pandas as pd

    ns_table, blocks = rdfxml_blocks(triples)
    if partitions:
        blocks = blocks.repartition(partitions)
    header, footer = rdfxml_header(ns_table), RDFXML_FOOTER.rstrip("\n")

    def bracket(batches):
        yield pd.DataFrame({"value": [header]})
        yield from batches
        yield pd.DataFrame({"value": [footer]})

    blocks.select("value").mapInPandas(bracket, "value string").write.mode(
        "overwrite"
    ).text(path)


# ------------------------------------------------------ JSON-LD writer
#
# Expanded-form JSON-LD (@id / @type keyed node objects in a top-level
# @graph array) — the shape our own reader and any conformant
# processor accepts.  Spark design: each node object is rendered as a
# JSON STRING by column expressions (``to_json`` drops null struct
# fields, giving exactly the {"@id"} / {"@value","@language"} /
# {"@value","@type"} object shapes), so serialization scales like a
# groupBy and the driver only streams finished node strings.


def _json_quote(c: Column) -> Column:
    """JSON string literal of a column (quoted + escaped): to_json of
    a 1-element array, brackets stripped — exact, no hand escaping."""
    arr = F.to_json(F.array(c))
    return arr.substr(F.lit(2), F.length(arr) - 2)


def jsonld_nodes(triples: DataFrame) -> DataFrame:
    """(st, pt, ot) → one-column DataFrame ``value``: one expanded
    JSON-LD node object string per subject (``@id`` first, then
    ``@type`` and predicate entries in sorted order; each entry's
    value array sorted for determinism)."""
    st, pt, ot = F.col("st"), F.col("pt"), F.col("ot")
    sid = F.when(
        st.getField("kind") == T.KIND_IRI, st.getField("lex")
    ).otherwise(F.concat(F.lit("_:"), st.getField("lex")))
    is_type = (pt.getField("lex") == T.RDF + "type") & (
        ot.getField("kind") == T.KIND_IRI
    )
    key = F.when(is_type, F.lit("@type")).otherwise(pt.getField("lex"))
    o_lex = ot.getField("lex")
    is_lit = ot.getField("kind") == T.KIND_LITERAL
    val_obj = F.to_json(
        F.struct(
            F.when(
                ot.getField("kind") == T.KIND_IRI, o_lex
            ).when(
                ot.getField("kind") == T.KIND_BNODE,
                F.concat(F.lit("_:"), o_lex),
            ).alias("@id"),
            F.when(is_lit, o_lex).alias("@value"),
            ot.getField("lang").alias("@language"),
            F.when(
                is_lit
                & ot.getField("lang").isNull()
                & ot.getField("dt").isNotNull()
                & (ot.getField("dt") != T.XSD_STRING),
                ot.getField("dt"),
            ).alias("@type"),
        )
    )
    elem = F.when(is_type, _json_quote(o_lex)).otherwise(val_obj)
    entries = (
        triples.select(sid.alias("sid"), key.alias("k"), elem.alias("e"))
        .groupBy("sid", "k")
        .agg(
            F.concat(
                _json_quote(F.col("k")),
                F.lit(":["),
                F.array_join(F.array_sort(F.collect_list("e")), ","),
                F.lit("]"),
            ).alias("entry")
        )
    )
    return (
        entries.groupBy("sid")
        .agg(F.array_sort(F.collect_list("entry")).alias("es"))
        .select(
            F.col("sid"),
            F.concat(
                F.lit('{"@id":'),
                _json_quote(F.col("sid")),
                F.lit(","),
                F.array_join("es", ","),
                F.lit("}"),
            ).alias("value"),
        )
    )


def iter_jsonld(triples: DataFrame):
    """Stream a JSON-LD document as string chunks (bounded driver
    memory via ``toLocalIterator``); nodes ordered by @id."""
    yield '{"@graph":['
    first = True
    for r in jsonld_nodes(triples).orderBy("sid").select("value").toLocalIterator():
        yield r["value"] if first else "," + r["value"]
        first = False
    yield "]}"


def jsonld_string(triples: DataFrame) -> str:
    """(st, pt, ot) → expanded-form JSON-LD string; node objects are
    assembled distributed and streamed to the driver."""
    return "".join(iter_jsonld(triples))


def write_jsonld(
    triples: DataFrame, path: str, partitions: int | None = None
) -> None:
    """Distributed JSON-LD dump: each output partition file is a
    standalone ``{"@graph": [...]}`` document (mapInPandas brackets
    the partition and inserts the element commas; node rendering is
    column expressions).  ``partitions`` sizes the output file
    count."""
    import pandas as pd

    nodes = jsonld_nodes(triples).select("value")
    if partitions:
        nodes = nodes.repartition(partitions)

    def bracket(batches):
        yield pd.DataFrame({"value": ['{"@graph":[']})
        first = True
        for b in batches:
            if not len(b):
                continue
            vals = ("," + b["value"]).tolist()
            if first:
                vals[0] = vals[0][1:]
                first = False
            yield pd.DataFrame({"value": vals})
        yield pd.DataFrame({"value": ["]}"]})

    nodes.mapInPandas(bracket, "value string").write.mode("overwrite").text(
        path
    )
