"""RDF term encoding for the Spark engine.

Reference design: every RDF term is an ``IV`` — a sortable packed key
with a flags byte (VTE kind + DTE datatype), small values inlined into
the statement indices, everything else dictionary-encoded
(``bigdata-rdf/.../internal/IV.java:53``, ``VTE.java:42-54``,
``DTE.java:90-241``, ``LexiconRelation.java:147``).

Spark-native equivalent used here:

* each term is a **struct column** ``TERM = STRUCT<kind:byte, lex:string,
  dt:string, lang:string>`` carried *inline* in the triples table (the
  analog of IV inlining — no dictionary join is ever needed to evaluate
  a FILTER/BIND/ORDER, which replaces the reference's
  ``ChunkedMaterializationOp``);
* each term additionally gets a 64-bit **identity id** =
  ``xxhash64(kind, lex, dt, lang)`` used as the join key (joins on longs
  shuffle ~5x fewer bytes than joins on IRI strings at 100 TB scale).
  Upgrade path for >10^9 distinct terms: switch ``term_id`` to a 128-bit
  ``md5`` binary column; all call sites go through :func:`term_id`.

Term normalization (RDF 1.1): a simple literal is the same term as one
typed ``xsd:string``; language-tagged literals have datatype
``rdf:langString`` and a lowercase tag.
"""

from __future__ import annotations

import functools
import struct
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    StringType,
    StructField,
    StructType,
)

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"

# Pre-declared namespaces, matching the reference's PrefixDeclProcessor
# defaults (its test corpus uses these in queries AND data files without
# declaring them).  Shared by the SPARQL parser and the RIO readers.
WELL_KNOWN_PREFIXES = {
    "rdf": RDF,
    "rdfs": RDFS,
    "xsd": XSD,
    "owl": OWL,
    "fn": "http://www.w3.org/2005/xpath-functions#",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "dc": "http://purl.org/dc/elements/1.1/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "sesame": "http://www.openrdf.org/schema/sesame#",
    "bds": "http://www.bigdata.com/rdf/search#",
    "gas": "http://www.bigdata.com/rdf/gas#",
    "geo": "http://www.bigdata.com/rdf/geospatial#",
    "bd": "http://www.bigdata.com/rdf#",
    "hint": "http://www.bigdata.com/queryHints#",
}

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_LONG = XSD + "long"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_FLOAT = XSD + "float"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATETIME = XSD + "dateTime"
XSD_DATE = XSD + "date"
RDF_LANGSTRING = RDF + "langString"

# every XSD numeric datatype, mapped to its promotion family
NUMERIC_DATATYPES = {
    XSD_INTEGER: "integer",
    XSD_DECIMAL: "decimal",
    XSD_DOUBLE: "double",
    XSD_FLOAT: "double",
    XSD + "int": "integer",
    XSD + "long": "integer",
    XSD + "short": "integer",
    XSD + "byte": "integer",
    XSD + "nonNegativeInteger": "integer",
    XSD + "nonPositiveInteger": "integer",
    XSD + "negativeInteger": "integer",
    XSD + "positiveInteger": "integer",
    XSD + "unsignedInt": "integer",
    XSD + "unsignedLong": "integer",
    XSD + "unsignedShort": "integer",
    XSD + "unsignedByte": "integer",
}

KIND_IRI = 0
KIND_BNODE = 1
KIND_LITERAL = 2

TERM_TYPE = StructType(
    [
        StructField("kind", ByteType(), False),
        StructField("lex", StringType(), False),
        StructField("dt", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def _normalize_datetime_lex(lex: str) -> str:
    """Normalize an xsd:dateTime with an explicit timezone to the
    reference's canonical form: UTC, millisecond precision, ``Z``
    suffix (``2008-07-28T08:53:25-04:00`` → ``2008-07-28T12:53:25.000Z``).
    The reference inlines dateTimes as epoch-millis IVs and always
    rematerializes this form (XSDDateTimeIV / DateTimeExtension).
    Timezone-less dateTimes keep their lexical form (no implied zone)."""
    import re as _re
    from datetime import datetime, timezone

    m = _re.match(
        r"^(\d{4,}-\d\d-\d\dT\d\d:\d\d:\d\d)(\.\d+)?(Z|[+-]\d\d:\d\d)$", lex
    )
    if not m:
        return lex
    try:
        base, frac, tz = m.groups()
        dt = datetime.fromisoformat(base + (frac or "") + ("+00:00" if tz == "Z" else tz))
        dt = dt.astimezone(timezone.utc)
        millis = dt.microsecond // 1000
        return dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{millis:03d}Z"
    except ValueError:
        return lex


@dataclass(frozen=True)
class Term:
    """Driver-side (Python) RDF term — parser constants, VALUES rows."""

    kind: int
    lex: str
    dt: str | None = None
    lang: str | None = None

    @staticmethod
    def iri(value: str) -> "Term":
        return Term(KIND_IRI, value)

    @staticmethod
    def bnode(label: str) -> "Term":
        return Term(KIND_BNODE, label)

    @staticmethod
    def literal(lex: str, dt: str | None = None, lang: str | None = None) -> "Term":
        if lang:
            return Term(KIND_LITERAL, lex, RDF_LANGSTRING, lang.lower())
        if dt == XSD_DATETIME:
            lex = _normalize_datetime_lex(lex)
        return Term(KIND_LITERAL, lex, dt or XSD_STRING, None)

    @staticmethod
    def integer(value: int) -> "Term":
        return Term(KIND_LITERAL, str(int(value)), XSD_INTEGER)

    @staticmethod
    def double(value: float) -> "Term":
        return Term(KIND_LITERAL, repr(float(value)), XSD_DOUBLE)

    @staticmethod
    def decimal(lex: str) -> "Term":
        return Term(KIND_LITERAL, lex, XSD_DECIMAL)

    @staticmethod
    def boolean(value: bool) -> "Term":
        return Term(KIND_LITERAL, "true" if value else "false", XSD_BOOLEAN)

    def n3(self) -> str:
        if self.kind == KIND_IRI:
            return f"<{self.lex}>"
        if self.kind == KIND_BNODE:
            return f"_:{self.lex}"
        esc = self.lex.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
        if self.dt == RDF_LANGSTRING:
            return f'"{esc}"@{self.lang}'
        if self.dt and self.dt != XSD_STRING:
            return f'"{esc}"^^<{self.dt}>'
        return f'"{esc}"'

    def as_row(self) -> tuple:
        return (self.kind, self.lex, self.dt, self.lang)


def statement_sid(s: "Term", p: "Term", o: "Term") -> "Term":
    """Deterministic statement identifier for RDF*/SIDs (SURVEY §1.4:
    sid = hash(s,p,o); reference VTE.STATEMENT, RDF/rdf/spo/SPO.java).
    Column-side twin: ``sid_col``."""
    import hashlib

    h = hashlib.sha1(f"{s.n3()} {p.n3()} {o.n3()}".encode()).hexdigest()[:16]
    return Term(KIND_BNODE, f"sid-{h}")


def term_struct(kind: Column, lex: Column, dt: Column, lang: Column) -> Column:
    """Assemble a TERM struct column from parts."""
    return F.struct(
        kind.cast("tinyint").alias("kind"),
        lex.cast("string").alias("lex"),
        dt.cast("string").alias("dt"),
        lang.cast("string").alias("lang"),
    )


def iri_col(lex: Column) -> Column:
    return term_struct(F.lit(KIND_IRI), lex, F.lit(None), F.lit(None))


def literal_col(lex: Column, dt: str = XSD_STRING) -> Column:
    """Typed literal from a lexical column (null lex → null term)."""
    t = term_struct(F.lit(KIND_LITERAL), lex, F.lit(dt), F.lit(None))
    return F.when(lex.isNotNull(), t)


#: Column expressions are immutable, so the struct/hash columns of
#: constant terms are memoized by value — every py4j Column build is a
#: gateway round-trip (~0.2 ms each, ~10 per literal struct), and the
#: same schema IRIs recur in every query of a session.
_LIT_TERM_CACHE: dict = {}
_LIT_ID_CACHE: dict = {}
# id(column) → term key for cache-owned columns.  The cache holds a
# strong reference forever, so those ids are never reused; a plain
# attribute won't do because Column.__getattr__ turns any attribute
# access into a field-accessor Column.
_LITKEY_BY_COLID: dict = {}


def lit_term(t: Term) -> Column:
    key = (t.kind, t.lex, t.dt, t.lang)
    c = _LIT_TERM_CACHE.get(key)
    if c is None:
        c = term_struct(F.lit(t.kind), F.lit(t.lex), F.lit(t.dt), F.lit(t.lang))
        _LIT_TERM_CACHE[key] = c
        _LITKEY_BY_COLID[id(c)] = key
    return c


def term_id(term: Column) -> Column:
    """64-bit identity key of a term struct (join key).

    xxhash64 chains field hashes (each value hashed with the running
    hash as seed), so field boundaries can't alias; nulls are skipped by
    xxhash64, hence the coalesce — `dt`/`lang` are only null for
    IRIs/bnodes whose `kind` differs from any literal's.
    """
    key = _LITKEY_BY_COLID.get(id(term))
    if key is not None:
        hit = _LIT_ID_CACHE.get(key)
        if hit is None:
            hit = _LIT_ID_CACHE[key] = _term_id_raw(term)
        return hit
    return _term_id_raw(term)


def _term_id_raw(term: Column) -> Column:
    return F.xxhash64(
        term.getField("kind"),
        term.getField("lex"),
        F.coalesce(term.getField("dt"), F.lit("")),
        F.coalesce(term.getField("lang"), F.lit("")),
    )


# Python twin of ``term_id``: Spark's ``xxhash64`` is XXH64 with
# seed 42, chained field by field (each field hashed with the running
# hash as its seed); a byte field hashes as its 4-byte little-endian
# int, a string as its UTF-8 bytes.
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF
_XXHASH64_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit seed and result)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1 = _xxh_round(v1, a)
            v2 = _xxh_round(v2, b)
            v3 = _xxh_round(v3, c)
            v4 = _xxh_round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh_round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _xxh_round(0, k), 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((k * _P1) & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    return h ^ (h >> 32)


@functools.lru_cache(maxsize=4096)
def term_id_of(t: Term) -> int:
    """The 64-bit id ``term_id`` computes for the constant ``t``,
    worked out in Python (no Spark expression, no JVM call) — the
    key the layout probe filters saved statements on."""
    h = _xxh64(struct.pack("<i", t.kind), _XXHASH64_SEED)
    for s in (t.lex, t.dt or "", t.lang or ""):
        h = _xxh64(s.encode("utf-8"), h)
    return h - (1 << 64) if h >> 63 else h


def n3_col(term: Column) -> Column:
    """Column-side N3 rendering, byte-identical to ``Term.n3()`` (the
    SID hash below must agree between reader and query engine)."""
    esc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(term.getField("lex"), r"\\", r"\\\\"), '"', r'\\"'
        ),
        "\n",
        r"\\n",
    )
    quoted = F.concat(F.lit('"'), esc, F.lit('"'))
    return (
        F.when(term.getField("kind") == KIND_IRI,
               F.concat(F.lit("<"), term.getField("lex"), F.lit(">")))
        .when(term.getField("kind") == KIND_BNODE,
              F.concat(F.lit("_:"), term.getField("lex")))
        .when(term.getField("dt") == RDF_LANGSTRING,
              F.concat(quoted, F.lit("@"), term.getField("lang")))
        .when(term.getField("dt").isNotNull() & (term.getField("dt") != XSD_STRING),
              F.concat(quoted, F.lit("^^<"), term.getField("dt"), F.lit(">")))
        .otherwise(quoted)
    )


def sid_col(st: Column, pt: Column, ot: Column) -> Column:
    """Statement-identifier term for RDF*/SIDs: a deterministic bnode
    over sha1 of the statement's N3 (matches rio.reader.statement_sid;
    reference: VTE.STATEMENT / SPO.java statement identifiers)."""
    h = F.sha1(
        F.concat(n3_col(st), F.lit(" "), n3_col(pt), F.lit(" "), n3_col(ot))
    ).substr(1, 16)
    return term_struct(
        F.lit(KIND_BNODE), F.concat(F.lit("sid-"), h), F.lit(None), F.lit(None)
    )


def terms_df(spark, rows, names, nullable: bool = True):
    """Rows of (Term|None, ...) per ``names`` → DataFrame of TERM
    structs, routed through pandas + Arrow so the plan is a pure-JVM
    local relation (a list-based createDataFrame would re-enter the
    Python-RDD path and pay a Python-worker round-trip on every later
    action over the plan)."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField(n, TERM_TYPE, nullable) for n in names])

    def d(t):
        return (
            None
            if t is None
            else {"kind": t.kind, "lex": t.lex, "dt": t.dt, "lang": t.lang}
        )

    data = [tuple(d(t) for t in row) for row in rows]
    if not data:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pd.DataFrame(data, columns=names), schema)


def register_datatype(uri: str, family: str = "integer") -> None:
    """General custom-datatype registration — the public surface of the
    reference's ``IExtension`` mechanism (``IExtension.java``; concrete
    examples ``EpochExtension`` — xsd:dateTime-like customs inlined as
    epoch longs — and ``DerivedNumericsExtension``).

    Declaring ``family`` ("integer" | "decimal" | "double") makes
    literals of ``uri`` first-class members of the numeric value space:
    FILTER range comparison, ORDER BY placement (numeric class of the
    SPARQL total order), arithmetic promotion and numeric aggregates
    all evaluate the lexical form as a number — the Spark-side analog
    of the reference inlining the custom literal as a native IV.
    Registration is process-wide and applies to queries compiled after
    the call.
    """
    if family not in ("integer", "decimal", "double"):
        raise ValueError(f"unsupported value family {family!r}")
    NUMERIC_DATATYPES[uri] = family


def unregister_datatype(uri: str) -> None:
    if uri.startswith(XSD):
        raise ValueError("cannot unregister built-in XSD datatypes")
    NUMERIC_DATATYPES.pop(uri, None)


def is_numeric_dt(dt: Column) -> Column:
    return dt.isin(*NUMERIC_DATATYPES.keys())


def _term_sql(term: Column) -> str | None:
    """SQL text of a term Column, or None when it has no clean SQL
    form.  Building the big typed-value CASE trees as ONE ``F.expr``
    parse instead of dozens of Column-API calls removes the py4j
    round-trips that measured as ~70% of SPARQL compile wall (r12
    profile: 4150 gateway round-trips per compile_select)."""
    try:
        s = term._jc.expr().sql()
    except Exception:  # noqa: BLE001 — py4j surface
        return None
    # lambda-bound fragments don't round-trip through the parser —
    # those callers keep the Column-API path
    return s if s and "lambda" not in s else None


def _num_dt_in(dt_sql: str) -> str:
    uris = ", ".join(f"'{u}'" for u in NUMERIC_DATATYPES)
    return f"{dt_sql} IN ({uris})"


def numeric_value(term: Column) -> Column:
    """Typed numeric view of a literal term (null when non-numeric).

    The analog of the reference evaluating range filters directly on
    inlined IVs (`RangeBOp.java`): no dictionary join, just a cast.
    """
    t = _term_sql(term)
    if t is not None:
        try:
            return F.expr(
                f"CASE WHEN ({t}).kind = {KIND_LITERAL}"
                f" AND {_num_dt_in(f'({t}).dt')}"
                f" THEN try_cast(({t}).lex AS DOUBLE) END"
            )
        except Exception:  # noqa: BLE001 — unparseable: Column path below
            pass
    lex = term.getField("lex")
    return F.when(
        (term.getField("kind") == KIND_LITERAL) & is_numeric_dt(term.getField("dt")),
        (lex).try_cast("double"),
    )


def datetime_value(term: Column) -> Column:
    t = _term_sql(term)
    if t is not None:
        try:
            return F.expr(
                f"CASE WHEN ({t}).kind = {KIND_LITERAL}"
                f" AND ({t}).dt IN ('{XSD_DATETIME}', '{XSD_DATE}')"
                f" THEN try_cast(replace(({t}).lex, 'T', ' ') AS TIMESTAMP) END"
            )
        except Exception:  # noqa: BLE001
            pass
    return F.when(
        (term.getField("kind") == KIND_LITERAL)
        & term.getField("dt").isin(XSD_DATETIME, XSD_DATE),
        F.replace(term.getField("lex"), F.lit("T"), F.lit(" ")).try_cast("timestamp"),
    )


def boolean_value(term: Column) -> Column:
    t = _term_sql(term)
    if t is not None:
        try:
            return F.expr(
                f"CASE WHEN ({t}).kind = {KIND_LITERAL}"
                f" AND ({t}).dt = '{XSD_BOOLEAN}'"
                f" THEN try_cast(({t}).lex AS BOOLEAN) END"
            )
        except Exception:  # noqa: BLE001
            pass
    return F.when(
        (term.getField("kind") == KIND_LITERAL)
        & (term.getField("dt") == XSD_BOOLEAN),
        (term.getField("lex")).try_cast("boolean"),
    )


#: number of columns sort_key returns (class rank, numeric, datetime,
#: datatype IRI, language, lexical) — pinned by a test so callers can
#: build the keys positionally through a let-binding
SORT_KEY_WIDTH = 6


def sort_key(term: Column) -> list[Column]:
    """SPARQL total-order sort key (reference: ``IVComparator.java:68``,
    itself Sesame's ValueComparator over IVs).

    Order classes: unbound < blank nodes < IRIs < literals.  Within
    literals the reference's fallback ordering (ValueComparator
    ``compareLiterals``/``compareDatatypes``) is: plain literals (simple
    + language-tagged — null datatype in the Sesame model; our RDF 1.1
    encoding folds simple into xsd:string, which we keep in this class
    so that TCK expectations over simple literals hold) < numeric
    datatypes (by VALUE, cross-type) < calendar datatypes (by value) <
    other datatypes ordered by datatype IRI.  Within the plain class:
    no-language first, then language tag, then label (the 'sort by
    language tags before labels' rule).  Booleans carry no special
    class — their lexical forms ("false" < "true") agree with value
    order.  Returns the column list to feed ``orderBy`` — ascending
    with nulls first reproduces the 'unbound first' rule.
    """
    t = _term_sql(term)
    if t is not None:
        try:
            ts = f"({t})"
            plain_s = (
                f"({ts}.dt IS NULL OR {ts}.dt = '{XSD_STRING}'"
                f" OR {ts}.dt = '{RDF_LANGSTRING}')"
            )
            rank_s = (
                f"CASE WHEN {ts} IS NULL THEN 0"
                f" WHEN {ts}.kind = {KIND_BNODE} THEN 1"
                f" WHEN {ts}.kind = {KIND_IRI} THEN 2"
                f" WHEN {plain_s} THEN 3"
                f" WHEN {_num_dt_in(f'{ts}.dt')} THEN 4"
                f" WHEN {ts}.dt IN ('{XSD_DATETIME}', '{XSD_DATE}') THEN 5"
                f" ELSE 6 END"
            )
            return [
                F.expr(rank_s),
                numeric_value(term),
                datetime_value(term),
                # datatype IRI orders the 'other' class; inside the
                # plain class language-then-label decides (dt masked)
                F.expr(f"CASE WHEN NOT {plain_s} THEN {ts}.dt END"),
                F.expr(f"{ts}.lang"),
                F.expr(f"{ts}.lex"),
            ]
        except Exception:  # noqa: BLE001 — unparseable: Column path below
            pass
    kind = term.getField("kind")
    dt = term.getField("dt")
    plain = dt.isNull() | (dt == XSD_STRING) | (dt == RDF_LANGSTRING)
    rank = (
        F.when(term.isNull(), F.lit(0))
        .when(kind == KIND_BNODE, F.lit(1))
        .when(kind == KIND_IRI, F.lit(2))
        .when(plain, F.lit(3))
        .when(is_numeric_dt(dt), F.lit(4))
        .when(dt.isin(XSD_DATETIME, XSD_DATE), F.lit(5))
        .otherwise(F.lit(6))
    )
    return [
        rank,
        numeric_value(term),
        datetime_value(term),
        # datatype IRI orders the 'other' class; inside the plain class
        # language-then-label decides instead (dt masked out)
        F.when(~plain, dt),
        term.getField("lang"),
        term.getField("lex"),
    ]
