"""Truth maintenance on retraction + entailment UPDATE verbs.

Reference: ``TruthMaintenance.java`` (retraction invalidates inferred
statements that lose support) and ``AST2BOpUpdate.java:400-458``
(CreateEntailments / DropEntailments / Enable / Disable verbs).
Strategy here: recompute-over-explicit — sound without justification
chains; the closure fixpoint only touches rule-relevant predicates.
"""

from database_spark.sparql.engine import SparqlEngine
from database_spark.store import TripleStore
from database_spark.terms import RDF, RDFS, Term

EX = "http://ex.com/"


def _schema_store(spark):
    return TripleStore.from_python_triples(
        spark,
        [
            (Term.iri(EX + "Dog"), Term.iri(RDFS + "subClassOf"), Term.iri(EX + "Animal"), None),
            (Term.iri(EX + "rex"), Term.iri(RDF + "type"), Term.iri(EX + "Dog"), None),
            (Term.iri(EX + "cat"), Term.iri(RDF + "type"), Term.iri(EX + "Cat"), None),
        ],
    )


def _is_animal(eng, who: str) -> bool:
    return eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:{who} a ex:Animal }}")


def test_retraction_invalidates_entailments(spark):
    """Deleting the subClassOf support retracts the inferred type."""
    eng = SparqlEngine(_schema_store(spark), maintain_entailments=True)
    eng.update(f"PREFIX ex: <{EX}> CREATE ENTAILMENTS")
    assert _is_animal(eng, "rex") is True  # rdfs9 entailment

    eng.update(
        f"PREFIX ex: <{EX}> PREFIX rdfs: <{RDFS}> "
        "DELETE DATA { ex:Dog rdfs:subClassOf ex:Animal }"
    )
    # the inferred (rex a Animal) lost its only support
    assert _is_animal(eng, "rex") is False
    # the explicit statement survives
    assert eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:rex a ex:Dog }}") is True


def test_retraction_keeps_supported_entailments(spark):
    """Deleting unrelated data does not disturb other entailments."""
    eng = SparqlEngine(_schema_store(spark), maintain_entailments=True)
    eng.update(f"PREFIX ex: <{EX}> CREATE ENTAILMENTS")
    eng.update(f"PREFIX ex: <{EX}> DELETE DATA {{ ex:cat a ex:Cat }}")
    assert _is_animal(eng, "rex") is True


def test_insert_maintains_closure(spark):
    """With maintenance enabled, inserts entail immediately."""
    eng = SparqlEngine(_schema_store(spark), maintain_entailments=True)
    eng.update(f"PREFIX ex: <{EX}> INSERT DATA {{ ex:fido a ex:Dog }}")
    assert _is_animal(eng, "fido") is True


def test_drop_and_disable_entailments(spark):
    eng = SparqlEngine(_schema_store(spark))
    eng.update("CREATE ENTAILMENTS")
    assert _is_animal(eng, "rex") is True

    eng.update("DROP ENTAILMENTS")
    assert _is_animal(eng, "rex") is False

    eng.update("ENABLE ENTAILMENTS")
    assert _is_animal(eng, "rex") is True

    eng.update("DISABLE ENTAILMENTS")
    eng.update(f"PREFIX ex: <{EX}> INSERT DATA {{ ex:fido a ex:Dog }}")
    # maintenance off: no new entailment is derived for fido
    assert _is_animal(eng, "fido") is False


def test_retraction_uses_justifications_not_recompute(spark, monkeypatch):
    """Justification-based retraction (Justification.java analog): a
    DELETE DATA must run the DRed cone walk, never a full closure
    recompute — cost scales with the affected cone."""
    from database_spark.inference import rdfs as R

    OWL_ = "http://www.w3.org/2002/07/owl#"
    trips = []
    # a 30-deep subclass chain: closure holds ~465 inferred subC pairs
    for i in range(30):
        trips.append(
            (Term.iri(EX + f"C{i}"), Term.iri(RDFS + "subClassOf"), Term.iri(EX + f"C{i+1}"), None)
        )
    trips.append((Term.iri(EX + "x"), Term.iri(RDF + "type"), Term.iri(EX + "C0"), None))
    trips.append((Term.iri(EX + "y"), Term.iri(RDF + "type"), Term.iri(EX + "C5"), None))
    eng = SparqlEngine(
        TripleStore.from_python_triples(spark, trips), maintain_entailments=True
    )
    eng.update("CREATE ENTAILMENTS")
    assert eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:x a ex:C30 }}")

    def no_recompute(*a, **k):
        raise AssertionError("full closure recompute ran during retraction")

    monkeypatch.setattr(R, "rdfs_closure", no_recompute)
    eng.update(
        f"PREFIX ex: <{EX}> PREFIX rdf: <{RDF}> "
        "DELETE DATA { ex:x rdf:type ex:C0 }"
    )
    # x's whole inferred type cone is gone...
    assert not eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:x a ex:C30 }}")
    assert not eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:x a ex:C1 }}")
    # ...y's cone and the class hierarchy are untouched
    assert eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:y a ex:C30 }}")
    assert eng.ask(
        f"PREFIX ex: <{EX}> PREFIX rdfs: <{RDFS}> "
        "ASK { ex:C0 rdfs:subClassOf ex:C30 }"
    )


def test_retraction_rederives_alternative_support(spark, monkeypatch):
    """DRed rederive phase: a statement with a second, surviving proof
    must NOT be retracted (diamond: A⊑B⊑D and A⊑C⊑D)."""
    from database_spark.inference import rdfs as R

    sub = Term.iri(RDFS + "subClassOf")
    trips = [
        (Term.iri(EX + "A"), sub, Term.iri(EX + "B"), None),
        (Term.iri(EX + "A"), sub, Term.iri(EX + "C"), None),
        (Term.iri(EX + "B"), sub, Term.iri(EX + "D"), None),
        (Term.iri(EX + "C"), sub, Term.iri(EX + "D"), None),
        (Term.iri(EX + "x"), Term.iri(RDF + "type"), Term.iri(EX + "A"), None),
    ]
    eng = SparqlEngine(
        TripleStore.from_python_triples(spark, trips), maintain_entailments=True
    )
    eng.update("CREATE ENTAILMENTS")
    assert eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:x a ex:D }}")

    monkeypatch.setattr(
        R, "rdfs_closure",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("recompute ran")),
    )
    eng.update(
        f"PREFIX ex: <{EX}> PREFIX rdfs: <{RDFS}> "
        "DELETE DATA { ex:A rdfs:subClassOf ex:B }"
    )
    # x a D survives through A⊑C⊑D; x a B is gone
    assert eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:x a ex:D }}")
    assert not eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:x a ex:B }}")


def test_retraction_resurrects_derivable_deleted_statement(spark):
    """Deleting an explicit statement that is still entailed keeps it
    as an INFERRED statement (StatementEnum demotion on retract)."""
    sub = Term.iri(RDFS + "subClassOf")
    trips = [
        (Term.iri(EX + "Dog"), sub, Term.iri(EX + "Animal"), None),
        (Term.iri(EX + "rex"), Term.iri(RDF + "type"), Term.iri(EX + "Dog"), None),
        # explicit statement that is ALSO derivable via rdfs9
        (Term.iri(EX + "rex"), Term.iri(RDF + "type"), Term.iri(EX + "Animal"), None),
    ]
    eng = SparqlEngine(
        TripleStore.from_python_triples(spark, trips), maintain_entailments=True
    )
    eng.update("CREATE ENTAILMENTS")
    eng.update(
        f"PREFIX ex: <{EX}> PREFIX rdf: <{RDF}> "
        "DELETE DATA { ex:rex rdf:type ex:Animal }"
    )
    assert _is_animal(eng, "rex") is True  # still inferred from Dog


def test_retraction_never_removes_explicit_statements(spark, monkeypatch):
    """The overdelete walk must not propagate through or remove an
    EXPLICIT statement, even when its derivations die with the delete."""
    from database_spark.inference import rdfs as R

    sub = Term.iri(RDFS + "subClassOf")
    trips = [
        (Term.iri(EX + "Dog"), sub, Term.iri(EX + "Animal"), None),
        (Term.iri(EX + "Animal"), sub, Term.iri(EX + "LifeForm"), None),
        (Term.iri(EX + "rex"), Term.iri(RDF + "type"), Term.iri(EX + "Dog"), None),
        # ALSO explicitly asserted (independently of the Dog support)
        (Term.iri(EX + "rex"), Term.iri(RDF + "type"), Term.iri(EX + "Animal"), None),
    ]
    eng = SparqlEngine(
        TripleStore.from_python_triples(spark, trips), maintain_entailments=True
    )
    eng.update("CREATE ENTAILMENTS")
    monkeypatch.setattr(
        R, "rdfs_closure",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("recompute ran")),
    )
    eng.update(
        f"PREFIX ex: <{EX}> PREFIX rdf: <{RDF}> "
        "DELETE DATA { ex:rex rdf:type ex:Dog }"
    )
    # the explicit assertion survives, and keeps entailing LifeForm
    assert _is_animal(eng, "rex") is True
    assert eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:rex a ex:LifeForm }}")
    assert not eng.ask(f"PREFIX ex: <{EX}> ASK {{ ex:rex a ex:Dog }}")


def test_entailment_verbs_invalidate_describe_cache(spark):
    """CREATE/DROP/ENABLE ENTAILMENTS replace the store, so a repeated
    DESCRIBE must not serve the description cached before them."""
    trips = [
        (Term.iri(EX + "a"), Term.iri(RDF + "type"), Term.iri(EX + "C"), None),
        (Term.iri(EX + "C"), Term.iri(RDFS + "subClassOf"), Term.iri(EX + "D"), None),
    ]
    q = f"DESCRIBE <{EX}a>"

    def fresh(eng):
        return SparqlEngine(eng.store).describe(q).count()

    eng = SparqlEngine(TripleStore.from_python_triples(spark, trips))
    assert eng.describe(q).count() == 1
    for verb in ("CREATE", "DROP", "ENABLE"):
        eng.update(f"{verb} ENTAILMENTS")
        assert eng.describe(q).count() == fresh(eng), verb
    assert fresh(eng) == 2  # ex:a a ex:C, ex:D once entailments are on
