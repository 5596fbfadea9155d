"""ASK / CONSTRUCT / DESCRIBE query forms.

The reference engine is SELECT-only (hybrid/src/splitter.rs:32-60 errors on
other forms); these standard SPARQL 1.1 forms are additive surface. Results:
ASK -> 1-row boolean frame (+ Engine.ask), CONSTRUCT/DESCRIBE -> triples
frames in the GraphStore schema.
"""

from otit_swt_spark.terms import XSD_STRING

PFX = """
PREFIX types:<http://example.org/types#>
PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
"""

CASE = "http://example.org/case#"
TYPES = "http://example.org/types#"


def test_ask_true(engine):
    df = engine.query(PFX + "ASK { ?w a types:BigWidget }")
    assert df.columns == ["ask"]
    assert df.first()["ask"] is True
    assert engine.ask(PFX + "ASK { ?w a types:BigWidget }") is True


def test_ask_false(engine):
    assert engine.ask(PFX + "ASK { ?w a types:NoSuchType }") is False


def test_construct_rewrites_predicates(engine):
    df = engine.query(PFX + """
    CONSTRUCT { ?s <http://example.org/sensorOf> ?w }
    WHERE { ?w types:hasSensor ?s }""")
    rows = sorted((r["s"], r["p"], r["o_iri"]) for r in df.collect())
    assert rows == [
        (CASE + "mySensor1", "http://example.org/sensorOf", CASE + "myWidget1"),
        (CASE + "mySensor2", "http://example.org/sensorOf", CASE + "myWidget2"),
    ]


def test_construct_literal_object_carries_datatype(engine):
    df = engine.query(PFX + """
    CONSTRUCT { ?ts <http://example.org/extId> ?id }
    WHERE { ?ts otit_swt:hasExternalId ?id }""")
    out = {(r["o_lex"], r["o_dt"]) for r in df.collect()}
    assert out == {("ts1", XSD_STRING), ("ts2", XSD_STRING)}
    assert all(r["o_iri"] is None for r in df.collect())


def test_construct_constant_and_dedup(engine):
    # every solution instantiates the same constant triple -> set semantics
    df = engine.query(PFX + """
    CONSTRUCT { <urn:x> <urn:p> "v" }
    WHERE { ?w types:hasSensor ?s }""")
    assert df.count() == 1


def test_construct_short_form(engine):
    df = engine.query(PFX + "CONSTRUCT WHERE { ?w types:hasSensor ?s }")
    assert df.count() == 2
    assert {r["p"] for r in df.collect()} == {TYPES + "hasSensor"}


def test_describe_iri(engine):
    df = engine.query(f"DESCRIBE <{CASE}myWidget1>")
    # all triples with myWidget1 as subject: hasSensor, hasSomething, rdf:type
    assert df.count() == 3
    assert {r["s"] for r in df.collect()} == {CASE + "myWidget1"}


def test_describe_var_with_pattern(engine):
    df = engine.query(PFX + "DESCRIBE ?w WHERE { ?w a types:BigWidget }")
    assert {r["s"] for r in df.collect()} == {CASE + "myWidget1"}
    assert df.count() == 3


def test_construct_blank_node_template(engine):
    """Template blank nodes mint one fresh node per solution, shared across
    the template triples of that solution (SPARQL 1.1 §16.2.1)."""
    df = engine.query(PFX + """
    CONSTRUCT { ?w <http://example.org/via> _:b .
                _:b <http://example.org/to> ?s }
    WHERE { ?w types:hasSensor ?s }""")
    rows = df.collect()
    assert len(rows) == 4
    via = {r["s"]: r["o_iri"] for r in rows if r["p"].endswith("via")}
    to = {r["s"]: r["o_iri"] for r in rows if r["p"].endswith("to")}
    # per solution, the same minted node appears as via-object and to-subject
    for w, b in via.items():
        assert b.startswith("_:")
        assert to[b] == w.replace("Widget", "Sensor")
    assert len(set(via.values())) == 2  # distinct solutions -> distinct bnodes


def _fresh_engine(spark):
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore
    from tests.conftest import TESTDATA_SPARQL

    return Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))


def test_update_insert_data(spark):
    eng = _fresh_engine(spark)
    n0 = eng.graph.df.count()
    eng.update('INSERT DATA { <urn:x> <urn:p> "v" . <urn:x> <urn:p> 5 }')
    assert eng.graph.df.count() == n0 + 2
    assert eng.ask('ASK { <urn:x> <urn:p> 5 }')
    # set semantics: re-inserting is a no-op
    eng.update('INSERT DATA { <urn:x> <urn:p> "v" }')
    assert eng.graph.df.count() == n0 + 2


def test_update_delete_data(spark):
    eng = _fresh_engine(spark)
    eng.update('INSERT DATA { <urn:x> <urn:p> "v" }')
    n1 = eng.graph.df.count()
    eng.update('DELETE DATA { <urn:x> <urn:p> "v" }')
    assert eng.graph.df.count() == n1 - 1
    assert not eng.ask('ASK { <urn:x> <urn:p> "v" }')


def test_update_delete_where(spark):
    eng = _fresh_engine(spark)
    n0 = eng.graph.df.count()
    eng.update("""
    PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
    DELETE WHERE { ?ts otit_swt:hasExternalId ?id }""")
    assert eng.graph.df.count() == n0 - 2
    assert not eng.ask("""
    PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
    ASK { ?ts otit_swt:hasExternalId ?id }""")


def test_update_delete_insert_where(spark):
    eng = _fresh_engine(spark)
    eng.update(PFX + """
    DELETE { ?w types:hasSensor ?s }
    INSERT { ?s <http://example.org/attachedTo> ?w }
    WHERE { ?w types:hasSensor ?s }""")
    assert not eng.ask(PFX + "ASK { ?w types:hasSensor ?s }")
    df = eng.query(PFX + "SELECT ?s ?w WHERE { ?s <http://example.org/attachedTo> ?w }")
    assert df.count() == 2


def test_update_rejects_select(spark):
    import pytest as _pytest

    eng = _fresh_engine(spark)
    with _pytest.raises(ValueError):
        eng.update("SELECT ?s WHERE { ?s ?p ?o }")


def test_graph_named_iri(spark):
    """GRAPH <iri> { ... } evaluates against the registered named graph."""
    eng = _fresh_engine(spark)
    from otit_swt_spark.graph import GraphStore

    g2 = GraphStore.from_sparql_insert(spark, """
    PREFIX ex: <http://example.org/>
    INSERT DATA { ex:a ex:knows ex:b . ex:b ex:knows ex:c . }""")
    eng.register_named_graph("urn:g:social", g2)
    df = eng.query("""
    SELECT ?x ?y WHERE { GRAPH <urn:g:social> { ?x <http://example.org/knows> ?y } }""")
    assert df.count() == 2
    # default graph unaffected
    assert eng.query(
        "SELECT ?x WHERE { ?x <http://example.org/knows> ?y }").count() == 0


def test_graph_variable_binds_name(spark):
    """GRAPH ?g { ... } unions all named graphs with ?g bound per branch."""
    eng = _fresh_engine(spark)
    from otit_swt_spark.graph import GraphStore

    for iri, fact in [("urn:g:one", "ex:a ex:p ex:b"),
                      ("urn:g:two", "ex:c ex:p ex:d")]:
        eng.register_named_graph(iri, GraphStore.from_sparql_insert(
            spark, f"PREFIX ex: <http://example.org/> INSERT DATA {{ {fact} }}"))
    df = eng.query(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <http://example.org/p> ?o } }")
    got = {(r["g"], r["s"]) for r in df.collect()}
    assert got == {("urn:g:one", "http://example.org/a"),
                   ("urn:g:two", "http://example.org/c")}


def test_graph_joins_with_default(spark):
    """A GRAPH block joins with default-graph patterns on shared vars."""
    eng = _fresh_engine(spark)
    from otit_swt_spark.graph import GraphStore

    meta = GraphStore.from_sparql_insert(spark, """
    PREFIX case: <http://example.org/case#>
    PREFIX ex: <http://example.org/>
    INSERT DATA { case:myWidget1 ex:owner "alice" . }""")
    eng.register_named_graph("urn:g:meta", meta)
    df = eng.query(PFX + """
    SELECT ?w ?owner WHERE {
        ?w types:hasSensor ?s .
        GRAPH <urn:g:meta> { ?w <http://example.org/owner> ?owner }
    }""")
    assert [tuple(r) for r in df.collect()] == [
        ("http://example.org/case#myWidget1", "alice")]


def test_graph_unregistered_raises(spark):
    import pytest as _pytest

    eng = _fresh_engine(spark)
    with _pytest.raises(ValueError, match="not registered"):
        eng.query("SELECT ?s WHERE { GRAPH <urn:g:absent> { ?s ?p ?o } }")


def test_from_dataset_clause(spark):
    """FROM <iri> makes the listed registered graph this query's default
    graph; FROM NAMED restricts GRAPH ?g to the listed graphs."""
    eng = _fresh_engine(spark)
    from otit_swt_spark.graph import GraphStore

    for iri, fact in [("urn:g:one", "ex:a ex:p ex:b"),
                      ("urn:g:two", "ex:c ex:p ex:d")]:
        eng.register_named_graph(iri, GraphStore.from_sparql_insert(
            spark, f"PREFIX ex: <http://example.org/> INSERT DATA {{ {fact} }}"))

    df = eng.query(
        "SELECT ?s FROM <urn:g:one> WHERE { ?s <http://example.org/p> ?o }")
    assert [r["s"] for r in df.collect()] == ["http://example.org/a"]

    df2 = eng.query("""
    SELECT ?s FROM <urn:g:one> FROM <urn:g:two>
    WHERE { ?s <http://example.org/p> ?o }""")
    assert df2.count() == 2

    df3 = eng.query("""
    SELECT ?g ?s FROM NAMED <urn:g:two>
    WHERE { GRAPH ?g { ?s <http://example.org/p> ?o } }""")
    got = {(r["g"], r["s"]) for r in df3.collect()}
    assert got == {("urn:g:two", "http://example.org/c")}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="not registered"):
        eng.query("SELECT ?s FROM <urn:g:zzz> WHERE { ?s ?p ?o }")


def test_from_multi_graph_merged_catalog(spark):
    """Multi-graph FROM merges the per-graph datatype catalogs: agreeing
    numeric predicates stay statically typed (values cast, no probe);
    conflicting datatypes raise InconsistentDatatype under strict mode."""
    import pytest as _pytest
    from otit_swt_spark.engine import InconsistentDatatype
    from otit_swt_spark.graph import GraphStore

    eng = _fresh_engine(spark)
    mk = lambda fact: GraphStore.from_sparql_insert(
        spark, "PREFIX ex: <http://example.org/> "
               "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
               f"INSERT DATA {{ {fact} }}")
    eng.register_named_graph("urn:g:m1", mk('ex:a ex:size "5"^^xsd:integer'))
    eng.register_named_graph("urn:g:m2", mk('ex:b ex:size "7"^^xsd:integer'))
    eng.register_named_graph("urn:g:m3", mk('ex:c ex:size "oops"'))

    df = eng.query("""
    SELECT ?s ?v FROM <urn:g:m1> FROM <urn:g:m2>
    WHERE { ?s <http://example.org/size> ?v }""")
    assert dict(df.dtypes)["v"] == "bigint"  # statically typed, no probe
    assert sorted(r["v"] for r in df.collect()) == [5, 7]

    with _pytest.raises(InconsistentDatatype):
        eng.query("""
        SELECT ?s ?v FROM <urn:g:m1> FROM <urn:g:m3>
        WHERE { ?s <http://example.org/size> ?v }""").collect()


def test_graph_variable_constrains_inner_binding(spark):
    """GRAPH ?g { ?g ex:p ?o }: when the graph variable is also bound inside
    the pattern, the branch must CONSTRAIN the inner binding to the graph
    IRI, not overwrite it (overwriting returned rows whose subject was not
    the graph IRI, silently mislabeled)."""
    eng = _fresh_engine(spark)
    from otit_swt_spark.graph import GraphStore

    # urn:g1 contains a triple about itself AND one about another subject
    eng.register_named_graph("urn:g1", GraphStore.from_sparql_insert(spark, """
    PREFIX ex: <http://example.org/>
    INSERT DATA { <urn:g1> ex:p ex:self . <urn:other> ex:p ex:notself . }"""))
    eng.register_named_graph("urn:g2", GraphStore.from_sparql_insert(spark, """
    PREFIX ex: <http://example.org/>
    INSERT DATA { <urn:g1> ex:p ex:cross . }"""))
    df = eng.query(
        "SELECT ?g ?o WHERE { GRAPH ?g { ?g <http://example.org/p> ?o } }")
    got = {(r["g"], r["o"]) for r in df.collect()}
    # only the g1 self-triple qualifies: g2's triple about urn:g1 has
    # subject != g2, and urn:other never names a graph
    assert got == {("urn:g1", "http://example.org/self")}


def test_from_merged_catalog_same_datatype_different_counts(spark):
    """Two FROM graphs typing the same predicate identically but with
    different triple counts must stay consistently typed — the merge
    used to compare full catalog dicts including the selectivity count
    and misflagged them mixed (-> InconsistentDatatype)."""
    from otit_swt_spark import Engine, GraphStore

    g1 = GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:s1> <urn:p> 1.5 . }""")
    g2 = GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:s2> <urn:p> 2.5 . <urn:s3> <urn:p> 3.5 . }""")
    eng = Engine(spark, g1)
    eng.register_named_graph("urn:g1", g1)
    eng.register_named_graph("urn:g2", g2)
    out = eng.query("""
        SELECT ?o FROM <urn:g1> FROM <urn:g2>
        WHERE { ?s <urn:p> ?o } ORDER BY ?o""")
    assert [r["o"] for r in out.collect()] == [1.5, 2.5, 3.5]


def test_graph_variable_union_reconciles_datatypes(spark):
    """GRAPH ?g unions its branches like UNION: two graphs whose objects
    have different datatypes give a mixed variable, which raises under
    strict types and otherwise yields the UNION's rows."""
    import pytest as _pytest
    from otit_swt_spark import Engine, GraphStore
    from otit_swt_spark.engine import InconsistentDatatype

    eng = Engine(spark, GraphStore(spark))
    eng.register_named_graph("urn:g1", GraphStore.from_sparql_insert(spark, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT DATA { <urn:a> <urn:v> "5"^^xsd:integer }"""))
    eng.register_named_graph("urn:g2", GraphStore.from_sparql_insert(
        spark, 'INSERT DATA { <urn:b> <urn:v> "x" }'))
    graph_q = "SELECT ?s ?o WHERE { GRAPH ?g { ?s <urn:v> ?o } }"
    union_q = """SELECT ?s ?o WHERE { { GRAPH <urn:g1> { ?s <urn:v> ?o } }
                                      UNION { GRAPH <urn:g2> { ?s <urn:v> ?o } } }"""
    for q in (graph_q, union_q):
        with _pytest.raises(InconsistentDatatype):
            eng.query(q)
    eng.strict_types = False
    assert sorted(eng.query(graph_q).collect()) == sorted(
        eng.query(union_q).collect())
