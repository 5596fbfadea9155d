"""RDF term-identity and parser-strictness semantics (round-7 review
fixes): joins and DISTINCT respect datatype/language companions, EBV
follows SPARQL 17.2.2, COUNT(DISTINCT *) counts solutions, DATATYPE()
maps native hints, signed numeric literals parse in term positions,
unparsed trailing clauses fail loudly, and query()/update() guard each
other's forms."""

import pytest

from otit_swt_spark import Engine, GraphStore
from otit_swt_spark.terms import XSD_STRING


@pytest.fixture(scope="module")
def eng(spark):
    g = GraphStore.from_sparql_insert(spark, """
        INSERT DATA {
            <urn:a> <urn:p> "urn:b" .
            <urn:b> <urn:q> <urn:c> .
            <urn:a2> <urn:p> <urn:b2> .
            <urn:b2> <urn:q> <urn:c2> .
            <urn:c> <urn:lbl> "x"@en .
            <urn:d> <urn:lbl> "x"@fr .
            <urn:e> <urn:name> "foo" .
            <urn:f> <urn:name> "" .
            <urn:g> <urn:val> 2.5 .
        }""")
    return Engine(spark, g)


def test_join_respects_term_identity(eng):
    # the literal "urn:b" must not join the IRI <urn:b>
    rows = eng.query(
        "SELECT ?x ?z WHERE { ?x <urn:p> ?y . ?y <urn:q> ?z }").collect()
    assert [(r["x"], r["z"]) for r in rows] == [("urn:a2", "urn:c2")]


def test_distinct_respects_language_tags(eng):
    rows = eng.query(
        "SELECT DISTINCT ?o WHERE { ?s <urn:lbl> ?o }").collect()
    assert len(rows) == 2                     # "x"@en and "x"@fr


def test_ebv_of_plain_strings(eng):
    # SPARQL 17.2.2: non-empty string EBV true, empty false — the old
    # try_cast('boolean') dropped BOTH rows
    rows = eng.query(
        "SELECT ?s WHERE { ?s <urn:name> ?n . FILTER(?n) }").collect()
    assert [r["s"] for r in rows] == ["urn:e"]
    rows = eng.query(
        "SELECT ?s WHERE { ?s <urn:name> ?n . FILTER(!?n) }").collect()
    assert [r["s"] for r in rows] == ["urn:f"]


def test_count_distinct_star(eng):
    n = eng.query("""
        SELECT (COUNT(DISTINCT *) AS ?n) WHERE {
            { <urn:e> <urn:name> ?x } UNION { <urn:e> <urn:name> ?x }
        }""").first()["n"]
    assert n == 1                              # duplicate solutions collapse


def test_datatype_of_native_value(eng):
    dt = eng.query("""
        SELECT (DATATYPE(?v) AS ?dt) WHERE { <urn:g> <urn:val> ?v }
        """).first()["dt"]
    # a bare 2.5 is xsd:decimal (Turtle 1.1 DECIMAL), held as a double
    assert dt == "http://www.w3.org/2001/XMLSchema#decimal"


def test_negative_literal_in_pattern_and_values(spark):
    g = GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:n> <urn:v> -5 . <urn:m> <urn:v> 3 . }""")
    e = Engine(spark, g)
    assert [r["s"] for r in
            e.query("SELECT ?s WHERE { ?s <urn:v> -5 }").collect()] \
        == ["urn:n"]
    rows = e.query(
        "SELECT ?s WHERE { ?s <urn:v> ?x . VALUES ?x { -5 } }").collect()
    assert [r["s"] for r in rows] == ["urn:n"]


@pytest.mark.parametrize("where,want", [
    ("?s <urn:p> 1.5", ["urn:a"]),
    (r'?s <urn:p> "x\by"', ["urn:c"]),
    ("?s <urn:p> ?o FILTER(?o = 1.5)", ["urn:a"]),
])
def test_constant_literal_matches_the_loaded_term(spark, where, want):
    """A bare decimal and an escaped string in a query decode to the term
    the Turtle loader stored (one codec, terms.py)."""
    g = GraphStore.from_sparql_insert(spark, r"""
        INSERT DATA { <urn:a> <urn:p> 1.5 . <urn:c> <urn:p> "x\by" . }""")
    got = Engine(spark, g).query(f"SELECT ?s WHERE {{ {where} }}").collect()
    assert [r["s"] for r in got] == want


def test_service_binding_keeps_its_language_tag(spark):
    """A SERVICE answer's ``xml:lang`` is kept as delivered, so "x"@en-GB
    from the endpoint joins the local "x"@en-GB; the bound join sends the
    local term with its tag."""
    g = GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:a> <urn:lbl> "x"@en-GB . <urn:b> <urn:lbl> "x" . }""")
    sent = []

    def http_post(url, query):
        sent.append(query)
        return {"head": {"vars": ["r", "l"]}, "results": {"bindings": [
            {"r": {"type": "uri", "value": "urn:r"},
             "l": {"type": "literal", "value": "x", "xml:lang": "en-GB"}}]}}

    got = Engine(spark, g, http_post=http_post).query("""
        SELECT ?s ?r WHERE {
            ?s <urn:lbl> ?l
            SERVICE <http://remote.example/sparql> { ?r <urn:name> ?l }
        }""").collect()
    assert [(r["s"], r["r"]) for r in got] == [("urn:a", "urn:r")]
    assert '("x"@en-GB)' in sent[0] and '("x")' in sent[0]


def test_order_by_constraint_key_and_eof_guard(eng):
    rows = eng.query("""
        SELECT ?o WHERE { ?s <urn:lbl> ?o } ORDER BY lang(?o)
        """).collect()
    assert [r["o"] for r in rows] == ["x", "x"]
    with pytest.raises(SyntaxError, match="unparsed"):
        eng.query("SELECT ?s WHERE { ?s <urn:p> ?o } bogus trailing")


def test_query_rejects_update_forms(eng):
    with pytest.raises(ValueError, match="Update"):
        eng.query("DELETE WHERE { <urn:a> <urn:p> ?x }")


def test_construct_drops_native_literal_subject(spark):
    g = GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:g> <urn:val> 2.5 . }""")
    e = Engine(spark, g)
    out = e.query(
        "CONSTRUCT { ?v <urn:tag> <urn:o> } WHERE { ?s <urn:val> ?v }")
    assert out.count() == 0                    # 3.14-style subjects dropped


# -- object variables of IRI-only predicates ---------------------------------

IRI_ONLY_GRAPH = """
    INSERT DATA {
        <urn:a> <urn:link> <urn:x> .
        <urn:a> <urn:link> _:n1 .
        <urn:c> <urn:ref> <urn:x> .
        <urn:b> <urn:name> "urn:x" .
        <urn:x> <urn:lbl> "ex"@en .
    }"""


@pytest.fixture(scope="module")
def iri_eng(spark):
    return Engine(spark, GraphStore.from_sparql_insert(spark, IRI_ONLY_GRAPH))


def test_iri_only_object_binds_one_plain_column(iri_eng):
    """The catalog proves <urn:link> has IRI/blank-node objects only, so
    ?x binds like a subject variable: one value column, no companions."""
    from otit_swt_spark.sparql.compiler import Compiler
    from otit_swt_spark.sparql.parser import parse_query

    comp = Compiler(iri_eng.spark, iri_eng.graph.df,
                    pred_datatypes=iri_eng.graph.predicate_datatypes)
    sm = comp.compile_query(parse_query(
        "SELECT * WHERE { ?a <urn:link> ?x . ?b <urn:name> ?n }"))
    assert not {"x__dt", "x__lang"} & set(sm.df.columns)
    assert "x" not in sm.dt_vars | sm.lang_vars and sm.vars["x"].xsd is None
    # a literal-valued predicate keeps its companions
    assert {"n__dt", "n__lang"} <= set(sm.df.columns)


def test_catalogless_compiler_keeps_object_companions(iri_eng):
    """Without a catalog nothing proves an object IRI-only: companions
    stay."""
    from otit_swt_spark.sparql.compiler import Compiler
    from otit_swt_spark.sparql.parser import parse_query

    comp = Compiler(iri_eng.spark, iri_eng.graph.df, pred_datatypes=None)
    sm = comp.compile_query(parse_query(
        "SELECT * WHERE { ?a <urn:link> ?x }"))
    assert {"x__dt", "x__lang"} <= set(sm.df.columns)
    assert "x" in sm.dt_vars and "x" in sm.lang_vars


def test_iri_only_object_join_keeps_term_identity(iri_eng):
    """An IRI-only object joins an IRI (object or subject) on the plain
    value, and never a literal of the same lexical form."""
    def q(body):
        return sorted(tuple(r) for r in iri_eng.query(
            f"SELECT ?a ?x WHERE {{ {body} }}").collect())

    assert q("?a <urn:link> ?x . ?b <urn:name> ?x") == []
    assert q("?b <urn:name> ?x . ?a <urn:link> ?x") == []
    assert q("?a <urn:link> ?x . VALUES ?x { <urn:x> }") == [("urn:a", "urn:x")]
    assert q("?a <urn:link> ?x . ?c <urn:ref> ?x") == [("urn:a", "urn:x")]
    assert q("?a <urn:link> ?x . ?x <urn:lbl> ?l") == [("urn:a", "urn:x")]
    assert q("?a <urn:link> ?x . OPTIONAL { ?b <urn:name> ?x }") == [
        ("urn:a", "_:n1"), ("urn:a", "urn:x")]


@pytest.fixture(scope="module")
def lexical_twins_eng(spark):
    """The IRI <urn:x> and literals of the lexical form "urn:x"."""
    return Engine(spark, GraphStore.from_sparql_insert(spark, """
        INSERT DATA {
            <urn:a> <urn:link> <urn:x> .
            <urn:b> <urn:name> "urn:x" .
            <urn:c> <urn:name> "urn:x"@en .
            <urn:d> <urn:mix> <urn:x> .
            <urn:e> <urn:mix> "urn:x" .
            <urn:f> <urn:typed> "urn:x"^^<urn:dt> .
        }"""))


@pytest.mark.parametrize("body,want", [
    ('?a <urn:link> ?x . VALUES ?x { "urn:x" }', []),
    ('VALUES ?x { "urn:x" } ?a <urn:link> ?x', []),
    ('?a <urn:name> ?x . VALUES ?x { "urn:x" }', [("urn:b", False)]),
    ('?a <urn:mix> ?x . VALUES ?x { "urn:x" }', [("urn:e", False)]),
    ('VALUES ?x { "urn:x" } ?a <urn:mix> ?x', [("urn:e", False)]),
    ('?a <urn:mix> ?x . VALUES ?x { "urn:x" UNDEF }',
     [("urn:d", True), ("urn:e", False), ("urn:e", False)]),
    ('?a <urn:link> ?x . VALUES (?x ?y) { ("urn:x" UNDEF) }', []),
    ('?a <urn:name> ?x . VALUES ?x { "urn:x"@en }', [("urn:c", False)]),
    ('VALUES ?x { "urn:x"@en } ?a <urn:name> ?x', [("urn:c", False)]),
    ('?a <urn:name> ?x . VALUES ?x { "urn:x"@en UNDEF }',
     [("urn:b", False), ("urn:c", False), ("urn:c", False)]),
    ('?a <urn:typed> ?x . VALUES ?x { "urn:x"^^<urn:dt> }', [("urn:f", False)]),
    ('?a <urn:typed> ?x . VALUES ?x { "urn:x" }', []),
    ('?a <urn:name> ?x . VALUES ?x { "urn:x"^^<urn:dt> }', []),
    ('?a <urn:link> ?x . VALUES ?x { "y" <urn:x> }', [("urn:a", True)]),
    ('?a <urn:mix> ?x . VALUES ?x { "urn:x" <urn:x> }',
     [("urn:d", True), ("urn:e", False)]),
    ('VALUES ?x { <urn:x> "urn:x" } ?a <urn:mix> ?x',
     [("urn:d", True), ("urn:e", False)]),
])
def test_values_plain_literal_joins_only_string_literals(
        lexical_twins_eng, body, want):
    """A VALUES cell is its own RDF term: a plain literal is an
    xsd:string literal that never joins an IRI (an IRI-only object, or an
    IRI among mixed objects) or a language-tagged literal of the same
    lexical form; a tagged or custom-typed cell joins only its own term;
    an IRI cell beside literals still joins its IRI. Either join order
    and the UNDEF path agree."""
    got = lexical_twins_eng.query(f"SELECT ?a ?x (isIRI(?x) AS ?i) WHERE {{ {body} }}")
    assert sorted((r["a"], r["i"]) for r in got.collect()) == want
    assert all(r["x"] == "urn:x" for r in got.collect())


@pytest.mark.parametrize("body,want", [
    ('VALUES ?x { "zzz" } OPTIONAL { ?a <urn:name> ?x }',
     (None, True, False)),
    ('VALUES ?x { "zzz" } OPTIONAL { ?a <urn:name> ?x FILTER(BOUND(?a)) }',
     (None, True, False)),
    ('VALUES ?x { "urn:x" } OPTIONAL { ?a <urn:link> ?x FILTER(BOUND(?a)) }',
     (None, True, False)),
    ('VALUES ?x { <urn:x> } OPTIONAL { ?a <urn:link> ?x FILTER(BOUND(?a)) }',
     ("urn:a", False, True)),
    ('?a <urn:link> ?x OPTIONAL { ?b <urn:name> ?x FILTER(BOUND(?b)) }',
     ("urn:a", False, True)),
])
def test_optional_keeps_values_term(lexical_twins_eng, body, want):
    """A VALUES literal left unmatched by an OPTIONAL (with or without a
    FILTER) is still an xsd:string literal, and an OPTIONAL with a
    FILTER joins on term identity: the literal "urn:x" never binds the
    IRI <urn:x>, in either direction."""
    got = lexical_twins_eng.query(f"""
        SELECT ?a (isLiteral(?x) AS ?l) (isIRI(?x) AS ?i) (DATATYPE(?x) AS ?d)
        WHERE {{ {body} }}""").collect()
    [(a, lit, iri, dt)] = [tuple(r) for r in got]
    assert (a, lit, iri) == want
    # DATATYPE of an IRI is a type error: unbound (SPARQL 17.4.2.7)
    assert dt == (XSD_STRING if lit else None)


@pytest.mark.parametrize("body", [
    "?a <urn:link> ?x MINUS { ?b <urn:name> ?x }",
    "?a <urn:link> ?x FILTER NOT EXISTS { ?b <urn:name> ?x }",
    '?a <urn:link> ?x MINUS { VALUES (?a ?x) { (<urn:a> "urn:x") } }',
])
def test_minus_and_not_exists_keep_term_identity(lexical_twins_eng, body):
    """MINUS (one shared variable, and the multi-variable compatibility
    join) and FILTER NOT EXISTS compare shared variables as RDF terms:
    the literal "urn:x" does not remove the IRI <urn:x>."""
    got = lexical_twins_eng.query(f"SELECT ?a ?x WHERE {{ {body} }}")
    assert [tuple(r) for r in got.collect()] == [("urn:a", "urn:x")]


def test_exists_and_minus_still_match_equal_terms(lexical_twins_eng):
    """The term-identity keys still match a term against itself."""
    def q(body):
        return sorted(tuple(r) for r in lexical_twins_eng.query(
            f"SELECT ?a WHERE {{ {body} }}").collect())

    assert q("?a <urn:mix> ?x MINUS { ?b <urn:name> ?x }") == [("urn:d",)]
    assert q("?a <urn:mix> ?x FILTER EXISTS { ?b <urn:link> ?x }") == [
        ("urn:d",)]
    assert q("?a <urn:mix> ?x FILTER NOT EXISTS { ?b <urn:link> ?x }") == [
        ("urn:e",)]
    # outside the semi/anti-join fast path too: an inner row per term, not
    # per lexical form, so "urn:x" and <urn:x> each find their twin
    both = [("urn:d",), ("urn:e",)]
    assert q("?a <urn:mix> ?x FILTER(EXISTS { ?b <urn:mix> ?x } || false)") \
        == both
    assert q("?a <urn:mix> ?x FILTER(!EXISTS { ?b <urn:mix> ?x } && true)") \
        == []
    assert q("?a <urn:mix> ?x BIND(EXISTS { ?b <urn:mix> ?x } AS ?e) "
             "FILTER(?e)") == both


def test_values_join_plan_build_runs_no_job(lexical_twins_eng):
    """Whether a VALUES column holds UNDEF is read from its rows: once
    the store is warm, building the plan of a VALUES join runs no Spark
    job."""
    eng = lexical_twins_eng
    q = 'SELECT ?a WHERE { ?a <urn:mix> ?x . VALUES ?x { "urn:x" } }'
    sc = eng.spark.sparkContext
    eng.query(q)
    eng._plan_cache.pop(q, None)
    group = "test-values-plan-build"
    sc.setJobGroup(group, group)
    try:
        df = eng.query(q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [tuple(r) for r in df.collect()] == [("urn:e",)]


@pytest.fixture(scope="module")
def path_eng(spark):
    """Literal objects at the end of property paths."""
    return Engine(spark, GraphStore.from_sparql_insert(spark, """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT DATA {
            <urn:a> <urn:p> <urn:b> .
            <urn:b> <urn:name> "n"^^<urn:dt> .
            <urn:s> <urn:q> "1" .
            <urn:t> <urn:q> <urn:u> .
            <urn:u> <urn:q> "1"^^xsd:integer .
        }"""))


def test_path_object_binds_like_graph_object(path_eng):
    """A property path's object carries its datatype and language, and a
    constant literal object matches lexical form and datatype, as in a
    plain triple pattern. A zero-length step starts and ends at every
    node of the graph, a literal object included (SPARQL 1.1 §18.4)."""
    got = path_eng.query("""
        SELECT ?s ?o (DATATYPE(?o) AS ?d) (isLiteral(?o) AS ?l)
        WHERE { ?s (<urn:p>/<urn:name>)+ ?o }""").collect()
    assert [tuple(r) for r in got] == [("urn:a", "n", "urn:dt", True)]
    for pattern, obj, want in [
            ("<urn:q>+", '"1"^^xsd:integer', ["urn:t", "urn:u"]),
            ("<urn:q>", '"1"^^xsd:integer', ["urn:u"]), ("<urn:q>", '"1"', ["urn:s"]),
            ("<urn:q>*", '"1"^^xsd:integer', ["1", "urn:t", "urn:u"]),
            ("<urn:p>*", '"1"', ["1"]), ("<urn:p>?", '"1"', ["1"]),
            ("(<urn:q>+|^<urn:p>)", '"1"^^xsd:integer', ["urn:t", "urn:u"]),
            ("(<urn:q>+|^<urn:p>)", "<urn:a>", ["urn:b"]),
            ("!(<urn:q>)?", '"n"^^<urn:dt>', ["n", "urn:b"]),
            ("!(<urn:q>)?", '"1"', ["1"])]:
        got = path_eng.query(f"""
            PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
            SELECT ?s WHERE {{ ?s {pattern} {obj} }}""").collect()
        assert sorted(r["s"] for r in got) == want, pattern
    pairs = {tuple(r) for r in path_eng.query(
        "SELECT ?x ?y WHERE { ?x <urn:p>* ?y }").collect()}
    assert {("1", "1"), ("urn:a", "urn:a"), ("urn:a", "urn:b")} <= pairs


@pytest.mark.parametrize("pattern", ["<urn:p>", "<urn:p>+"])
def test_repeated_variable_never_matches_a_literal(spark, pattern):
    """``?x p ?x`` needs the object to be the subject term itself: the
    literal "urn:a" is not the IRI <urn:a>."""
    eng = Engine(spark, GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:a> <urn:p> "urn:a" . <urn:b> <urn:p> <urn:b> . }"""))
    got = eng.query(f"SELECT ?x WHERE {{ ?x {pattern} ?x }}").collect()
    assert [r["x"] for r in got] == ["urn:b"]


def test_values_datetime_cell_is_a_timestamp(eng):
    """An xsd:dateTime VALUES column is one native timestamp column,
    normalized to UTC."""
    df = eng.query("""
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?t WHERE { VALUES ?t { "2022-01-01T00:00:00"^^xsd:dateTime
                                      "2022-01-01T02:30:00+02:00"^^xsd:dateTime } }""")
    assert df.schema["t"].dataType.simpleString() == "timestamp"
    # rendered in the session's UTC zone, not the Python process's
    assert sorted(r[0] for r in df.selectExpr("string(t)").collect()) == [
        "2022-01-01 00:00:00", "2022-01-01 00:30:00"]
    # an ill-formed cell keeps the column a term column, its lexical form
    bad = eng.query("""
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT (STR(?t) AS ?s) WHERE { VALUES ?t { "soon"^^xsd:dateTime } }""")
    assert [r["s"] for r in bad.collect()] == ["soon"]


def test_datatype_of_an_iri_is_unbound(eng):
    got = eng.query("""
        SELECT ?x (DATATYPE(?x) AS ?d) WHERE { VALUES ?x { <urn:x> "y" } }""")
    assert sorted(tuple(r) for r in got.collect()) == [
        ("urn:x", None), ("y", XSD_STRING)]


@pytest.mark.parametrize("text", [
    """SELECT ?x (isIRI(?x) AS ?i) (isLiteral(?x) AS ?l) (isBlank(?x) AS ?b)
              (DATATYPE(?x) AS ?d) (LANG(?x) AS ?g) (STR(?x) AS ?s)
       WHERE { ?a <urn:link> ?x }""",
    "SELECT ?x WHERE { ?a <urn:link> ?x . ?c <urn:ref> ?x }",
    "SELECT DISTINCT ?x WHERE { { ?a <urn:link> ?x } UNION { ?b <urn:name> ?x } }",
    "SELECT (MIN(?x) AS ?m) (SAMPLE(?x) AS ?s) WHERE { ?a <urn:link> ?x }",
    "CONSTRUCT { ?x <urn:from> ?a . ?a <urn:to> ?x } WHERE { ?a <urn:link> ?x }",
])
def test_iri_only_object_answers_match_companion_binding(iri_eng, text):
    """Term tests, accessors, joins, UNION, aggregates, CONSTRUCT and the
    output schema over an IRI-only object give exactly what the
    companion-carrying binding (no catalog) gives."""
    from otit_swt_spark.sparql import algebra as A
    from otit_swt_spark.sparql.compiler import Compiler
    from otit_swt_spark.sparql.parser import parse_query

    def run(pred_datatypes):
        comp = Compiler(iri_eng.spark, iri_eng.graph.df,
                        pred_datatypes=pred_datatypes)
        q = parse_query(text)
        sm = comp.compile_pattern(q.pattern, None)
        if isinstance(q, A.ConstructQuery):
            return iri_eng._construct(sm, q.template)
        return iri_eng._finalize(sm, q.variables)

    plain, companion = run(iri_eng.graph.predicate_datatypes), run(None)
    assert plain.schema == companion.schema
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(plain.collect(), key=key) == sorted(companion.collect(),
                                                      key=key)


@pytest.mark.parametrize("pattern,want", [
    ("(<urn:p>|^<urn:p>)", [("urn:b", False), ("urn:b", False)]),
    ("<urn:p>*", [("urn:a", False), ("urn:a", True), ("urn:b", False)]),
])
def test_repeated_variable_over_a_path_compares_terms(spark, pattern, want):
    """``?x path ?x`` compares the path's two nodes as terms: the inverse
    arm from the literal "urn:a" ends at the IRI <urn:a>, a different
    term, and the zero-length step pairs the literal with itself."""
    eng = Engine(spark, GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:a> <urn:p> "urn:a" . <urn:b> <urn:p> <urn:b> . }"""))
    got = eng.query(
        f"SELECT ?x (isLiteral(?x) AS ?l) WHERE {{ ?x {pattern} ?x }}")
    assert sorted(tuple(r) for r in got.collect()) == want


def test_repeated_variable_compares_the_column_it_repeats(spark):
    """``?s ?p ?p`` needs the object to be the predicate, not the
    subject, and a literal subject matches no triple."""
    eng = Engine(spark, GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:a> <urn:p> <urn:p> . <urn:b> <urn:p> <urn:b> . }"""))
    got = eng.query("SELECT ?s ?p WHERE { ?s ?p ?p }").collect()
    assert [tuple(r) for r in got] == [("urn:a", "urn:p")]
    assert eng.query('SELECT ?o WHERE { "urn:a" <urn:p> ?o }').collect() == []


@pytest.mark.parametrize("where,want", [
    ("<urn:zzz> <urn:p>* ?x", ("urn:zzz", None, "")),
    ("<urn:zzz> <urn:p>? ?x", ("urn:zzz", None, "")),
    ("?x <urn:p>* <urn:zzz>", ("urn:zzz", None, "")),
    ("?x <urn:p>? <urn:zzz>", ("urn:zzz", None, "")),
    ('?x <urn:p>* "zz"', ("zz", XSD_STRING, "")),
    ('"zz"@en <urn:p>? ?x',
     ("zz", "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en")),
])
def test_zero_length_path_binds_a_constant_outside_the_graph(
        path_eng, where, want):
    """A zero-length step from or to a constant binds the constant itself,
    in the graph or not (SPARQL 1.1 §18.4), a literal with its datatype
    and language; <urn:p> is IRI-only, and its ``*``/``?`` still binds
    the literal with companions."""
    got = path_eng.query(f"""
        SELECT ?x (DATATYPE(?x) AS ?d) (LANG(?x) AS ?g)
        WHERE {{ {where} }}""").collect()
    assert [tuple(r) for r in got] == [want]


@pytest.mark.parametrize("path", [
    "^<urn:name>", "^<urn:name>+", "(^<urn:name>|^<urn:p>)"])
def test_path_subject_binds_like_graph_object(path_eng, path):
    """A literal a path binds as its subject, through ``^``, carries its
    datatype like a path object (the parser lowers a bare ``^<p>`` to a
    plain triple pattern)."""
    got = path_eng.query(f"""
        SELECT ?s (DATATYPE(?s) AS ?d) (isLiteral(?s) AS ?l)
        WHERE {{ ?s {path} <urn:b> }}""").collect()
    assert [tuple(r) for r in got] == [("n", "urn:dt", True)]


def test_catalog_blind_output_keeps_iris_beside_literals(path_eng):
    """A path object the catalog cannot type is typed by the datatype its
    rows carry; rows binding IRIs beside an integer keep every term as
    its lexical form rather than casting the IRIs to null."""
    got = path_eng.query("SELECT ?o WHERE { <urn:t> <urn:q>* ?o }")
    assert sorted(r["o"] for r in got.collect()) == ["1", "urn:t", "urn:u"]
    typed = path_eng.query("SELECT ?o WHERE { <urn:u> <urn:q>+ ?o }")
    assert [r["o"] for r in typed.collect()] == [1]


def test_tagged_literal_meets_a_mapper_typed_graph(spark):
    """The stOTTR mapper stores "x"@en as rdf:langString, as every other
    writer does: a VALUES cell and a zero-length path constant in that
    language meet the graph's literal, and the catalog keeps the tagged
    object a string column."""
    from otit_swt_spark.mapper.mapping import ExpandOptions, Mapping

    m = Mapping.from_str("""
        @prefix ex:<urn:>.
        ex:T [?s, ?o] :: { ottr:Triple(?s, <urn:p>, ?o) } .""", spark=spark)
    m.expand("urn:T", spark.createDataFrame(
        [("k", "urn:s", "x")], "Key string, s string, o string"),
        ExpandOptions(language_tags={"o": "en"}))
    eng = Engine(spark, GraphStore(spark, m.triples_df()))
    assert eng.graph.predicate_datatypes()["urn:p"]["dt"] == XSD_STRING
    got = eng.query('SELECT ?s WHERE { ?s <urn:p> ?o . VALUES ?o { "x"@en } }')
    assert [r["s"] for r in got.collect()] == ["urn:s"]
    got = eng.query('SELECT ?s WHERE { ?s <urn:p>? "x"@en }')
    assert sorted(r["s"] for r in got.collect()) == ["urn:s", "x"]
