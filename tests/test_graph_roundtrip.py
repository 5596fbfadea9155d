"""Graph store round-trip and SQL interop tests, and the one term codec
(``otit_swt_spark.terms``) seen through every loader, parser and writer."""

import pytest
from hypothesis import given, settings, strategies as st

from otit_swt_spark.graph import GraphStore, parse_ntriples, parse_turtle_lite
from otit_swt_spark.terms import XSD

from conftest import rows


def test_ntriples_roundtrip_via_store(spark, engine):
    """KG -> N-Triples text -> parse -> same triple set."""
    nt = "\n".join(r["value"] for r in engine.graph.to_ntriples_df().collect())
    g2 = GraphStore.from_ntriples(spark, nt)
    a = {tuple(r) for r in engine.graph.df.collect()}
    b = {tuple(r) for r in g2.df.collect()}
    assert a == b


def test_register_views_sql_interop(spark, engine):
    engine.register_views()
    got = rows(spark.sql(
        "SELECT p, count(*) AS n FROM triples GROUP BY p ORDER BY p"))
    assert sum(n for _, n in got) == engine.graph.df.count()
    ts_rows = spark.sql(
        "SELECT id, count(*) AS n FROM timeseries GROUP BY id ORDER BY id")
    assert rows(ts_rows) == [("ts1", 8), ("ts2", 8)]


_LEX = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs"),
                           whitelist_characters='"\'\\\n\r\t\b\f\x00'),
    max_size=40,
)


@settings(max_examples=30, deadline=None)
@given(_LEX)
def test_ntriples_literal_escaping_property(spark, lex):
    """Literal lexical forms survive serialize -> parse for arbitrary
    content including quotes, backslashes, newlines, tabs and NULs, and
    the column writer writes the text ``Literal.ntriples`` does."""
    from otit_swt_spark.terms import IRI, Literal

    lit = Literal(lex)
    g = GraphStore.from_triples(spark, [(IRI("urn:s"), IRI("urn:p"), lit)])
    nt = g.to_ntriples_df().first()["value"]
    assert nt == f"<urn:s> <urn:p> {lit.ntriples()} ."
    [(s, p, o)] = list(parse_ntriples(nt))
    assert o == lit


#: (quoted or bare text, lexical form, datatype) of one literal
_LITERALS = [
    (r'"x\by"', "x\by", XSD + "string"),
    (r'"it\'s"', "it's", XSD + "string"),
    (r'"a\\nb"', "a\\nb", XSD + "string"),
    ('"a\x00b"', "a\x00b", XSD + "string"),
    ('"tab\\tx"', "tab\tx", XSD + "string"),
    ("1.5", "1.5", XSD + "decimal"),
    ("1e3", "1e3", XSD + "double"),
    ("2", "2", XSD + "integer"),
]


@pytest.mark.parametrize("text,lex,dt", _LITERALS, ids=[
    "backspace", "apostrophe", "backslash", "nul", "tab", "decimal",
    "double", "integer"])
def test_every_parser_decodes_one_literal(text, lex, dt):
    """The Turtle loader, the N-Triples loader (strings only: N-Triples has
    no bare numbers), the SPARQL parser and the stOTTR parser decode the
    same literal: ECHAR escapes in one pass, a bare decimal xsd:decimal."""
    from otit_swt_spark.mapper.parser import parse_document
    from otit_swt_spark.sparql.parser import Parser

    want = (lex, dt, None)
    [(_, _, o)] = parse_turtle_lite(f"<urn:s> <urn:p> {text} .")
    got = {"turtle": (o.lexical, o.datatype, o.language)}
    if text.startswith('"'):
        [(_, _, o)] = parse_ntriples(f"<urn:s> <urn:p> {text} .")
        got["ntriples"] = (o.lexical, o.datatype, o.language)
    o = Parser(text).parse_literal()
    got["sparql"] = (o.lexical, o.datatype, o.language)
    [t], _ = parse_document(
        f"<urn:T> [ ?x ] :: {{ ottr:Triple(?x, <urn:p>, {text}) }} .")
    o = t.instances[0].arguments[2].term
    got["stottr"] = (o.lexical, o.datatype, o.language)
    assert got == dict.fromkeys(got, want)


@pytest.mark.parametrize("loader,text", [
    (parse_turtle_lite, """
        PREFIX ex: <http://example.org/>
        # a comment with ex:x and 3
        ex:s ex:p ex:o . # a "quoted" } brace
        ex:s ex:q "# not a comment", <urn:x#frag> ."""),
    (parse_ntriples, """
        # a comment line
        <http://example.org/s> <http://example.org/p> <http://example.org/o> . # note
        <http://example.org/s> <http://example.org/q> "# not a comment" .
        <http://example.org/s> <http://example.org/q> <urn:x#frag> ."""),
])
def test_loaders_read_comments_as_whitespace(loader, text):
    """``#`` to the end of the line is whitespace outside IRIs and strings."""
    ex = "http://example.org/"
    got = [(s.value, p.value, str(o)) for s, p, o in loader(text)]
    assert got == [(ex + "s", ex + "p", ex + "o"),
                   (ex + "s", ex + "q", "# not a comment"),
                   (ex + "s", ex + "q", "urn:x#frag")]


def test_mapper_ntriples_lines_match_the_graph_writer(spark):
    """Mapping.ntriples_lines is GraphStore.to_ntriples_df over the
    mapping's triples, row for row: the same escapes (a tab included),
    typed, tagged and IRI objects."""
    from otit_swt_spark.mapper import Mapping

    doc = """
    @prefix ex:<http://example.net/ns#>.
    ex:T [?v, xsd:anyURI ?u] :: {
        ottr:Triple(ex:o, ex:hasVal, ?v),
        ottr:Triple(ex:o, ex:linksTo, ?u),
        ottr:Triple(ex:o, ex:label, "tab\there"@en-GB),
        ottr:Triple(ex:o, ex:num, 1.5)
    } .
    """
    df = spark.createDataFrame(
        [("K1", 'a\tb "q"\\', "http://example.net/ns#x")],
        "Key string, v string, u string")
    m = Mapping.from_str(doc, spark=spark)
    m.expand("http://example.net/ns#T", df)
    lines = [r["line"] for r in m.ntriples_lines().collect()]
    want = [r["value"] for r in
            GraphStore(spark, m.triples_df()).to_ntriples_df().collect()]
    assert lines == want
    assert '<http://example.net/ns#o> <http://example.net/ns#hasVal> ' \
           '"a\\tb \\"q\\"\\\\" .' in lines
    assert '<http://example.net/ns#o> <http://example.net/ns#label> ' \
           '"tab\\there"@en-GB .' in lines


def test_graphstore_materialized(spark, engine, tmp_path):
    path = str(tmp_path / "kg_mat")
    g2 = engine.graph.materialized(path)
    assert g2.df.count() == engine.graph.df.count()
    # second call reuses the layout (no rewrite)
    import os
    mtime = os.path.getmtime(path)
    g3 = engine.graph.materialized(path)
    assert os.path.getmtime(path) == mtime
    assert g3.df.count() == g2.df.count()


def test_turtle_lite_suffixed_literals(spark):
    """Typed (^^pname / ^^<iri>) and language-tagged literal objects parse —
    regression for the tokenizer misidentifying suffixed strings (the last
    matched regex group is the suffix, not the string)."""
    from otit_swt_spark.graph import parse_turtle_lite
    from otit_swt_spark.terms import RDF_LANGSTRING, XSD

    text = """
    PREFIX ex: <http://example.org/>
    PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
    ex:a ex:p "5"^^xsd:integer .
    ex:a ex:q "2022-06-01T08:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
    ex:a ex:r "hallo"@de .
    ex:a ex:s 2.5 .
    """
    triples = list(parse_turtle_lite(text))
    assert len(triples) == 4
    objs = {t[1].value.rsplit("/", 1)[-1]: t[2] for t in triples}
    assert objs["p"].datatype == XSD + "integer" and objs["p"].lexical == "5"
    assert objs["q"].datatype == XSD + "dateTime"
    assert objs["r"].language == "de" and objs["r"].datatype == RDF_LANGSTRING
    assert objs["s"].datatype == XSD + "decimal" and objs["s"].lexical == "2.5"


def test_materialized_persists_datatype_catalog(spark, engine, tmp_path):
    import json
    import os

    path = str(tmp_path / "kg_cat")
    g2 = engine.graph.materialized(path)
    cat_file = os.path.join(path, "_pred_datatypes.json")
    assert os.path.exists(cat_file)
    # a fresh open preloads the catalog without recomputation
    g3 = engine.graph.materialized(path)
    assert g3._pred_dt is not None
    assert g3._pred_dt == json.load(open(cat_file))
    assert g2.predicate_datatypes() == g3.predicate_datatypes()


def test_add_triples_merges_catalog_like_a_recompute(spark):
    """add_triples_df merges the added frame's catalog into the cached
    one; over randomized IRI, blank-node, typed, simple, untyped and
    language-tagged objects the merge equals a recompute over the union."""
    import random

    from otit_swt_spark.graph import TRIPLES_SCHEMA, catalog_of
    from otit_swt_spark.terms import RDF_LANGSTRING, XSD_STRING

    XSD = "http://www.w3.org/2001/XMLSchema#"
    objects = [
        ("urn:o1", None, None, None), ("_:b1", None, None, None),
        (None, "a", XSD_STRING, None), (None, "7", XSD + "integer", None),
        (None, "2.5", XSD + "double", None), (None, "u", None, None),
        (None, "x", XSD_STRING, "en"), (None, "y", RDF_LANGSTRING, "de"),
    ]
    rng = random.Random(7)
    for trial in range(6):
        preds = [f"urn:p{i}" for i in range(6)]
        batches = []
        for _ in range(3):
            batch = []
            for i in range(rng.randrange(1, 12)):
                # each predicate draws from its own small object pool, so
                # IRI-only, single-type and mixed predicates all occur
                p = rng.choice(preds)
                pool = objects[:2] if p == "urn:p0" else rng.sample(
                    objects, rng.randrange(1, 3))
                batch.append((f"urn:s{i}", p, *rng.choice(pool)))
            batches.append(spark.createDataFrame(batch, TRIPLES_SCHEMA))
        g = GraphStore(spark, batches[0])
        g.predicate_datatypes()
        for b in batches[1:]:
            g.add_triples_df(b)
        assert g._pred_dt == catalog_of(g.df), trial
