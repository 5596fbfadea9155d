"""Graph store round-trip and SQL interop tests."""

from hypothesis import given, settings, strategies as st

from otit_swt_spark.graph import GraphStore, parse_ntriples

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
                           whitelist_characters='"\\\n'),
    max_size=40,
)


@settings(max_examples=30, deadline=None)
@given(_LEX)
def test_ntriples_literal_escaping_property(spark, lex):
    """Literal lexical forms survive serialize -> parse for arbitrary
    content including quotes, backslashes, and newlines."""
    from otit_swt_spark.terms import IRI, Literal, XSD_STRING

    g = GraphStore.from_triples(
        spark, [(IRI("urn:s"), IRI("urn:p"), Literal(lex, IRI(XSD_STRING)))])
    nt = g.to_ntriples_df().first()["value"]
    [(s, p, o)] = list(parse_ntriples(nt))
    assert o.lexical == lex


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
    """
    triples = list(parse_turtle_lite(text))
    assert len(triples) == 3
    objs = {t[1].value.rsplit("/", 1)[-1]: t[2] for t in triples}
    assert objs["p"].datatype == XSD + "integer" and objs["p"].lexical == "5"
    assert objs["q"].datatype == XSD + "dateTime"
    assert objs["r"].language == "de" and objs["r"].datatype == RDF_LANGSTRING


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
