"""Basic parser + BGP + filter smoke tests (fast subset)."""

from datetime import datetime

from tests.conftest import rows

CASE = "http://example.org/case#"


def test_static_bgp(engine):
    df = engine.query(
        """
        PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
        SELECT * WHERE {?a otit_swt:hasTimeseries ?b }
        """
    )
    assert rows(df) == [
        (CASE + "mySensor1", CASE + "myTimeseries1"),
        (CASE + "mySensor2", CASE + "myTimeseries2"),
    ]


def test_static_bgp_literal_object(engine):
    df = engine.query(
        """
        PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
        SELECT ?ts WHERE {?ts otit_swt:hasExternalId "ts1" }
        """
    )
    assert rows(df) == [(CASE + "myTimeseries1",)]


def test_simple_hybrid(engine):
    df = engine.query(
        """
        PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
        PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
        PREFIX types:<http://example.org/types#>
        SELECT ?w ?s ?t ?v WHERE {
            ?w a types:BigWidget .
            ?w types:hasSensor ?s .
            ?s otit_swt:hasTimeseries ?ts .
            ?ts otit_swt:hasDataPoint ?dp .
            ?dp otit_swt:hasTimestamp ?t .
            ?dp otit_swt:hasValue ?v .
            FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime && ?v < 200) .
        }
        """
    )
    # ts1 values after 08:46:53 that are < 200: 100@54, 102@56, 105@59
    assert rows(df, "t", "v") == [
        (datetime(2022, 6, 1, 8, 46, 54), 100),
        (datetime(2022, 6, 1, 8, 46, 56), 102),
        (datetime(2022, 6, 1, 8, 46, 59), 105),
    ]
    assert df.columns == ["w", "s", "t", "v"]


PFX = """
PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
PREFIX types:<http://example.org/types#>
"""


def test_expr_regex_and_str(engine):
    df = engine.query(PFX + """
    SELECT ?a WHERE {
        ?a otit_swt:hasTimeseries ?b .
        FILTER(REGEX(STR(?a), "Sensor1$"))
    }""")
    assert rows(df) == [(CASE + "mySensor1",)]


def test_expr_sameterm(engine):
    df = engine.query(PFX + """
    SELECT ?a ?b WHERE {
        ?w types:hasSensor ?a .
        ?w types:hasSensor ?b .
        FILTER(!SAMETERM(?a, ?b))
    }""")
    assert rows(df) == []  # each widget has one sensor


def test_expr_datatype_and_lang(engine):
    df = engine.query(PFX + """
    SELECT ?id ?dt WHERE {
        ?ts otit_swt:hasExternalId ?id .
        BIND(STR(DATATYPE(?id)) AS ?dt)
    }""")
    got = rows(df)
    assert all(dt == "http://www.w3.org/2001/XMLSchema#string" for _, dt in got)


def test_expr_iri_constructor(engine):
    df = engine.query(PFX + """
    SELECT ?u WHERE {
        ?ts otit_swt:hasExternalId ?id .
        BIND(IRI(CONCAT("urn:x:", ?id)) AS ?u)
    }""")
    assert rows(df) == [("urn:x:ts1",), ("urn:x:ts2",)]


def test_expr_in_and_not_in(engine):
    df = engine.query(PFX + """
    SELECT ?id WHERE {
        ?ts otit_swt:hasExternalId ?id .
        FILTER(?id IN ("ts1", "ts999"))
    }""")
    assert rows(df) == [("ts1",)]
    df2 = engine.query(PFX + """
    SELECT ?id WHERE {
        ?ts otit_swt:hasExternalId ?id .
        FILTER(?id NOT IN ("ts1", "ts999"))
    }""")
    assert rows(df2) == [("ts2",)]


def test_expr_bound_with_optional(engine):
    df = engine.query(PFX + """
    SELECT ?w WHERE {
        ?w types:hasSensor ?s .
        OPTIONAL { ?w types:hasSomething ?x }
        FILTER(BOUND(?x))
    }""")
    assert rows(df) == [(CASE + "myWidget1",)]


def test_engine_explain(engine):
    plan = engine.explain(PFX + """
    SELECT ?a WHERE { ?a otit_swt:hasTimeseries ?b }""")
    assert "Physical Plan" in plan


def test_blank_nodes_in_patterns(engine):
    """Blank nodes act as non-projected join variables (reference renames
    them to variables, preprocessing.rs:394-412)."""
    df = engine.query(PFX + """
    SELECT ?w WHERE { ?w types:hasSensor _:s . _:s otit_swt:hasTimeseries ?ts }""")
    assert rows(df) == [(CASE + "myWidget1",), (CASE + "myWidget2",)]
    star = engine.query(PFX + "SELECT * WHERE { ?w types:hasSensor _:s }")
    assert star.columns == ["w"]  # blank nodes never project


def test_union_keeps_multiset_semantics(engine):
    """SPARQL UNION is a multiset op: identical branches double the rows.
    The reference appends a unique() (combiner.rs:233-287) — a set-semantics
    bug we deliberately do NOT copy (SURVEY §2.6)."""
    df = engine.query(PFX + """
    SELECT ?a WHERE {
        { ?a otit_swt:hasTimeseries ?b } UNION { ?a otit_swt:hasTimeseries ?b }
    }""")
    got = [r["a"] for r in df.collect()]
    assert len(got) == 4  # 2 sensors x 2 branches
    assert len(set(got)) == 2


def test_reduced_deduplicates(engine):
    """REDUCED permits (does not require) dedup; we implement it as
    distinct (SURVEY §2.6 — the reference leaves it todo!())."""
    df = engine.query(PFX + """
    SELECT REDUCED ?a WHERE {
        { ?a otit_swt:hasTimeseries ?b } UNION { ?a otit_swt:hasTimeseries ?b }
    }""")
    assert len(rows(df)) == 2


def test_mixed_datatype_variable_raises(spark):
    """Reference parity: a variable binding literals of inconsistent
    datatypes is an error (OrchestrationError::InconsistentDatatype,
    hybrid/src/engine.rs:137-198). Detection is exact — the predicate
    datatype catalog sees the whole graph, not a probe window."""
    import pytest

    from otit_swt_spark.engine import Engine, InconsistentDatatype
    from otit_swt_spark.graph import GraphStore

    g = GraphStore.from_ntriples(spark, "\n".join(
        [f'<http://ex/e{i}> <http://ex/val> '
         f'"{i}.5"^^<http://www.w3.org/2001/XMLSchema#double> .'
         for i in range(5)]
        + ['<http://ex/e9> <http://ex/val> "not a number" .']))
    eng = Engine(spark, g)
    with pytest.raises(InconsistentDatatype):
        eng.query("SELECT ?v WHERE { ?e <http://ex/val> ?v }")


def test_mixed_datatype_coerces_when_not_strict(spark):
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore

    g = GraphStore.from_ntriples(spark, "\n".join(
        [f'<http://ex/e{i}> <http://ex/val> '
         f'"{i}.5"^^<http://www.w3.org/2001/XMLSchema#double> .'
         for i in range(5)]
        + ['<http://ex/e9> <http://ex/val> "not a number" .']))
    eng = Engine(spark, g, strict_types=False)
    df = eng.query("SELECT ?v WHERE { ?e <http://ex/val> ?v }")
    got = [r["v"] for r in df.collect()]
    assert df.schema["v"].dataType.simpleString() == "double"
    assert None in got and 0.5 in got  # non-parsing lexical coerced to null


def test_catalog_types_output_without_probe(engine):
    """The predicate datatype catalog supplies output types at compile
    time: once the store is warm (catalog and per-predicate relations,
    built by a first build of the plan), rebuilding a catalog-typed
    query's plan runs no Spark job (no ``__dt`` probe)."""
    q = PFX + """
    SELECT ?ts ?dt WHERE { ?s otit_swt:hasTimeseries ?ts .
                           ?ts otit_swt:hasDatatype ?dt }"""
    sc = engine.spark.sparkContext
    engine._plan_cache.pop(q, None)
    engine.query(q)
    engine._plan_cache.pop(q, None)
    group = "test-catalog-typed-plan-build"
    sc.setJobGroup(group, group)
    try:
        df = engine.query(q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 2


def test_id_overflow_reads_ids_from_the_overflowed_rows(engine, monkeypatch):
    """When the static side overflows the id cap with one distinct id per
    row, those rows already prove the id set overflows too: plan build
    runs the static-side collect only, and no second bounded distinct
    probe (``otit:chain-ids``) that could only overflow again."""
    from otit_swt_spark.sparql.compiler import Compiler

    monkeypatch.setattr(Compiler, "TS_ID_PUSHDOWN_MAX", 1)
    q = PFX + """
    SELECT ?ts_id ?v WHERE { ?ts otit_swt:hasExternalId ?ts_id .
                             ?ts otit_swt:hasDataPoint ?dp .
                             ?dp otit_swt:hasValue ?v }"""
    sc = engine.spark.sparkContext
    engine.graph.predicate_datatypes()
    engine._plan_cache.pop(q, None)
    group = "test-id-overflow-plan-build"
    sc.setJobGroup(group, group)
    try:
        df = engine.query(q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    names = {store.job(int(j)).description().get()
             for j in sc.statusTracker().getJobIdsForGroup(group)}
    assert names == {"otit:static-side"}
    engine._plan_cache.pop(q, None)
    assert df.count() == 16


def test_plan_cache_cleared_on_every_mutation(spark):
    """Prepared plans are graph- and registry-dependent: after every
    mutation (graph swap, ts table, SERVICE endpoint, named graph, SPARQL
    Update, triples added to the default or a named graph) a repeated
    query text gets a new plan, not one built against the old state."""
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore
    from otit_swt_spark.timeseries import in_memory_timeseries
    import pandas as pd

    pdf = pd.DataFrame({"timestamp": pd.to_datetime(["2022-01-01"]),
                        "value": [1.0]})
    added = GraphStore.from_sparql_insert(
        spark, 'INSERT DATA { <http://ex/b> <http://ex/p> "y" }').df
    eng = Engine(spark, GraphStore(spark))
    mutations = {
        "set_graph": lambda: eng.set_graph(GraphStore(spark)),
        "add_timeseries_table": lambda: eng.add_timeseries_table(
            in_memory_timeseries(spark, {"t": pdf})),
        "register_service": lambda: eng.register_service(
            "http://ex/svc", GraphStore(spark)),
        "register_named_graph": lambda: eng.register_named_graph(
            "http://ex/g", GraphStore(spark)),
        "update": lambda: eng.update(
            'INSERT DATA { <http://ex/a> <http://ex/p> "x" }'),
        "add_triples_df": lambda: eng.graph.add_triples_df(added),
        "named add_triples_df": lambda: eng.named_graphs[
            "http://ex/g"].add_triples_df(added),
    }
    q = "SELECT ?s WHERE { ?s <http://ex/p> ?o }"
    for name, mutate in mutations.items():
        plan = eng.query(q)
        assert eng.query(q) is plan, name
        mutate()
        assert eng.query(q) is not plan, name
    assert sorted(r["s"] for r in eng.query(q).collect()) == [
        "http://ex/a", "http://ex/b"]


def test_plan_cache_keeps_most_recent_plans(spark, monkeypatch):
    """The plan cache holds at most PLAN_CACHE_MAX plans and evicts the
    least recently used one; a cache hit counts as a use."""
    from otit_swt_spark import engine as engine_mod
    from otit_swt_spark.graph import GraphStore

    monkeypatch.setattr(engine_mod, "PLAN_CACHE_MAX", 2)
    eng = engine_mod.Engine(spark, GraphStore(spark))
    a, b, c = (f"SELECT ?s WHERE {{ ?s <http://ex/{p}> ?o }}"
               for p in "abc")
    plan_a = eng.query(a)
    eng.query(b)
    assert eng.query(a) is plan_a
    eng.query(c)
    assert list(eng._plan_cache) == [a, c]


def test_regex_flags(engine):
    df = engine.query(PFX + """
    SELECT ?id WHERE { ?ts otit_swt:hasExternalId ?id
                       FILTER(REGEX(?id, "^TS1$", "i")) }""")
    assert rows(df) == [("ts1",)]
    df2 = engine.query(PFX + """
    SELECT ?r WHERE { ?ts otit_swt:hasExternalId ?id .
                      BIND(REPLACE(?id, "^TS", "x", "i") AS ?r) }""")
    assert rows(df2) == [("x1",), ("x2",)]


def test_regex_unsupported_flags_raise(engine):
    import pytest

    with pytest.raises(NotImplementedError):
        engine.query(PFX + """
        SELECT ?id WHERE { ?ts otit_swt:hasExternalId ?id
                           FILTER(REGEX(?id, "ts", "q")) }""").collect()


def test_string_escape_backslash_then_n(engine):
    """'a\\\\nb' in a SPARQL literal is backslash + 'n', not a newline —
    single-pass unescaping (ADVICE: parser divergence from graph.py)."""
    df = engine.query(r'''
    SELECT ?x WHERE { VALUES ?x { "a\\nb" } }''')
    assert [r["x"] for r in df.collect()] == ["a\\nb"]


def test_minus_partially_unbound_compatibility(engine):
    """SPARQL MINUS removes a left row when a right row agrees on the
    commonly-BOUND shared vars (unbound vars don't block compatibility).
    myWidget2 has no hasSomething, so ?x is unbound on both sides; the
    bound ?w matches -> the row must be removed (a plain equi anti join on
    (w, x) would wrongly keep it)."""
    df = engine.query(PFX + """
    SELECT ?w ?x WHERE {
        ?w types:hasSensor ?s .
        OPTIONAL { ?w types:hasSomething ?x }
        MINUS { ?w a types:SmallWidget .
                OPTIONAL { ?w types:hasSomething ?x } }
    }""")
    assert rows(df) == [("http://example.org/case#myWidget1",
                         "http://example.org/case#mySomething1")]


def test_negated_property_set(engine):
    """!(p1|p2|...) matches edges via any predicate NOT listed; ^iri inside
    the set negates the inverse direction (SPARQL 1.1 §9.1)."""
    df = engine.query(PFX + """
    SELECT ?s ?o WHERE {
        ?s !(types:hasSensor|otit_swt:hasTimeseries|otit_swt:hasExternalId|otit_swt:hasDatatype) ?o
    }""")
    assert rows(df) == [
        (CASE + "myWidget1", CASE + "mySomething1"),
        (CASE + "myWidget1", "http://example.org/types#BigWidget"),
        (CASE + "myWidget2", "http://example.org/types#SmallWidget"),
    ]
    # bare !iri form, restricted by another pattern
    df2 = engine.query(PFX + """
    SELECT ?o WHERE { ?s !types:hasSensor ?o . ?s a types:BigWidget }""")
    assert rows(df2) == [(CASE + "mySomething1",),
                         ("http://example.org/types#BigWidget",)]
    # inverse-only set: backward edges via any predicate not listed
    df3 = engine.query(PFX + """
    SELECT ?s WHERE { ?s !(^otit_swt:hasTimeseries) ?o }""")
    # every object->subject reversal except hasTimeseries edges
    assert len(rows(df3)) == 9


SERVICE_GRAPH = """
<http://example.org/case#mySensor1> <http://ex/madeBy> "Acme" .
<http://example.org/case#mySensor2> <http://ex/madeBy> "Globex" .
"""


def test_service_joins_second_store(spark, engine):
    """SERVICE <iri> {..} evaluates against a second registered GraphStore
    and joins in the same Catalyst plan (in-process federation; reference
    rewrites SERVICE to the static side, service_pattern.rs)."""
    from otit_swt_spark.graph import GraphStore

    engine.register_service("http://ex/vendors",
                            GraphStore.from_ntriples(spark, SERVICE_GRAPH))
    df = engine.query(PFX + """
    SELECT ?w ?maker WHERE {
        ?w types:hasSensor ?s .
        SERVICE <http://ex/vendors> { ?s <http://ex/madeBy> ?maker }
    }""")
    assert rows(df) == [(CASE + "myWidget1", "Acme"),
                        (CASE + "myWidget2", "Globex")]


def test_service_unregistered_non_http_raises_clear_error(engine):
    import pytest

    with pytest.raises(ValueError, match="not registered"):
        engine.query(PFX + """
        SELECT ?x WHERE { SERVICE <urn:nowhere> { ?x <http://ex/p> ?o } }""")


def test_service_remote_http_dispatch(spark):
    """SERVICE <http://...> against an UNREGISTERED endpoint pushes the
    braced group verbatim as a generated sub-SELECT through the injectable
    poster and joins the returned bindings with local solutions."""
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore
    from tests.conftest import TESTDATA_SPARQL

    sent = []

    def http_post(url, query):
        sent.append((url, query))
        return {"head": {"vars": ["s", "maker"]},
                "results": {"bindings": [
                    {"s": {"type": "uri",
                           "value": "http://example.org/case#mySensor1"},
                     "maker": {"type": "literal", "value": "Acme"}},
                    {"s": {"type": "uri",
                           "value": "http://example.org/case#mySensor2"},
                     "maker": {"type": "literal", "value": "Globex",
                               "xml:lang": "en"}},
                ]}}

    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL),
                 http_post=http_post)
    df = eng.query(PFX + """
    SELECT ?w ?maker WHERE {
        ?w types:hasSensor ?s .
        SERVICE <http://remote.example/sparql> {
            ?s <http://ex/madeBy> ?maker FILTER(?maker != "nobody")
        }
    }""")
    assert rows(df) == [(CASE + "myWidget1", "Acme"),
                        (CASE + "myWidget2", "Globex")]
    (url, q), = sent
    assert url == "http://remote.example/sparql"
    # the group travels verbatim (filter included) inside a sub-SELECT,
    # with the in-scope prefixes re-declared
    assert q.lstrip().startswith("PREFIX")
    assert "SELECT * WHERE {" in q
    assert 'FILTER(?maker != "nobody")' in q


def test_service_remote_bound_join_pushes_values(spark):
    """When the outer pattern binds a variable the service group uses, the
    outer DISTINCT bindings travel to the endpoint as a VALUES block (bound
    join), so the remote evaluates the group only for joinable rows."""
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore
    from tests.conftest import TESTDATA_SPARQL

    sent = []

    def http_post(url, query):
        sent.append(query)
        return {"head": {"vars": ["s", "maker"]},
                "results": {"bindings": [
                    {"s": {"type": "uri",
                           "value": "http://example.org/case#mySensor1"},
                     "maker": {"type": "literal", "value": "Acme"}},
                ]}}

    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL),
                 http_post=http_post)
    df = eng.query(PFX + """
    SELECT ?w ?maker WHERE {
        ?w types:hasSensor ?s .
        SERVICE <http://remote.example/sparql> {
            ?s <http://ex/madeBy> ?maker
        }
    }""")
    assert rows(df) == [(CASE + "myWidget1", "Acme")]
    (q,) = sent
    # the outer ?s bindings (sensor IRIs) were pushed as VALUES
    assert "VALUES (?s)" in q
    assert "<http://example.org/case#mySensor1>" in q
    assert "<http://example.org/case#mySensor2>" in q
    # and the group still travels verbatim after the VALUES block
    assert "<http://ex/madeBy>" in q


def test_service_remote_bound_join_cap_falls_back(spark):
    """Past SERVICE_BOUND_JOIN_MAX distinct bindings the VALUES block is
    omitted (unconstrained pull; the local join still filters)."""
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore
    from otit_swt_spark.sparql.compiler import Compiler
    from tests.conftest import TESTDATA_SPARQL

    sent = []

    def http_post(url, query):
        sent.append(query)
        return {"head": {"vars": ["s", "maker"]},
                "results": {"bindings": []}}

    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL),
                 http_post=http_post)
    old = Compiler.SERVICE_BOUND_JOIN_MAX
    Compiler.SERVICE_BOUND_JOIN_MAX = 1  # two sensors bound outside > cap
    try:
        df = eng.query(PFX + """
        SELECT ?w ?maker WHERE {
            ?w types:hasSensor ?s .
            SERVICE <http://remote.example/sparql> {
                ?s <http://ex/madeBy> ?maker
            }
        }""")
        assert rows(df) == []
    finally:
        Compiler.SERVICE_BOUND_JOIN_MAX = old
    (q,) = sent
    assert "VALUES" not in q


def test_service_remote_http_silent_degrades(spark):
    """SILENT + a poster that raises degrades to the identity solution."""
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore
    from tests.conftest import TESTDATA_SPARQL

    def http_post(url, query):
        raise OSError("endpoint down")

    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL),
                 http_post=http_post)
    df = eng.query(PFX + """
    SELECT ?w WHERE {
        ?w types:hasSensor ?s .
        SERVICE SILENT <http://remote.example/sparql> { ?s <http://ex/madeBy> ?m }
    }""")
    assert rows(df) == [(CASE + "myWidget1",), (CASE + "myWidget2",)]

    import pytest
    with pytest.raises(OSError):
        eng.query(PFX + """
        SELECT ?w WHERE {
            ?w types:hasSensor ?s .
            SERVICE <http://remote.example/sparql> { ?s <http://ex/madeBy> ?m }
        }""")


def test_service_silent_degrades_to_identity(engine):
    df = engine.query(PFX + """
    SELECT ?w WHERE {
        ?w types:hasSensor ?s .
        SERVICE SILENT <http://nowhere/sparql> { ?s <http://ex/madeBy> ?m }
    }""")
    assert rows(df) == [(CASE + "myWidget1",), (CASE + "myWidget2",)]


def test_from_endpoint_paged_pull(spark):
    """GraphStore.from_endpoint pages SELECT ?s ?p ?o over a (mocked) HTTP
    endpoint and rebuilds the triples DataFrame, including typed literals,
    language tags and bnodes."""
    from otit_swt_spark.graph import GraphStore

    def fake_sol(i):
        if i % 3 == 0:
            o = {"type": "uri", "value": f"http://ex/o{i}"}
        elif i % 3 == 1:
            o = {"type": "literal", "value": str(i),
                 "datatype": "http://www.w3.org/2001/XMLSchema#integer"}
        else:
            o = {"type": "literal", "value": f"hi{i}", "xml:lang": "en"}
        return {"s": {"type": "uri", "value": f"http://ex/s{i}"},
                "p": {"type": "uri", "value": "http://ex/p"},
                "o": o}

    calls = []

    def http_post(url, query):
        calls.append(query)
        import re
        off = int(re.search(r"OFFSET (\d+)", query).group(1))
        sols = [fake_sol(i) for i in range(off, min(off + 2, 5))]
        return {"head": {"vars": ["s", "p", "o"]},
                "results": {"bindings": sols}}

    g = GraphStore.from_endpoint(spark, "http://ex/sparql", page_size=2,
                                 http_post=http_post, distributed=False)
    assert len(calls) == 3  # 2 + 2 + 1 rows
    got = {tuple(r) for r in g.df.collect()}
    assert ("http://ex/s0", "http://ex/p", "http://ex/o0", None, None, None) in got
    assert ("http://ex/s1", "http://ex/p", None, "1",
            "http://www.w3.org/2001/XMLSchema#integer", None) in got
    assert ("http://ex/s2", "http://ex/p", None, "hi2",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en") in got
    assert g.df.count() == 5


def test_variable_predicate_patterns(engine):
    """?s ?p ?o — the most basic SPARQL scan; variable predicates are plain
    triple patterns, not property paths."""
    df = engine.query("SELECT ?p WHERE { <http://example.org/case#myWidget1> ?p ?o }")
    preds = sorted(r["p"] for r in df.collect())
    assert preds == ["http://example.org/types#hasSensor",
                     "http://example.org/types#hasSomething",
                     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"]
    allt = engine.query("SELECT * WHERE { ?s ?p ?o }")
    assert allt.count() == 11  # 11 triples in the test KG
    assert set(allt.columns) == {"s", "p", "o"}


def test_string_builtins_round2(engine):
    df = engine.query(PFX + """
    SELECT ?id ?before ?after ?enc ?h WHERE {
        ?ts otit_swt:hasExternalId ?id .
        BIND(STRBEFORE(?id, "s") AS ?before)
        BIND(STRAFTER(?id, "t") AS ?after)
        BIND(ENCODE_FOR_URI(CONCAT(?id, " x~")) AS ?enc)
        BIND(MD5(?id) AS ?h)
    }""")
    got = {r["id"]: (r["before"], r["after"], r["enc"], r["h"])
           for r in df.collect()}
    import hashlib
    assert got["ts1"][0] == "t"
    assert got["ts1"][1] == "s1"
    assert got["ts1"][2] == "ts1%20x~"
    assert got["ts1"][3] == hashlib.md5(b"ts1").hexdigest()
    # STRBEFORE/STRAFTER with absent needle -> ""
    df2 = engine.query(PFX + """
    SELECT ?b WHERE { ?ts otit_swt:hasExternalId ?id .
                      BIND(STRBEFORE(?id, "zzz") AS ?b) }""")
    assert all(r["b"] == "" for r in df2.collect())


def test_term_category_tests(engine):
    df = engine.query(PFX + """
    SELECT ?x ?isi ?isl ?isn WHERE {
        { ?s otit_swt:hasTimeseries ?x } UNION { ?s otit_swt:hasExternalId ?x }
        BIND(ISIRI(?x) AS ?isi)
        BIND(ISLITERAL(?x) AS ?isl)
        BIND(ISNUMERIC(?x) AS ?isn)
    }""")
    got = {r["x"]: (r["isi"], r["isl"], r["isn"]) for r in df.collect()}
    assert got[CASE + "myTimeseries1"] == (True, False, False)
    assert got["ts1"] == (False, True, False)


def test_uuid_strdt_langmatches(engine):
    df = engine.query(PFX + """
    SELECT ?u ?su ?d ?lm WHERE {
        ?ts otit_swt:hasExternalId ?id .
        BIND(UUID() AS ?u)
        BIND(STRUUID() AS ?su)
        BIND(STRDT("42", xsd:integer) AS ?d)
        BIND(LANGMATCHES("en-GB", "en") AS ?lm)
    }""")
    rows_ = df.collect()
    assert all(r["u"].startswith("urn:uuid:") for r in rows_)
    assert all(len(r["su"]) == 36 for r in rows_)
    assert all(r["d"] == 42 for r in rows_)
    assert all(r["lm"] is True for r in rows_)


def test_inverse_and_sequence_inside_kleene(spark):
    """Path operators compose inside +: (^p)+ is the reversed closure of
    p+, and (p/p)+ reaches only even-distance nodes."""
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore

    g = GraphStore.from_sparql_insert(spark, """
    PREFIX ex: <http://example.org/>
    INSERT DATA { ex:a ex:next ex:b . ex:b ex:next ex:c . ex:c ex:next ex:d . }""")
    eng = Engine(spark, g)
    fwd = {(r.x, r.y) for r in eng.query(
        "SELECT ?x ?y WHERE { ?x <http://example.org/next>+ ?y }").collect()}
    inv = {(r.x, r.y) for r in eng.query(
        "SELECT ?x ?y WHERE { ?x (^<http://example.org/next>)+ ?y }").collect()}
    seq = {(r.x, r.y) for r in eng.query(
        "SELECT ?x ?y WHERE { ?x (<http://example.org/next>/<http://example.org/next>)+ ?y }").collect()}
    assert len(fwd) == 6  # full transitive closure of a 4-chain
    assert inv == {(y, x) for x, y in fwd}
    assert seq == {("http://example.org/a", "http://example.org/c"),
                   ("http://example.org/b", "http://example.org/d")}


def test_from_endpoint_distributed_pull(spark, tmp_path):
    """Default from_endpoint: one driver COUNT, then offset pages fetched by
    parallel executor tasks (poster runs in worker processes — tracked via
    marker files, not driver closures), landing the same triples as the
    sequential path without driver materialization."""
    import os
    from otit_swt_spark.graph import GraphStore

    marks = str(tmp_path / "calls")
    os.makedirs(marks, exist_ok=True)

    def http_post(url, query, _marks=marks):
        import os as _os
        import re as _re
        if "COUNT" in query:
            open(_os.path.join(_marks, "count"), "w").close()
            return {"results": {"bindings": [{"n": {"type": "literal",
                                                    "value": "7"}}]}}
        off = int(_re.search(r"OFFSET (\d+)", query).group(1))
        open(_os.path.join(_marks, f"page{off}"), "w").close()
        sols = [{"s": {"type": "uri", "value": f"http://ex/s{i}"},
                 "p": {"type": "uri", "value": "http://ex/p"},
                 "o": {"type": "literal", "value": str(i),
                       "datatype": "http://www.w3.org/2001/XMLSchema#integer"}}
                for i in range(off, min(off + 2, 7))]
        return {"head": {"vars": ["s", "p", "o"]},
                "results": {"bindings": sols}}

    g = GraphStore.from_endpoint(spark, "http://ex/sparql", page_size=2,
                                 http_post=http_post)
    assert g.df.rdd.getNumPartitions() > 1  # parallel fetch tasks
    assert g.df.count() == 7
    got = sorted(r["o_lex"] for r in g.df.collect())
    assert got == [str(i) for i in range(7)]
    names = set(os.listdir(marks))
    # driver did only the count; the 4 pages were fetched by tasks
    assert names == {"count", "page0", "page2", "page4", "page6"}


def test_timezone_builtin(spark):
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore

    g = GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:a> <urn:p>
            "2024-01-05T10:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> . }
    """)
    row = Engine(spark, g).query(
        "SELECT (TIMEZONE(?v) AS ?tzd) (TZ(?v) AS ?tz) "
        "WHERE { <urn:a> <urn:p> ?v }").collect()[0]
    # storage is UTC-normalized: every stored timestamp's zone is PT0S;
    # TZ stays "" (zoneless lexical form)
    assert row.tzd == "PT0S" and row.tz == ""


def test_engine_from_endpoint_constructor(spark):
    """Engine.from_endpoint binds a remote store as the default graph (the
    reference's Engine::new(endpoint) workflow) — query results come from
    the pulled triples."""
    from otit_swt_spark.engine import Engine

    def http_post(url, query):
        import re
        if "COUNT" in query:
            return {"head": {"vars": ["n"]}, "results": {"bindings": [
                {"n": {"type": "literal", "value": "1",
                       "datatype": "http://www.w3.org/2001/XMLSchema#integer"}}]}}
        off = int(re.search(r"OFFSET (\d+)", query).group(1))
        sols = ([{"s": {"type": "uri", "value": "http://ex/a"},
                  "p": {"type": "uri", "value": "http://ex/knows"},
                  "o": {"type": "uri", "value": "http://ex/b"}}]
                if off == 0 else [])
        return {"head": {"vars": ["s", "p", "o"]},
                "results": {"bindings": sols}}

    eng = Engine.from_endpoint(spark, "http://ex/sparql",
                               http_post=http_post)
    rows = eng.query(
        "SELECT ?x WHERE { ?x <http://ex/knows> <http://ex/b> }").collect()
    assert [r.x for r in rows] == ["http://ex/a"]
