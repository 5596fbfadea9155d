"""Per-predicate relations (GraphStore.vp): a predicate within
VP_INLINE_MAX_ROWS triples is read from its own driver-built LocalRelation,
a larger one from a filter over the triples frame; the relations follow
every graph mutation and every GRAPH / SERVICE store."""

import pytest

from otit_swt_spark.engine import Engine
from otit_swt_spark.graph import GraphStore

Q = "SELECT ?s ?o WHERE { ?s <urn:p> ?o }"
Q2 = "SELECT ?s ?o WHERE { ?s <urn:p> ?o . ?s <urn:q> ?t }"


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def inlined(df) -> bool:
    """Every leaf is a LocalRelation: no scan of the triples frame."""
    plan = optimized(df)
    return "LocalRelation" in plan and "Relation " not in plan.replace(
        "LocalRelation", "")


def answers(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def kg_path(spark, tmp_path):
    path = str(tmp_path / "kg")
    GraphStore.from_ntriples(spark, """
        <urn:a> <urn:p> <urn:x> .
        <urn:b> <urn:p> "lit" .
        <urn:c> <urn:p> "urn:x" .
        <urn:a> <urn:q> <urn:c> .
    """).write_parquet(path)
    return path


@pytest.fixture()
def parquet_store(spark, kg_path):
    return GraphStore.read_parquet(spark, kg_path)


def test_small_predicate_compiles_to_local_relation(spark, kg_path,
                                                    monkeypatch):
    """A small predicate's pattern reads a LocalRelation, not the parquet
    scan, and answers exactly what the scan path (cap 0) answers."""
    store = GraphStore.read_parquet(spark, kg_path)
    df = Engine(spark, store).query(Q2)
    assert inlined(df)
    got = answers(df)
    assert got == [("urn:a", "urn:x")]
    full = answers(Engine(spark, store).query(Q))
    assert len(full) == 3

    monkeypatch.setattr("otit_swt_spark.graph.VP_INLINE_MAX_ROWS", 0)
    cold = GraphStore.read_parquet(spark, kg_path)
    scan = Engine(spark, cold).query(Q2)
    assert not inlined(scan)
    assert answers(scan) == got
    assert answers(Engine(spark, cold).query(Q)) == full


def test_relation_is_built_once_per_store(spark, parquet_store):
    """The relation is memoized on the store: a second engine over the same
    store builds its plan without a Spark job."""
    Engine(spark, parquet_store).query(Q)
    sc = spark.sparkContext
    group = "test-vp-memoized"
    sc.setJobGroup(group, group)
    try:
        df = Engine(spark, parquet_store).query(Q)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert inlined(df)


def test_update_reaches_inlined_predicate(spark, parquet_store):
    """INSERT DATA and DELETE DATA through Engine.update() are seen by the
    next query, which still reads an inlined relation."""
    eng = Engine(spark, parquet_store)
    assert len(answers(eng.query(Q))) == 3
    eng.update("INSERT DATA { <urn:d> <urn:p> <urn:y> }")
    df = eng.query(Q)
    assert inlined(df)
    assert ("urn:d", "urn:y") in answers(df)
    eng.update("DELETE DATA { <urn:a> <urn:p> <urn:x> . "
               "<urn:d> <urn:p> <urn:y> }")
    df = eng.query(Q)
    assert inlined(df)
    assert [r[0] for r in answers(df)] == ["urn:b", "urn:c"]


def test_add_triples_drops_only_touched_predicates(spark, parquet_store):
    """add_triples_df rebuilds the relation of a predicate it adds to, keeps
    the others, and the next query sees the added triple."""
    eng = Engine(spark, parquet_store)
    eng.query(Q2).collect()
    p_rel, q_rel = parquet_store.vp("urn:p"), parquet_store.vp("urn:q")
    parquet_store.add_triples_df(GraphStore.from_ntriples(
        spark, "<urn:e> <urn:p> <urn:z> .").df)
    assert parquet_store.vp("urn:q") is q_rel
    assert parquet_store.vp("urn:p") is not p_rel
    df = eng.set_graph(parquet_store).query(Q)
    assert inlined(df)
    assert ("urn:e", "urn:z") in answers(df)


def test_assigning_df_drops_every_relation(spark, parquet_store):
    rel = parquet_store.vp("urn:p")
    parquet_store.df = parquet_store.df.filter("s != 'urn:a'")
    assert parquet_store.vp("urn:p") is not rel
    assert len(answers(Engine(spark, parquet_store).query(Q))) == 2


def test_graph_and_service_read_their_own_store(spark):
    """GRAPH and SERVICE patterns read the relation of their own store,
    never the default graph's, and FROM over several graphs filters their
    union without building any relation."""
    def store(subject):
        return GraphStore.from_ntriples(
            spark, f"<{subject}> <urn:p> <urn:o> .")

    default, named, other, svc = (store(s) for s in (
        "urn:default", "urn:named", "urn:other", "urn:svc"))
    eng = Engine(spark, default)
    eng.register_named_graph("urn:g:named", named)
    eng.register_named_graph("urn:g:other", other)
    eng.register_service("urn:svc", svc)

    def subjects(text):
        df = eng.query(text)
        return inlined(df), [r[0] for r in answers(df)]

    assert subjects(Q) == (True, ["urn:default"])
    assert subjects("SELECT ?s WHERE { GRAPH <urn:g:named> "
                    "{ ?s <urn:p> ?o } }") == (True, ["urn:named"])
    assert subjects("SELECT ?s WHERE { SERVICE <urn:svc> "
                    "{ ?s <urn:p> ?o } }") == (True, ["urn:svc"])
    assert "urn:p" in named._vp and "urn:p" in svc._vp
    assert not other._vp
    got = answers(eng.query("SELECT ?s FROM <urn:g:named> FROM <urn:g:other> "
                            "WHERE { ?s <urn:p> ?o }"))
    assert got == [("urn:named",), ("urn:other",)]
    assert not other._vp
