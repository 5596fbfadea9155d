"""Plan-shape assertions — the Spark analog of the reference's
rewrite-assertion tests (hybrid/tests/rewrites.rs): instead of asserting a
rewritten SPARQL string, assert the physical/optimized plan has the shape
the operator mapping promises (semi/anti joins, pruned scans, partition
filters on the predicate-partitioned triple store)."""

import re

import pytest
from pyspark.sql import functions as F

from otit_swt_spark.engine import Engine
from otit_swt_spark.graph import GraphStore

PREFIXES = """
PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
PREFIX types:<http://example.org/types#>
"""


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_exists_compiles_to_semi_join(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w WHERE {
        ?w types:hasSensor ?s .
        FILTER EXISTS { ?w a types:BigWidget }
    }""")
    assert "LeftSemi" in optimized(df)


def test_not_exists_compiles_to_anti_join(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w WHERE {
        ?w types:hasSensor ?s .
        FILTER NOT EXISTS { ?w a types:BigWidget }
    }""")
    assert "LeftAnti" in optimized(df)


def test_minus_compiles_to_anti_join(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w WHERE {
        ?w types:hasSensor ?s .
        MINUS { ?w a types:SmallWidget . }
    }""")
    assert "LeftAnti" in optimized(df)


def test_optional_simple_compiles_to_left_outer(engine):
    """A filter-free OPTIONAL takes the left_outer fast path: one join on
    the shared variables, left subtree evaluated once."""
    df = engine.query(PREFIXES + """
    SELECT ?w ?x WHERE {
        ?w types:hasSensor ?s .
        OPTIONAL { ?w types:hasSomething ?x }
    }""")
    assert "LeftOuter" in optimized(df)


def test_optional_with_filter_compiles_to_conditional_left_outer(spark):
    """OPTIONAL{.. FILTER(e)} folds the filter into the outer-join
    condition (LeftJoin(Ω1,Ω2,e) ≡ LEFT OUTER JOIN ON compat AND e): one
    join, left subtree evaluated once, no row-id window, no Union — the
    shape that survives a fact-scale left side. The general matched∪anti
    form remains only for correlated right sides / EXISTS filters."""
    from tests.conftest import TESTDATA_SPARQL

    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))
    df = eng.query(PREFIXES + """
    SELECT ?w ?x WHERE {
        ?w types:hasSensor ?s .
        OPTIONAL { ?w types:hasSomething ?x
                   FILTER(STRSTARTS(STR(?x), "http")) }
    }""")
    plan = optimized(df)
    assert "LeftOuter" in plan
    assert "Union" not in plan
    assert "InMemoryRelation" not in plan
    assert "window" not in plan.lower()
    got = {tuple(r) for r in df.collect()}
    assert got == {("http://example.org/case#myWidget1",
                    "http://example.org/case#mySomething1"),
                   ("http://example.org/case#myWidget2", None)}


def test_predicate_partitioned_store_prunes(spark, engine, tmp_path,
                                            monkeypatch):
    """Write the KG predicate-partitioned, reload, and check a BGP scan
    only reads the matching predicate partitions (PartitionFilters) —
    the triple-store scale path: per-predicate vertical partitioning.
    The cap is 0 so the predicate is read as a scan, not inlined."""
    monkeypatch.setattr("otit_swt_spark.graph.VP_INLINE_MAX_ROWS", 0)
    path = str(tmp_path / "kg_by_p")
    engine.graph.write_parquet(path, partition_by_predicate=True)
    g2 = GraphStore.read_parquet(spark, path)
    eng2 = Engine(spark, g2)
    df = eng2.query(PREFIXES + "SELECT ?a ?b WHERE { ?a types:hasSensor ?b }")
    plan = physical(df)
    assert "PartitionFilters" in plan
    assert "hasSensor" in plan
    got = {tuple(r) for r in df.collect()}
    assert len(got) == 2


def test_filter_pushdown_reaches_scan(spark):
    """Timestamp predicates on a parquet-backed TS table reach the scan
    (PushedFilters), the Spark-native form of the reference's
    ValueConditions pushdown."""
    from otit_swt_spark.tpch_graph import build_engine

    eng = build_engine(spark, "/root/testdata/sf0.001")
    df = eng.query(PREFIXES + """
    SELECT ?v WHERE {
        ?u otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?v > 50.0)
    }""")
    plan = physical(df)
    assert "PushedFilters: [" in plan and "GreaterThan(value,50.0)" in plan


def test_streaming_sink_partition_pruning(spark, tmp_path):
    """Timestamp-derived predicates on the streaming sink's year/month/day
    layout become PartitionFilters — the streaming analog of the
    reference's partitioning_support rewrite."""
    import pandas as pd
    from otit_swt_spark.streaming import (
        read_timeseries_stream, to_timeseries_sink, windowed_downsample)

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    ts = pd.date_range("2024-01-01", periods=600, freq="10min")  # ~4 days
    spark.createDataFrame(pd.DataFrame({
        "id": ["s"] * 600, "timestamp": ts,
        "value": [1.0] * 600})).coalesce(1).write.parquet(src)
    q = to_timeseries_sink(
        windowed_downsample(read_timeseries_stream(spark, src),
                            interval="1 hour", watermark="1 minute"),
        sink, ckpt, available_now=True)
    q.awaitTermination(120)

    out = spark.read.parquet(sink).filter(
        (F.col("year") == 2024) & (F.col("month") == 1) & (F.col("day") == 2))
    plan = physical(out)
    assert "PartitionFilters" in plan and "day" in plan
    assert out.count() == 24  # one closed 1h window per hour of Jan 2


def test_optional_filter_fail_null_pads(spark):
    """A right match that fails the OPTIONAL filter null-pads rather than
    dropping the left row (Diff semantics, SPARQL 1.1 §15.3)."""
    from tests.conftest import TESTDATA_SPARQL

    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))
    df = eng.query(PREFIXES + """
    SELECT ?w ?x WHERE {
        ?w types:hasSensor ?s .
        OPTIONAL { ?w types:hasSomething ?x
                   FILTER(STRSTARTS(STR(?x), "zzz")) }
    }""")
    got = {tuple(r) for r in df.collect()}
    assert got == {("http://example.org/case#myWidget1", None),
                   ("http://example.org/case#myWidget2", None)}


def test_optional_filter_on_left_variable(spark):
    """The OPTIONAL filter may reference left-side variables: the join
    condition spans both scopes (reference threads the left solution
    through, combiner.rs:106-127)."""
    from tests.conftest import TESTDATA_SPARQL

    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))
    df = eng.query(PREFIXES + """
    SELECT ?w ?x WHERE {
        ?w types:hasSensor ?s .
        OPTIONAL { ?w types:hasSomething ?x
                   FILTER(?s = <http://example.org/case#mySensor1>) }
    }""")
    got = {tuple(r) for r in df.collect()}
    assert got == {("http://example.org/case#myWidget1",
                    "http://example.org/case#mySomething1"),
                   ("http://example.org/case#myWidget2", None)}


def test_hybrid_restriction_reaches_parquet_scan(spark, tmp_path):
    """A parquet-backed TimeSeriesTable restricts itself: the static
    side's external ids reach the scan as an IN filter and the FILTER's
    strict bounds as inclusive ones, next to the FILTER's own strict
    comparisons. The series the graph does not know (ts3) is pruned at
    the scan."""
    import pandas as pd

    from otit_swt_spark.timeseries import TimeSeriesTable
    from tests.conftest import TESTDATA_SPARQL, rows

    stamps = pd.date_range("2022-06-01 08:46:52", periods=8, freq="s")
    pdf = pd.concat([pd.DataFrame({"id": k, "timestamp": stamps,
                                   "value": [float(i) for i in range(8)]})
                     for k in ("ts1", "ts2", "ts3")])
    path = str(tmp_path / "ts_flat")
    spark.createDataFrame(pdf).write.parquet(path)
    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))
    eng.add_timeseries_table(TimeSeriesTable(path=path))
    df = eng.query(PREFIXES + "SELECT ?ts_id ?v WHERE {" + HYBRID_BGP + """
        FILTER(?t > "2022-06-01T08:46:54"^^xsd:dateTime
               && ?t < "2022-06-01T08:46:57"^^xsd:dateTime) }""")
    # the default metadata length (100) truncates the scan's filter list
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        plan = physical(df)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    scan = next(line for line in plan.splitlines() if "In(id, " in line)
    pushed = scan[scan.index("PushedFilters: ["):]
    assert "In(id, [ts1,ts2])" in pushed
    assert "GreaterThanOrEqual(timestamp,2022-06-01 08:46:54.0)" in pushed
    assert "LessThanOrEqual(timestamp,2022-06-01 08:46:57.0)" in pushed
    assert rows(df) == [("ts1", 3.0), ("ts1", 4.0),
                        ("ts2", 3.0), ("ts2", 4.0)]


def _write_eight_days(spark, path: str) -> str:
    """Series ts1 over Dec 30 2023 – Jan 6 2024, one point a day valued
    0.0–7.0, as parquet partitioned by year/month/day."""
    import pandas as pd

    ts = pd.date_range("2023-12-30", periods=8, freq="D")
    pdf = pd.DataFrame({
        "id": ["ts1"] * 8, "timestamp": ts, "value": [float(i) for i in range(8)],
        "year": ts.year, "month": ts.month, "day": ts.day,
    })
    (spark.createDataFrame(pdf).write.partitionBy("year", "month", "day")
     .parquet(path))
    return path


@pytest.mark.parametrize("where, want", [
    ("""?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?t >= "2024-01-02T00:00:00"^^xsd:dateTime &&
               ?t < "2024-01-05T00:00:00"^^xsd:dateTime)""",
     [3.0, 4.0, 5.0]),  # Jan 2, 3, 4
    ("""?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp "2024-01-03T00:00:00"^^xsd:dateTime .
        ?dp otit_swt:hasValue ?v .""",
     [4.0]),  # Jan 3
    ("""OPTIONAL { ?ts otit_swt:hasDataPoint ?dp .
                   ?dp otit_swt:hasTimestamp ?t .
                   ?dp otit_swt:hasValue ?v
                   FILTER(?t >= "2024-01-04T00:00:00"^^xsd:dateTime) }""",
     [5.0, 6.0, 7.0]),  # Jan 4, 5, 6
], ids=["filter", "literal", "optional"])
def test_sparql_timestamp_filter_prunes_date_partitions(spark, tmp_path,
                                                        where, want):
    """A timestamp bound on the data point — a FILTER, a literal
    hasTimestamp or an OPTIONAL's condition — over a year/month/day-
    partitioned TS table becomes predicates on its partition columns
    (TimeSeriesTable._prune_date_partitions — partitioning_support.rs
    parity) that Catalyst turns into PartitionFilters on the scan."""
    from otit_swt_spark.timeseries import TimeSeriesTable
    from tests.conftest import TESTDATA_SPARQL

    path = _write_eight_days(spark, str(tmp_path / "ts_part"))
    table = TimeSeriesTable(path=path, year_column="year",
                            month_column="month", day_column="day")
    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))
    eng.add_timeseries_table(table)
    df = eng.query(PREFIXES + """
    SELECT ?t ?v WHERE {
        ?ts otit_swt:hasExternalId "ts1" .
        """ + where + """
    }""")
    plan = physical(df)
    seg = plan[plan.index("PartitionFilters"):][:600]
    assert "year" in seg  # derived bounds reached the partitioned scan
    got = sorted(r["v"] for r in df.collect())
    assert got == want


def _partition_filters(spark, df) -> str:
    """The PartitionFilters list of the plan's one partitioned scan."""
    # the default metadata length (100) truncates the scan's filter list
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = physical(df)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    seg = plan[plan.index("PartitionFilters: ["):]
    return seg[:seg.index("], PushedFilters")]


@pytest.mark.parametrize("declared", [("year",), ("year", "month")])
def test_partial_date_partition_declaration_prunes_its_prefix(
        spark, tmp_path, declared):
    """A table that declares only a prefix of (year, month, day) prunes on
    that prefix alone and answers like the full declaration."""
    from otit_swt_spark.timeseries import TimeSeriesTable
    from tests.conftest import TESTDATA_SPARQL

    path = _write_eight_days(spark, str(tmp_path / "ts_part_prefix"))
    q = PREFIXES + """
    SELECT ?v WHERE {
        ?ts otit_swt:hasExternalId "ts1" .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?t >= "2024-01-02T00:00:00"^^xsd:dateTime &&
               ?t < "2024-01-05T00:00:00"^^xsd:dateTime)
    }"""
    graph = GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL)

    def query(parts):
        eng = Engine(spark, graph).add_timeseries_table(TimeSeriesTable(
            path=path, **{f"{p}_column": p for p in parts}))
        return eng.query(q)

    df = query(declared)
    pf = _partition_filters(spark, df)
    for part in ("year", "month", "day"):
        assert (part in pf) == (part in declared), (part, pf)
    full = query(("year", "month", "day"))
    assert "day" in _partition_filters(spark, full)
    assert sorted(r["v"] for r in df.collect()) \
        == sorted(r["v"] for r in full.collect()) == [3.0, 4.0, 5.0]


def test_bucketed_store_joins_without_shuffle(spark, tmp_path, monkeypatch):
    """A subject-bucketed GraphStore runs star-shaped BGP self-joins as
    shuffle-free sort-merge joins (bucket co-location) — the join-side
    scale lever complementing predicate partitioning's scan pruning. The
    cap is 0 so the predicates are bucketed scans, not inlined."""
    monkeypatch.setattr("otit_swt_spark.graph.VP_INLINE_MAX_ROWS", 0)
    import re
    from otit_swt_spark.tpch_graph import build_graph_df

    df = build_graph_df(spark, "/root/testdata/sf0.001")
    g = GraphStore(spark, df).bucketed(
        "kg_bucketed_plan_test", str(tmp_path / "kg_bucketed"), n_buckets=8,
        overwrite=True)
    eng = Engine(spark, g)
    q = eng.query("""
    SELECT ?nation_name ?region WHERE {
        ?n <urn:p:inRegion> ?region .
        ?n <urn:p:name> ?nation_name .
        FILTER(STRSTARTS(STR(?n), "urn:nation:"))
    }""")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q2 = eng.query("""
        SELECT ?nation_name ?r WHERE {
            ?n <urn:p:inRegion> ?r .
            ?n <urn:p:name> ?nation_name .
        }""")
        plan = physical(q2)
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert q.count() == 25


def test_bucketed_store_reregisters_existing_layout(spark, tmp_path,
                                                    monkeypatch):
    """A bucketed layout written once re-registers in a later session
    (CREATE TABLE over the existing path) — no rewrite, still
    shuffle-free (cap 0: the predicates are scans, not inlined)."""
    monkeypatch.setattr("otit_swt_spark.graph.VP_INLINE_MAX_ROWS", 0)
    import re
    from otit_swt_spark.tpch_graph import build_graph_df

    df = build_graph_df(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "kg_bucketed_reuse")
    GraphStore(spark, df).bucketed("kg_reuse_t1", path, n_buckets=8,
                                   overwrite=True)
    import os
    mtime = max(os.path.getmtime(os.path.join(path, f))
                for f in os.listdir(path))
    # simulate a fresh session: drop the catalog entry, keep the files
    spark.sql("DROP TABLE kg_reuse_t1")
    g2 = GraphStore(spark, df).bucketed("kg_reuse_t1", path, n_buckets=8)
    assert max(os.path.getmtime(os.path.join(path, f))
               for f in os.listdir(path)) == mtime  # not rewritten
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = Engine(spark, g2).query("""
        SELECT ?n ?r WHERE { ?n <urn:p:inRegion> ?r . ?n <urn:p:name> ?nm }""")
        assert len(re.findall(r"Exchange hashpartitioning", physical(q))) == 0
        assert q.count() == 25
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_timestamp_offset_literal_prunes_in_utc(spark, tmp_path):
    """A timestamp literal with a non-Z UTC offset must be normalized to
    UTC before its date feeds the partition bound: ?t >= 01:00+02:00 is
    23:00Z the PREVIOUS day, so the previous day's partition must survive
    pruning (the naive .date() used to drop it — silently missing rows)."""
    import pandas as pd
    from otit_swt_spark.timeseries import TimeSeriesTable
    from tests.conftest import TESTDATA_SPARQL

    ts = pd.to_datetime(["2024-01-01 12:00:00", "2024-01-01 23:30:00",
                         "2024-01-02 00:30:00", "2024-01-03 12:00:00"])
    pdf = pd.DataFrame({
        "id": ["ts1"] * 4, "timestamp": ts,
        "value": [1.0, 2.0, 3.0, 4.0],
        "year": ts.year, "month": ts.month, "day": ts.day,
    })
    path = str(tmp_path / "ts_part_tz")
    (spark.createDataFrame(pdf).write.partitionBy("year", "month", "day")
     .parquet(path))
    table = TimeSeriesTable(path=path, year_column="year",
                            month_column="month", day_column="day")
    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))
    eng.add_timeseries_table(table)
    df = eng.query(PREFIXES + """
    SELECT ?t ?v WHERE {
        ?ts otit_swt:hasExternalId "ts1" .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?t >= "2024-01-02T01:00:00+02:00"^^xsd:dateTime)
    }""")
    got = sorted(r["v"] for r in df.collect())
    # 23:00Z Jan 1 onward: the 23:30 row (day-1 partition) must be included
    assert got == [2.0, 3.0, 4.0]


def test_correlated_ts_optional_has_no_rowid(spark, engine):
    """OPTIONAL that re-binds timestamp/value of a data point chained on the
    left compiles to a projection + conditional null — the physical plan
    must contain NO xxhash row id (the general matched∪anti form) and no
    extra join for the OPTIONAL."""
    df = engine.query(PREFIXES + """
    SELECT ?ts_id ?t ?v ?v2 WHERE {
        ?ts otit_swt:hasExternalId ?ts_id .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        OPTIONAL { ?dp otit_swt:hasValue ?v2 FILTER(?v2 > 102) }
    }""")
    plan = physical(df)
    assert "xxhash" not in plan
    got = {(r["ts_id"], r["t"], r["v"], r["v2"]) for r in df.collect()}
    # every (ts,t,v) row survives; v2 bound only where value > 102
    all_rows = engine.query(PREFIXES + """
    SELECT ?ts_id ?t ?v WHERE {
        ?ts otit_swt:hasExternalId ?ts_id .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
    }""").collect()
    expect = {(r["ts_id"], r["t"], r["v"], r["v"] if r["v"] > 102 else None)
              for r in all_rows}
    assert got == expect and len(got) == len(all_rows)


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must reach the corpus as a broadcast-hash
    join (no corpus-side shuffle before the match)."""
    from otit_swt_spark.pipelines.decontam import decontaminate

    docs = spark.createDataFrame(
        [(i, f"some words number {i} repeated here") for i in range(50)],
        "doc_id long, text string")
    bench = docs.limit(3)
    plan = physical(decontaminate(docs, bench, n=3))
    # the gram-match join against the benchmark set must be broadcast;
    # (the final count join-back on the doc id may be sort-merge — that
    # side is |matches|-sized, not corpus-sized)
    assert "BroadcastHashJoin" in plan


def test_lm_scoring_joins_are_broadcast(spark):
    from otit_swt_spark.pipelines.lm_quality import score_docs, train_char_lm

    docs = spark.createDataFrame(
        [(i, "plain text content") for i in range(20)],
        "doc_id long, text string")
    model = train_char_lm(docs, n=3)
    plan = physical(score_docs(docs, model, n=3))
    assert plan.count("BroadcastHashJoin") >= 2     # gram + context models


def test_stateless_corpus_ops_add_no_exchange(spark):
    """PII scrub and repetition stats are single-projection map-side ops —
    zero exchanges in the plan."""
    from otit_swt_spark.pipelines.pii import scrub_pii
    from otit_swt_spark.pipelines.textstats import repetition_stats

    docs = spark.createDataFrame(
        [(1, "text with spam spam content")], "doc_id long, text string")
    assert "Exchange" not in physical(repetition_stats(scrub_pii(docs)))


def test_rolling_stats_single_exchange(spark):
    from datetime import datetime
    from otit_swt_spark.timeseries import rolling_stats

    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 1.0)],
        "id string, timestamp timestamp, value double")
    assert physical(rolling_stats(df)).count("Exchange") == 1


def test_bgp_selectivity_reorder(spark):
    """A huge-predicate pattern written first is reordered behind selective
    connected patterns; unknown counts keep the written order."""
    from otit_swt_spark.sparql import algebra as A
    from otit_swt_spark.sparql.compiler import Compiler
    from otit_swt_spark.sparql.algebra import IRI, Variable

    cat = {"urn:big": {"dt": None, "mixed": False, "n": 1_000_000},
           "urn:mid": {"dt": None, "mixed": False, "n": 10_000},
           "urn:tiny": {"dt": None, "mixed": False, "n": 5}}
    comp = Compiler(spark, spark.range(0).selectExpr("'x' s", "'y' p", "'z' o"),
                    pred_datatypes=lambda: cat)
    v = Variable
    pats = [
        A.TriplePattern(v("a"), IRI("urn:big"), v("b")),
        A.TriplePattern(v("b"), IRI("urn:mid"), v("c")),
        A.TriplePattern(v("c"), IRI("urn:tiny"), v("d")),
    ]
    got = [tp.p.value for tp in comp._order_patterns(pats)]
    # tiny first, then its connected mid, then big
    assert got == ["urn:tiny", "urn:mid", "urn:big"]

    # constant object boosts selectivity: big with a bound object wins
    pats2 = [
        A.TriplePattern(v("a"), IRI("urn:mid"), v("b")),
        A.TriplePattern(v("a"), IRI("urn:big"), IRI("urn:thing")),
    ]
    # len < 3 -> untouched (written order respected for short BGPs)
    assert comp._order_patterns(pats2) == pats2

    # unknown predicate count -> no reordering
    pats3 = pats + [A.TriplePattern(v("d"), IRI("urn:unknown"), v("e"))]
    cat_no_n = {k: {"dt": None, "mixed": False} for k in cat}
    comp2 = Compiler(spark, spark.range(0).selectExpr("'x' s", "'y' p", "'z' o"),
                     pred_datatypes=lambda: cat_no_n)
    assert comp2._order_patterns(pats) == pats
    assert [tp.p.value for tp in comp._order_patterns(pats3)][:1] != ["urn:unknown"]


def test_bgp_reorder_shapes_join_tree(spark, monkeypatch):
    """End-to-end: a worst-order-written query compiles to a join tree that
    starts from the most selective predicate (its scan prints before the
    hot predicate's in the left-deep plan; cap 0 keeps the predicate
    filters, which name the predicates, in the plan)."""
    from otit_swt_spark.engine import Engine
    from otit_swt_spark.graph import GraphStore

    lines = []
    for i in range(800):
        lines.append(f"<urn:x{i}> <urn:big> <urn:y{i % 40}> .")
    for i in range(40):
        lines.append(f"<urn:y{i}> <urn:mid> <urn:z{i % 10}> .")
    for i in range(2):
        lines.append(f"<urn:z{i}> <urn:tiny> <urn:w{i}> .")
    store = GraphStore.from_ntriples(spark, "\n".join(lines))
    monkeypatch.setattr("otit_swt_spark.graph.VP_INLINE_MAX_ROWS", 0)
    eng = Engine(spark, store)
    df = eng.query("""
        SELECT ?a ?d WHERE {
            ?a <urn:big> ?b .
            ?b <urn:mid> ?c .
            ?c <urn:tiny> ?d .
        }""")
    plan = optimized(df)
    assert plan.index("urn:tiny") < plan.index("urn:big")
    assert df.count() == 160            # 2 z * 4 mid-y each * 20 big-x each


# -- hybrid static side: evaluated once, inlined as the plan's relation -----

HYBRID_BGP = """
        ?w types:hasSensor ?s .
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasExternalId ?ts_id .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v ."""


def static_side_inlined(df) -> bool:
    """The static side is the compile-time collect's rows: ONE
    LocalRelation carrying the BGP's variables ?w and ?ts_id together, and
    no scan of the graph DataFrame (whose leaf exposes the o_iri column)
    anywhere in the plan. Above the cap the static joins stay in the plan,
    over per-predicate relations that each bind only their own pattern's
    variables."""
    plan = optimized(df)
    return (any(re.search(r"\bw#", attrs) and re.search(r"\bts_id#", attrs)
                for attrs in re.findall(r"LocalRelation \[([^\]]*)\]", plan))
            and "o_iri#" not in plan)


def test_hybrid_static_side_inlined_in_memory(spark, engine, monkeypatch):
    from otit_swt_spark.sparql.compiler import Compiler
    from tests.conftest import rows

    q = PREFIXES + "SELECT ?w ?ts_id ?t ?v WHERE {" + HYBRID_BGP + """
        FILTER(?v > 100) }"""

    def run():
        eng = Engine(spark, engine.graph)
        return eng.add_timeseries_table(engine.ts_tables[0]).query(q)

    df = run()
    assert static_side_inlined(df)
    got = rows(df)
    assert len(got) == 11
    # rows overflow the cap: no inlining, per-chain probes, same answer
    monkeypatch.setattr(Compiler, "TS_ID_PUSHDOWN_MAX", 0)
    over = run()
    assert not static_side_inlined(over)
    assert rows(over) == got


def test_hybrid_static_side_inlined_flight_grouped(
        spark, flight_pushdown_server, monkeypatch):
    from otit_swt_spark.sources.flight import flight_timeseries
    from otit_swt_spark.sparql.compiler import Compiler
    from tests.conftest import TESTDATA_SPARQL, rows

    srv = flight_pushdown_server
    q = PREFIXES + "SELECT ?w ?ts_id (COUNT(?v) AS ?n) (AVG(?v) AS ?mean)" \
        " WHERE {" + HYBRID_BGP + "} GROUP BY ?w ?ts_id"

    def run():
        ts = flight_timeseries(spark, f"grpc://127.0.0.1:{srv.port}",
                               "SELECT id, timestamp, value FROM ts")
        graph = GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL)
        return Engine(spark, graph).add_timeseries_table(ts).query(q)

    df = run()
    assert static_side_inlined(df)
    got = rows(df)
    # the grouped pushdown fired, restricted to the inlined rows' ids
    assert any("__gp_cnt" in x and "\"id\" IN ('ts1', 'ts2')" in x
               for x in srv.queries), srv.queries
    assert got == [("http://example.org/case#myWidget1", "ts1", 8, 103.5),
                   ("http://example.org/case#myWidget2", "ts2", 8, 203.5)]
    monkeypatch.setattr(Compiler, "TS_ID_PUSHDOWN_MAX", 0)
    over = run()
    assert not static_side_inlined(over)
    assert rows(over) == got


def test_inlined_static_side_keeps_native_input_types(
        spark, engine, monkeypatch):
    """The BGP's input comes from an earlier group and carries native
    timestamp, double and decimal columns; the inlined rows keep them
    exactly, so the fit and overflow paths return identical rows."""
    from datetime import datetime
    from decimal import Decimal

    from otit_swt_spark.sparql.compiler import Compiler
    from tests.conftest import rows

    q = PREFIXES + """
    SELECT ?w ?ts_id ?last ?mean ?total ?v WHERE {
        { SELECT ?w (MAX(?t0) AS ?last) (AVG(?v0) AS ?mean)
                 (SUM(xsd:decimal(?v0)) AS ?total) WHERE {
            ?w types:hasSensor ?s0 .
            ?s0 otit_swt:hasTimeseries ?ts0 .
            ?ts0 otit_swt:hasDataPoint ?dp0 .
            ?dp0 otit_swt:hasTimestamp ?t0 .
            ?dp0 otit_swt:hasValue ?v0 .
          } GROUP BY ?w }
        {""" + HYBRID_BGP + """ }
        FILTER(?t = ?last) }"""

    def run():
        eng = Engine(spark, engine.graph)
        return eng.add_timeseries_table(engine.ts_tables[0]).query(q)

    df = run()
    assert static_side_inlined(df)
    assert [f.dataType.simpleString() for f in df.schema.fields[2:5]] == [
        "timestamp", "double", "decimal(35,6)"]
    got = rows(df)
    last = datetime(2022, 6, 1, 8, 46, 59)
    assert got == [
        ("http://example.org/case#myWidget1", "ts1", last, 153.25,
         Decimal("1226.000000"), 105),
        ("http://example.org/case#myWidget2", "ts2", last, 154.75,
         Decimal("1238.000000"), 206)]
    monkeypatch.setattr(Compiler, "TS_ID_PUSHDOWN_MAX", 0)
    assert rows(run()) == got


def test_inlined_static_side_follows_graph_update(spark):
    """The inlined rows live in a cached plan; Engine.update() must drop
    that plan, so a series linked by the update shows up in the rerun."""
    import pandas as pd

    from otit_swt_spark.timeseries import in_memory_timeseries
    from tests.conftest import TESTDATA_SPARQL

    stamps = pd.date_range("2022-06-01 08:46:52", periods=3, freq="s")
    ts = in_memory_timeseries(spark, {
        k: pd.DataFrame({"timestamp": stamps, "value": [1.0, 2.0, 3.0]})
        for k in ("ts1", "ts2", "ts3")})
    eng = Engine(spark, GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL))
    eng.add_timeseries_table(ts)
    q = PREFIXES + "SELECT ?ts_id (COUNT(?v) AS ?n) WHERE {" + HYBRID_BGP + \
        "} GROUP BY ?ts_id"
    assert sorted(map(tuple, eng.query(q).collect())) == [
        ("ts1", 3), ("ts2", 3)]
    eng.update(PREFIXES + """
    PREFIX case: <http://example.org/case#>
    INSERT DATA {
        case:myWidget2 types:hasSensor case:mySensor3 .
        case:mySensor3 otit_swt:hasTimeseries case:myTimeseries3 .
        case:myTimeseries3 otit_swt:hasExternalId "ts3" .
    }""")
    assert sorted(map(tuple, eng.query(q).collect())) == [
        ("ts1", 3), ("ts2", 3), ("ts3", 3)]


def test_windpower_static_side_joins_aspect_chain_on_plain_iris(
        spark, monkeypatch):
    """The wind-power aspect chain's object variables are objects of
    IRI-only predicates: its self-joins key on the plain IRI column, with
    no term-identity concat key and no __dt/__lang companions, while the
    literal-valued labels keep theirs. The FILTER's label comparisons
    restrict the static side before it is collected, so only turbine A1's
    generator reaches the time-series fetch."""
    from otit_swt_spark.sparql.compiler import Compiler
    from otit_swt_spark.windpower import build_engine, query_10min_avg

    seen = []
    inline = Compiler._inline_static_side

    def spy(self, sm, eids):
        seen.append(sm)
        return inline(self, sm, eids)

    monkeypatch.setattr(Compiler, "_inline_static_side", spy)
    eng = build_engine(spark, points=12, n_turbines=2)
    df = eng.query(query_10min_avg())
    (sm,) = seen
    plan = sm.df._jdf.queryExecution().analyzed().toString()
    assert "__tk_" not in plan
    for v in ("wtur_asp", "gensys_asp", "generator_asp", "ts"):
        assert v in sm.df.columns
        assert not {f"{v}__dt", f"{v}__lang"} & set(sm.df.columns)
    assert {"site_label__dt", "wtur_label__dt"} <= set(sm.df.columns)
    assert [r["wtur_label"] for r in sm.df.collect()] == ["A1"]
    assert {r["wtur_label"] for r in df.collect()} == {"A1"}


def test_bgp_builds_as_one_sql_statement(spark, monkeypatch):
    """The wind-power aspect chain's twelve patterns are one ``spark.sql``
    statement, built in a handful of py4j round trips (over a thousand
    when each pattern was its own DataFrame and each join re-analysed the
    plan), and the term-identity key appears in none of its joins."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import SparkSession

    from otit_swt_spark.sparql import algebra as A
    from otit_swt_spark.sparql.compiler import Compiler
    from otit_swt_spark.sparql.parser import parse_query
    from otit_swt_spark.windpower import ASPECT_CHAIN, PREFIXES, build_engine

    graph = build_engine(spark, points=12, n_turbines=2).graph
    bgp = parse_query(PREFIXES + "SELECT * WHERE {" + ASPECT_CHAIN + "}").pattern
    while not isinstance(bgp, A.BGP):
        bgp = bgp.inner

    def compile_bgp():
        return Compiler(spark, graph.df, pred_datatypes=graph.predicate_datatypes,
                        vp=graph.vp).compile_bgp(bgp, None)

    compile_bgp()  # builds the predicate relations (otit:vp jobs)
    calls = {"py4j": 0, "sql": 0}
    send, sql = ClientServerConnection.send_command, SparkSession.sql

    def counted_send(self, command):
        calls["py4j"] += 1
        return send(self, command)

    def counted_sql(self, *args, **kwargs):
        calls["sql"] += 1
        return sql(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted_send)
    monkeypatch.setattr(SparkSession, "sql", counted_sql)
    sm = compile_bgp()
    monkeypatch.undo()
    assert calls["sql"] == 1
    assert calls["py4j"] <= 40, calls
    assert len(sm.df.collect()) == 2
    # its IRI-only aspect nodes join on the plain value, no term key
    assert "concat(" not in sm.df._jdf.queryExecution().analyzed().toString()


def test_bgp_plan_outlives_its_temporary_views(spark):
    """PySpark drops the statement's temporary views once it is analysed:
    no view is left in the catalog, and a plan served from the plan cache
    still runs, one holding a closure's table argument too."""
    g = GraphStore.from_sparql_insert(spark, """
        INSERT DATA { <urn:a> <urn:p> <urn:b> . <urn:b> <urn:q> "x" . }""")
    eng = Engine(spark, g)
    for path in ("<urn:p>", "<urn:p>+"):
        text = f"SELECT ?a ?c WHERE {{ ?a {path} ?b . ?b <urn:q> ?c }}"
        df = eng.query(text)
        assert not [t for t in spark.catalog.listTables()
                    if t.name.startswith("_pyspark_")]
        assert eng.query(text) is df
        assert [tuple(r) for r in df.collect()] == [("urn:a", "x")]


@pytest.mark.parametrize("path", [
    "(<urn:p>/<urn:p>|^<urn:p>)", "!(<urn:q>)", "<urn:p>?"])
def test_path_bgp_builds_as_one_sql_statement(spark, monkeypatch, path):
    """A property path without a closure is SQL text inside its BGP's one
    ``spark.sql`` statement, built in a handful of py4j round trips (200
    to 524 when each step was its own DataFrame)."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import SparkSession

    from otit_swt_spark.sparql import algebra as A
    from otit_swt_spark.sparql.compiler import Compiler
    from otit_swt_spark.sparql.parser import parse_query

    g = GraphStore.from_sparql_insert(spark, """INSERT DATA {
        <urn:a> <urn:p> <urn:b> . <urn:b> <urn:p> <urn:c> .
        <urn:b> <urn:q> "x" . <urn:c> <urn:r> <urn:a> . }""")
    bgp = parse_query(
        f"SELECT * WHERE {{ ?x {path} ?y . ?y <urn:r> ?z }}").pattern
    while not isinstance(bgp, A.BGP):
        bgp = bgp.inner

    def compile_bgp():
        return Compiler(spark, g.df, pred_datatypes=g.predicate_datatypes,
                        vp=g.vp).compile_bgp(bgp, None)

    want = sorted(tuple(r) for r in compile_bgp().df.collect())
    calls = {"py4j": 0, "sql": 0}
    send, sql = ClientServerConnection.send_command, SparkSession.sql

    def counted_send(self, command):
        calls["py4j"] += 1
        return send(self, command)

    def counted_sql(self, *args, **kwargs):
        calls["sql"] += 1
        return sql(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted_send)
    monkeypatch.setattr(SparkSession, "sql", counted_sql)
    sm = compile_bgp()
    monkeypatch.undo()
    assert calls["sql"] == 1
    assert calls["py4j"] <= 40, calls
    assert want and sorted(tuple(r) for r in sm.df.collect()) == want


def test_kleene_keeps_the_shuffle_partition_count(spark):
    """Each closure round is one distinct over the session's shuffle
    partitions, so the closure of a 30-node chain has at most 200
    partitions under the default setting (a round that unioned its new
    pairs onto the last round's added 200 each time, 1001 in all)."""
    from otit_swt_spark.sparql.compiler import Compiler

    edges = spark.createDataFrame(
        [(f"urn:n{i}", f"urn:n{i + 1}") for i in range(29)], "src string, dst string")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        closure = Compiler(spark, None)._kleene(edges)
        assert closure.rdd.getNumPartitions() <= 200
        assert closure.count() == 30 * 29 // 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
