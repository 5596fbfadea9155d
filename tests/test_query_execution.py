"""Golden E2E query tests ported from the reference suite
(hybrid/tests/query_execution.rs:83-1045, expected outputs from
hybrid/tests/query_execution_testdata/expected_*.csv).

Same knowledge graph (17 triples) + ts1/ts2 series (conftest). Expected rows
are transcribed from the reference CSVs; comparisons are order-insensitive
(SPARQL solution multisets are unordered) except where the query has ORDER BY.
"""

from datetime import datetime

import pytest

from tests.conftest import rows

CASE = "http://example.org/case#"
W1, W2 = CASE + "myWidget1", CASE + "myWidget2"
S1, S2 = CASE + "mySensor1", CASE + "mySensor2"

PREFIXES = """
PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
PREFIX types:<http://example.org/types#>
"""


def ts(s):
    return datetime.fromisoformat(f"2022-06-01T08:46:{s}")


def test_static_query(engine):
    """reference query_execution.rs:83-119 (test_static_query): pure static
    BGP, no time-series join."""
    df = engine.query(PREFIXES + """
    SELECT ?a ?b WHERE { ?a otit_swt:hasTimeseries ?b }
    """)
    assert rows(df) == [
        (CASE + "mySensor1", CASE + "myTimeseries1"),
        (CASE + "mySensor2", CASE + "myTimeseries2"),
    ]


def test_simple_hybrid(engine):
    """reference query_execution.rs:124-165 (test_simple_hybrid_query),
    expected_simple_hybrid.csv."""
    df = engine.query(PREFIXES + """
    SELECT ?w ?s ?t ?v WHERE {
        ?w a types:BigWidget .
        ?w types:hasSensor ?s .
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime && ?v < 200) .
    }
    """)
    assert rows(df) == [
        (W1, S1, ts(54), 100),
        (W1, S1, ts(56), 102),
        (W1, S1, ts(59), 105),
    ]


def test_complex_hybrid(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w1 ?w2 ?t ?v1 ?v2 WHERE {
        ?w1 a types:BigWidget .
        ?w2 a types:SmallWidget .
        ?w1 types:hasSensor ?s1 .
        ?w2 types:hasSensor ?s2 .
        ?s1 otit_swt:hasTimeseries ?ts1 .
        ?s2 otit_swt:hasTimeseries ?ts2 .
        ?ts1 otit_swt:hasDataPoint ?dp1 .
        ?ts2 otit_swt:hasDataPoint ?dp2 .
        ?dp1 otit_swt:hasTimestamp ?t .
        ?dp2 otit_swt:hasTimestamp ?t .
        ?dp1 otit_swt:hasValue ?v1 .
        ?dp2 otit_swt:hasValue ?v2 .
        FILTER(?t > "2022-06-01T08:46:55"^^xsd:dateTime && ?v1 < ?v2) .
    }
    """)
    assert rows(df) == [
        (W1, W2, ts(56), 102, 202),
        (W1, W2, ts(59), 105, 206),
    ]


def test_pushdown_group_by(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w (SUM(?v) as ?sum_v) WHERE {
        ?w types:hasSensor ?s .
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime) .
    } GROUP BY ?w
    """)
    assert rows(df) == [(W1, 1215), (W2, 1216)]


def test_pushdown_group_by_second(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w (SUM(?v) as ?sum_v) WHERE {
        ?w types:hasSensor ?s .
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        BIND(seconds(?t) as ?second)
        BIND(minutes(?t) AS ?minute)
        BIND(hours(?t) AS ?hour)
        BIND(day(?t) AS ?day)
        BIND(month(?t) AS ?month)
        BIND(year(?t) AS ?year)
        FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime)
    } GROUP BY ?w ?year ?month ?day ?hour ?minute ?second
    """)
    assert rows(df) == sorted(
        [(W1, 100), (W1, 301), (W1, 102), (W1, 303), (W1, 304), (W1, 105),
         (W2, 200), (W2, 201), (W2, 202), (W2, 203), (W2, 204), (W2, 206)],
        key=lambda t: tuple(str(x) for x in t))


def test_pushdown_group_by_second_having(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w (CONCAT(?year, "-", ?month, "-", ?day, "-", ?hour, "-", ?minute, "-", (?second_5*5)) as ?period) (SUM(?v) as ?sum_v) WHERE {
        ?w types:hasSensor ?s .
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        BIND(xsd:integer(FLOOR(seconds(?t) / 5.0)) as ?second_5)
        BIND(minutes(?t) AS ?minute)
        BIND(hours(?t) AS ?hour)
        BIND(day(?t) AS ?day)
        BIND(month(?t) AS ?month)
        BIND(year(?t) AS ?year)
        FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime)
    } GROUP BY ?w ?year ?month ?day ?hour ?minute ?second_5
    HAVING (SUM(?v)>100)
    """)
    assert rows(df) == sorted(
        [(W1, "2022-6-1-8-46-55", 1115),
         (W2, "2022-6-1-8-46-50", 200),
         (W2, "2022-6-1-8-46-55", 1016)],
        key=lambda t: tuple(str(x) for x in t))


def test_pushdown_group_by_concat_agg(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?seconds_5 (GROUP_CONCAT(?v ; separator="-") as ?cc) WHERE {
        ?w types:hasSensor ?s .
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        BIND(xsd:integer(FLOOR(seconds(?t) / 5.0)) as ?seconds_5)
        FILTER(?t > "2022-06-01T08:46:53"^^xsd:dateTime)
    } GROUP BY ?w ?seconds_5
    """)
    # expected (reference CSV) — GROUP_CONCAT order is undefined in SPARQL;
    # compare the concatenated multiset, not the order
    got = {(r["w"], r["seconds_5"], tuple(sorted(r["cc"].split("-"))))
           for r in df.collect()}
    want = {
        (W1, 10, tuple(sorted("100".split("-")))),
        (W1, 11, tuple(sorted("301-102-303-304-105".split("-")))),
        (W2, 10, tuple(sorted("200".split("-")))),
        (W2, 11, tuple(sorted("201-202-203-204-206".split("-")))),
    }
    assert got == want


def test_pushdown_group_by_exists_something(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?seconds_3 (AVG(?v) as ?mean) WHERE {
        ?w types:hasSensor ?s .
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        BIND(xsd:integer(FLOOR(seconds(?t) / 3.0)) as ?seconds_3)
        FILTER EXISTS {SELECT ?w WHERE {?w types:hasSomething ?smth}}
    } GROUP BY ?w ?seconds_3
    """)
    got = {(r["w"], r["seconds_3"], round(r["mean"], 6)) for r in df.collect()}
    assert got == {
        (W1, 17, 5.5),
        (W1, 18, round(167.66666666666666, 6)),
        (W1, 19, round(237.33333333333334, 6)),
    }


def test_pushdown_exists_timeseries_value(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?s WHERE {
        ?w types:hasSensor ?s .
        FILTER EXISTS {SELECT ?s WHERE {
            ?s otit_swt:hasTimeseries ?ts .
            ?ts otit_swt:hasDataPoint ?dp .
            ?dp otit_swt:hasTimestamp ?t .
            ?dp otit_swt:hasValue ?v .
            FILTER(?v > 300)}}
    }
    """)
    assert rows(df) == [(W1, S1)]


def test_pushdown_exists_aggregated_timeseries_value(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?s WHERE {
        ?w types:hasSensor ?s .
        FILTER EXISTS {SELECT ?s WHERE {
            ?s otit_swt:hasTimeseries ?ts .
            ?ts otit_swt:hasDataPoint ?dp .
            ?dp otit_swt:hasTimestamp ?t .
            ?dp otit_swt:hasValue ?v .
            FILTER(?v < 300)}
            GROUP BY ?s
            HAVING (SUM(?v) >= 1000)
            }
    }
    """)
    assert rows(df) == [(W2, S2)]


def test_pushdown_not_exists_aggregated_timeseries_value(engine):
    """NOTE divergence from the reference golden CSV: the reference's
    expected_pushdown_not_exists_aggregated_timeseries_value_hybrid.csv keeps
    myWidget1, but sensor1's sum of values < 300 is 1+10+100+102+105 = 318
    <= 1000, so EXISTS holds for sensor1 and NOT EXISTS must *exclude* it —
    while sensor2's sum is 1238 > 1000, so NOT EXISTS keeps myWidget2. The
    reference appears to drop the negation in this aggregated case (cf. its
    inverted BOUND at lazy_expressions.rs:362-364). We follow the SPARQL
    spec."""
    df = engine.query(PREFIXES + """
    SELECT ?w ?s WHERE {
        ?w types:hasSensor ?s .
        FILTER NOT EXISTS {SELECT ?s WHERE {
            ?s otit_swt:hasTimeseries ?ts .
            ?ts otit_swt:hasDataPoint ?dp .
            ?dp otit_swt:hasTimestamp ?t .
            ?dp otit_swt:hasValue ?v .
            FILTER(?v < 300)}
            GROUP BY ?s
            HAVING (SUM(?v) <= 1000)
            }
    }
    """)
    assert rows(df) == [(W2, S2)]


def test_path_group_by(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w (MAX(?v) as ?max_v) WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint/otit_swt:hasValue ?v .}
        GROUP BY ?w
        ORDER BY ASC(?max_v)
    """)
    assert [tuple(r) for r in df.collect()] == [(W2, 206), (W1, 304)]


def test_optional_clause(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?v ?greater WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
        OPTIONAL {
        BIND(?v>300 as ?greater)
        FILTER(?greater)
        }
    }
    """)
    want = [(W1, 1, None), (W1, 10, None), (W1, 100, None), (W1, 102, None),
            (W1, 105, None), (W1, 301, True), (W1, 303, True), (W1, 304, True),
            (W2, 2, None), (W2, 20, None), (W2, 200, None), (W2, 201, None),
            (W2, 202, None), (W2, 203, None), (W2, 204, None), (W2, 206, None)]
    assert rows(df) == sorted(want, key=lambda t: tuple(str(x) for x in t))


def test_minus(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?v WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
        MINUS {
        ?dp otit_swt:hasValue ?v .
        FILTER(?v > 300)
        }
    }
    """)
    want = [(W1, 1), (W1, 10), (W1, 100), (W1, 102), (W1, 105),
            (W2, 2), (W2, 20), (W2, 200), (W2, 201), (W2, 202),
            (W2, 203), (W2, 204), (W2, 206)]
    assert rows(df) == sorted(want, key=lambda t: tuple(str(x) for x in t))


def test_in_expression(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?v WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
        FILTER(?v IN ((300+4), (304-3), 307))
    }
    """)
    assert rows(df) == [(W1, 301), (W1, 304)]


def test_values(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?v WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
        VALUES ?v2 { 301 304 307 }
        FILTER(?v = ?v2)
    }
    """)
    assert rows(df) == [(W1, 301), (W1, 304)]


def test_values_undef_compatibility(engine):
    """UNDEF in a VALUES row is compatible with ANY outer binding
    (SPARQL 1.1 §10.2) — the row must not be equi-join-filtered away."""
    df = engine.query(PREFIXES + """
    SELECT ?w ?z WHERE {
        ?w types:hasSensor ?s .
        VALUES (?w ?z) {
            (<http://example.org/case#myWidget1> 1)
            (UNDEF 2)
        }
    }
    """)
    got = sorted((r[0], r[1]) for r in df.collect())
    assert got == [(W1, 1), (W1, 2), (W2, 2)]


def test_values_undef_plus_uncoercible(engine):
    """A VALUES cell that fails native coercion ("abc" against numeric ?v)
    must match NOTHING — only true UNDEF is a wildcard. Regression: the
    theta-join predicate used post-coercion isNull, so a try_cast failure
    was indistinguishable from UNDEF and matched every outer row."""
    df = engine.query(PREFIXES + """
    SELECT ?w ?v ?z WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
        VALUES (?v ?z) { ("abc" 1) (UNDEF 2) }
    }
    """)
    got = [tuple(r) for r in df.collect()]
    # the "abc" row contributes zero matches; the UNDEF row matches all 16
    assert len(got) == 16
    assert all(z == 2 for (_, _, z) in got)


def test_values_probe_bounded_one_row(engine):
    """The UNDEF-compatibility dispatch probes the VALUES frame with a
    filter + limit(1) — the driver reads at most ONE row regardless of
    VALUES size, so a large programmatic VALUES block just works (no
    cap, no unbounded collect) and UNDEF is still detected."""
    big_values = " ".join(f'("v{i}" {i})' for i in range(200))
    df = engine.query(PREFIXES + """
    SELECT ?w ?v2 ?z WHERE {
        ?w types:hasSensor ?s .
        BIND("v3" AS ?v2)
        VALUES (?v2 ?z) { %s }
    }
    """ % big_values)
    assert sorted((r[1], r[2]) for r in df.collect()) == [("v3", 3)] * 2
    # UNDEF detection unchanged
    df2 = engine.query(PREFIXES + """
    SELECT ?w ?z WHERE {
        ?w types:hasSensor ?s .
        VALUES (?w ?z) { (UNDEF 7) }
    }
    """)
    assert sorted(r[1] for r in df2.collect()) == [7, 7]


def test_if(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w (IF(?v>300,?v,300) as ?v_with_min) WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
    }
    """)
    want = [(W1, 300), (W1, 300), (W1, 300), (W1, 301), (W1, 300), (W1, 303),
            (W1, 304), (W1, 300)] + [(W2, 300)] * 8
    assert rows(df) == sorted(want, key=lambda t: tuple(str(x) for x in t))


def test_distinct(engine):
    df = engine.query(PREFIXES + """
    SELECT DISTINCT ?w (IF(?v>300,?v,300) as ?v_with_min) WHERE {
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
    }
    """)
    assert rows(df) == [(W1, 300), (W1, 301), (W1, 303), (W1, 304), (W2, 300)]


def test_union(engine):
    df = engine.query(PREFIXES + """
    SELECT ?w ?v WHERE {
        { ?w a types:BigWidget .
        ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
        FILTER(?v > 100) }
        UNION {
            ?w a types:SmallWidget .
            ?w types:hasSensor/otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp .
            ?dp otit_swt:hasValue ?v .
            FILTER(?v < 100)
        }
    }
    """)
    want = [(W1, 102), (W1, 105), (W1, 301), (W1, 303), (W1, 304),
            (W2, 2), (W2, 20)]
    assert rows(df) == sorted(want, key=lambda t: tuple(str(x) for x in t))


def test_coalesce(engine):
    df = engine.query(PREFIXES + """
    SELECT ?s1 ?t1 ?v1 ?v2 (COALESCE(?v2, ?v1) as ?c) WHERE {
        ?s1 otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp1 .
        ?dp1 otit_swt:hasValue ?v1 .
        ?dp1 otit_swt:hasTimestamp ?t1 .
        OPTIONAL {
        ?s1 otit_swt:hasTimeseries/otit_swt:hasDataPoint ?dp2 .
        ?dp2 otit_swt:hasValue ?v2 .
        ?dp2 otit_swt:hasTimestamp ?t2 .
        FILTER(seconds(?t2) >= (seconds(?t1) - 1) && seconds(?t2) <= (seconds(?t1) + 1) && ?v2 > ?v1)
        }
    }
    """)
    want = [
        (S1, ts(52), 1, 10, 10),
        (S1, ts(53), 10, 100, 100),
        (S1, ts(54), 100, 301, 301),
        (S1, ts(55), 301, None, 301),
        (S1, ts(56), 102, 301, 301),
        (S1, ts(56), 102, 303, 303),
        (S1, ts(57), 303, 304, 304),
        (S1, ts(58), 304, None, 304),
        (S1, ts(59), 105, 304, 304),
        (S2, ts(52), 2, 20, 20),
        (S2, ts(53), 20, 200, 200),
        (S2, ts(54), 200, 201, 201),
        (S2, ts(55), 201, 202, 202),
        (S2, ts(56), 202, 203, 203),
        (S2, ts(57), 203, 204, 204),
        (S2, ts(58), 204, 206, 206),
        (S2, ts(59), 206, None, 206),
    ]
    assert rows(df) == sorted(want, key=lambda t: tuple(str(x) for x in t))


# -- repeated chain patterns on one data point --------------------------------

CHAIN_HEAD = """
        ?s otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp ."""


def test_repeated_value_pattern_binds_every_variable(engine):
    """Two hasValue patterns on one data point bind both variables to
    the point's value, and a hasValue literal next to a variable filters
    the same value; no pattern is dropped."""
    got = rows(engine.query(PREFIXES + "SELECT ?s ?t ?v1 ?v2 WHERE {"
                            + CHAIN_HEAD + """
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v1 .
        ?dp otit_swt:hasValue ?v2 .
    }"""))
    assert len(got) == 16
    assert all(v1 is not None and v1 == v2 for _, _, v1, v2 in got)
    got = rows(engine.query(PREFIXES + "SELECT ?s ?t ?v WHERE {"
                            + CHAIN_HEAD + """
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        ?dp otit_swt:hasValue 105 .
    }"""))
    assert got == [(S1, ts(59), 105)]


def test_repeated_timestamp_pattern_binds_every_variable(engine):
    got = rows(engine.query(PREFIXES + "SELECT ?s ?t1 ?t2 ?v WHERE {"
                            + CHAIN_HEAD + """
        ?dp otit_swt:hasTimestamp ?t1 .
        ?dp otit_swt:hasTimestamp ?t2 .
        ?dp otit_swt:hasValue ?v .
    }"""))
    assert len(got) == 16
    assert all(t1 is not None and t1 == t2 for _, t1, t2, _ in got)


def test_repeated_data_point_pattern_joins_on_one_series(engine):
    """A data point reached from two series variables belongs to both:
    ?a and ?b bind the one series node, exactly the single-pattern
    answer."""
    single = rows(engine.query(PREFIXES + """
    SELECT ?a ?v WHERE {
        ?a otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
    }"""))
    got = rows(engine.query(PREFIXES + """
    SELECT ?a ?b ?v WHERE {
        ?a otit_swt:hasDataPoint ?dp .
        ?b otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
    }"""))
    assert len(single) == 16
    assert all(a == b for a, b, _ in got)
    assert [(a, v) for a, _, v in got] == single


# -- the Spark-side time-series restriction -----------------------------------

@pytest.fixture
def local_tz(monkeypatch):
    """Sets the Python process's local time zone; restores it after."""
    import time

    def set_tz(name):
        monkeypatch.setenv("TZ", name)
        time.tzset()

    yield set_tz
    monkeypatch.undo()
    time.tzset()


def test_timestamp_restriction_ignores_driver_time_zone(spark, engine,
                                                        local_tz):
    """The restriction's timestamp bounds are UTC instants: the driver
    process's local time zone does not move them (the session time zone
    is UTC, the data and the FILTER's literals are UTC)."""
    from otit_swt_spark.engine import Engine

    q = PREFIXES + "SELECT ?ts ?v WHERE {" + CHAIN_HEAD + """
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?t >= "2022-06-01T08:46:55Z"^^xsd:dateTime
               && ?t <= "2022-06-01T08:46:57Z"^^xsd:dateTime)
    }"""

    def run():
        eng = Engine(spark, engine.graph)
        return rows(eng.add_timeseries_table(engine.ts_tables[0]).query(q))

    local_tz("UTC")
    want = run()
    assert sorted(v for _, v in want) == [102, 201, 202, 203, 301, 303]
    for zone in ("Asia/Tokyo", "America/New_York"):
        local_tz(zone)
        assert run() == want, zone


def test_tables_with_mixed_value_types_union_as_strings(spark, engine):
    """One table of doubles and one of strings answer one chain query
    together, and read together through the registered view: the union
    keeps every value as a string rather than failing to cast ``"on"``
    to a double."""
    import pandas as pd

    from otit_swt_spark.engine import Engine
    from otit_swt_spark.terms import XSD_STRING
    from otit_swt_spark.timeseries import in_memory_timeseries

    stamp = pd.to_datetime(["2022-06-01 08:46:52"])
    eng = Engine(spark, engine.graph)
    eng.add_timeseries_table(in_memory_timeseries(
        spark, {"ts1": pd.DataFrame({"timestamp": stamp, "value": [1.5]})}))
    eng.add_timeseries_table(in_memory_timeseries(
        spark, {"ts2": pd.DataFrame({"timestamp": stamp, "value": ["on"]})},
        value_datatype=XSD_STRING))
    got = rows(eng.query(PREFIXES + """
    SELECT ?id ?v WHERE {
        ?s otit_swt:hasExternalId ?id .
        ?s otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
    }"""))
    assert got == [("ts1", "1.5"), ("ts2", "on")]
    eng.register_views("mixed_value_triples", "mixed_value_ts")
    assert rows(spark.sql("SELECT id, value FROM mixed_value_ts")) == got
