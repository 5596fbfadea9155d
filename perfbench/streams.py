"""Seeded query streams. Each workload's stream repeats one fixed pattern
of op classes; the seed draws only the parameters. Cold ops carry query
texts that never repeat within a run (wind-power warm-up windows come
from a disjoint range, and a seen set covers every text); ``R`` slots
repeat the latest cold text, as a dashboard refresh would.

Every query template sits next to the DuckDB SQL that computes its expected
answer over the same generated data, with columns in the query's
projection order.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pandas as pd

from datagen import (PRIORITIES, SEGMENTS, SIGNALS, SITE_NAME, WIND_BASE,
                     WIND_CADENCE_S, WIND_POINTS, WIND_TURBINES)


@dataclass
class Op:
    cls: str                  # template class, e.g. "single", "orders"
    text: str                 # SPARQL, DSL text, or the ingest batch tag
    oracle: str | None        # DuckDB SQL of the expected answer
    kind: str = "sparql"      # "sparql" | "dsl" | "ingest"
    params: dict = field(default_factory=dict)


WIND_PREFIXES = """PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
PREFIX otit:<https://github.com/magbak/otit_swt#>
PREFIX rdfs:<http://www.w3.org/2000/01/rdf-schema#>
PREFIX rds:<https://github.com/magbak/otit_swt/rds_power#>
"""

#: site -> turbine -> generator walk of the reference benchmark case
ASPECT_CHAIN = """
    ?site a rds:Site .
    ?site rdfs:label ?site_label .
    ?site rds:hasFunctionalAspect ?wtur_asp .
    ?wtur_asp rdfs:label ?wtur_label .
    ?wtur rds:hasFunctionalAspectNode ?wtur_asp .
    ?wtur a rds:A .
    ?wtur rds:hasFunctionalAspect ?gensys_asp .
    ?gensys rds:hasFunctionalAspectNode ?gensys_asp .
    ?gensys a rds:RA .
    ?gensys rds:hasFunctionalAspect ?generator_asp .
    ?generator rds:hasFunctionalAspectNode ?generator_asp .
    ?generator a rds:GAA ."""

CALENDAR = """
        BIND(10 * FLOOR(MINUTES(?t) / 10.0) AS ?minute_10)
        BIND(HOURS(?t) AS ?hour)
        BIND(DAY(?t) AS ?day)
        BIND(MONTH(?t) AS ?month)
        BIND(YEAR(?t) AS ?year)"""

SQL_CALENDAR = ("year(timestamp), month(timestamp), day(timestamp), "
                "hour(timestamp), 10 * floor(minute(timestamp) / 10.0)")


def _iso(ts: pd.Timestamp) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S")


def _sql_ts(ts: pd.Timestamp) -> str:
    return f"TIMESTAMP '{ts.strftime('%Y-%m-%d %H:%M:%S')}'"


def wind_single(turbine: int, signal: str, lo, hi) -> Op:
    """The reference's test_should_pushdown_query with the turbine, the
    signal and the time window as parameters."""
    text = WIND_PREFIXES + f"""
    SELECT ?site_label ?wtur_label ?year ?month ?day ?hour ?minute_10
           (AVG(?val) AS ?avg_val) WHERE {{{ASPECT_CHAIN}
        ?generator otit:hasTimeseries ?ts .
        ?ts rdfs:label "{signal}" .
        ?ts otit:hasDataPoint ?dp .
        ?dp otit:hasValue ?val .
        ?dp otit:hasTimestamp ?t .{CALENDAR}
        FILTER(?site_label = "Wind Mountain" && ?wtur_label = "A{turbine}"
               && ?t >= "{_iso(lo)}"^^xsd:dateTime
               && ?t <= "{_iso(hi)}"^^xsd:dateTime)
    }} GROUP BY ?site_label ?wtur_label ?year ?month ?day ?hour ?minute_10"""
    sql = f"""
        SELECT '{SITE_NAME}', 'A{turbine}', {SQL_CALENDAR}, avg(value)
        FROM wind WHERE id = '{SIGNALS[signal]}{turbine}'
          AND timestamp BETWEEN {_sql_ts(lo)} AND {_sql_ts(hi)}
        GROUP BY ALL"""
    return Op("single", text, sql)


def wind_dsl(turbine: int, signal: str, lo, hi, minutes: int) -> Op:
    """A path-DSL query through the benchmark's naming triples:
    site -> turbine -> signal, mean per ``minutes`` bucket."""
    text = (f'Site-"A{turbine}"."{signal}"\n'
            f"from {_iso(lo)}\nto {_iso(hi)}\n"
            f"aggregate mean {minutes}min\n")
    secs = minutes * 60
    sql = f"""
        SELECT '{SITE_NAME}-A{turbine}.{signal}', avg(value),
               to_timestamp(floor(epoch(timestamp) / {secs}) * {secs})::TIMESTAMP
        FROM wind WHERE id = '{SIGNALS[signal]}{turbine}'
          AND timestamp BETWEEN {_sql_ts(lo)} AND {_sql_ts(hi)}
        GROUP BY floor(epoch(timestamp) / {secs})"""
    return Op("dsl", text, sql, kind="dsl")


TPCH_PFX = """PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
PREFIX otit_swt:<https://github.com/magbak/otit_swt#>
"""

_ROUNDED_SUM = "CAST(round(sum(CAST({} AS DECIMAL(25,6))), 0) AS DOUBLE)"


def tpch_orders(priority: str = "1-URGENT", min_price: float | None = None) -> Op:
    """Registry ``sparql_orders_agg`` with the priority and a price floor
    as parameters (the defaults give the registry's query)."""
    filt = "" if min_price is None else f"\n        FILTER(?price >= {min_price:.2f})"
    text = TPCH_PFX + f"""
    SELECT ?nation_name (COUNT(?o) AS ?n_orders)
           (xsd:double(ROUND(SUM(xsd:decimal(?price)))) AS ?revenue) WHERE {{
        ?o <urn:p:byCustomer> ?c .
        ?o <urn:p:priority> "{priority}" .
        ?o <urn:p:totalprice> ?price .
        ?c <urn:p:inNation> ?n .
        ?n <urn:p:name> ?nation_name .{filt}
    }} GROUP BY ?nation_name"""
    where = "" if min_price is None else f" AND o_totalprice >= {min_price:.2f}"
    sql = f"""
        SELECT n_name, count(*), {_ROUNDED_SUM.format('o_totalprice')}
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderpriority = '{priority}'{where}
        GROUP BY n_name"""
    return Op("orders", text, sql)


def tpch_group(segment: str | None = None, min_bal: float | None = None) -> Op:
    """Registry ``sparql_group_agg`` with a market segment and a balance
    floor as parameters."""
    seg = "" if segment is None else f'\n        ?c <urn:p:segment> "{segment}" .'
    filt = "" if min_bal is None else f"\n        FILTER(?bal >= {min_bal:.2f})"
    text = TPCH_PFX + f"""
    SELECT ?nation_name (COUNT(?c) AS ?n_cust)
           (xsd:double(ROUND(SUM(xsd:decimal(?bal)))) AS ?sum_bal)
           (MIN(?bal) AS ?min_bal) (MAX(?bal) AS ?max_bal) WHERE {{
        ?c <urn:p:inNation> ?n .
        FILTER(STRSTARTS(STR(?c), "urn:cust:"))
        ?c <urn:p:acctbal> ?bal .{seg}
        ?n <urn:p:name> ?nation_name .{filt}
    }} GROUP BY ?nation_name"""
    where = []
    if segment is not None:
        where.append(f"c_mktsegment = '{segment}'")
    if min_bal is not None:
        where.append(f"c_acctbal >= {min_bal:.2f}")
    sql = f"""
        SELECT n_name, count(*), {_ROUNDED_SUM.format('c_acctbal')},
               min(c_acctbal), max(c_acctbal)
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        {'WHERE ' + ' AND '.join(where) if where else ''}
        GROUP BY n_name"""
    return Op("group", text, sql)


def tpch_ts_agg(since: pd.Timestamp = pd.Timestamp("2024-01-10")) -> Op:
    """Registry ``sparql_hybrid_ts_agg`` with the lower time bound as
    the parameter: all 1,500 series, more than the id-pushdown cap."""
    text = TPCH_PFX + f"""
    SELECT ?user (COUNT(?v) AS ?n_events)
           (xsd:double(ROUND(SUM(xsd:decimal(?v)))) AS ?sum_value) WHERE {{
        ?u a <urn:t:User> .
        ?u otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .
        FILTER(?t >= "{_iso(since)}"^^xsd:dateTime)
        BIND(STR(?u) AS ?user)
    }} GROUP BY ?user"""
    sql = f"""
        SELECT 'urn:user:' || CAST(user_id AS VARCHAR), count(*),
               {_ROUNDED_SUM.format('value')}
        FROM events WHERE ts >= {_sql_ts(since)}
        GROUP BY user_id"""
    return Op("ts_agg", text, sql)


def tpch_ts_window(bucket_s: int = 600, lo: pd.Timestamp | None = None,
                   hi: pd.Timestamp | None = None) -> Op:
    """Registry ``sparql_hybrid_ts_window`` with the bucket width and a
    time window as parameters."""
    filt = "" if lo is None else (
        f'\n        FILTER(?t >= "{_iso(lo)}"^^xsd:dateTime'
        f' && ?t < "{_iso(hi)}"^^xsd:dateTime)')
    text = TPCH_PFX + f"""
    SELECT ?user ?bucket (COUNT(?v) AS ?n) WHERE {{
        ?u a <urn:t:User> .
        ?u otit_swt:hasTimeseries ?ts .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasTimestamp ?t .
        ?dp otit_swt:hasValue ?v .{filt}
        BIND(STR(?u) AS ?user)
        BIND(otit_swt:DateTimeAsSeconds(?t) AS ?secs)
        BIND((xsd:integer(FLOOR(?secs / {bucket_s}.0)) * {bucket_s}) AS ?bucket)
    }} GROUP BY ?user ?bucket"""
    where = "" if lo is None else (
        f"WHERE ts >= {_sql_ts(lo)} AND ts < {_sql_ts(hi)}")
    sql = f"""
        SELECT 'urn:user:' || CAST(user_id AS VARCHAR),
               {bucket_s} * CAST(floor(epoch(ts) / {bucket_s}) AS BIGINT), count(*)
        FROM events {where} GROUP BY ALL"""
    return Op("ts_window", text, sql)


def ingest_query(batch: int, priority: str) -> Op:
    """Read-your-writes: the just-ingested batch's lineitems joined through
    their new orders to the base graph's customers and nations."""
    text = TPCH_PFX + f"""
    SELECT ?nation_name (COUNT(?li) AS ?n_items) (SUM(?qty) AS ?qty_sum) WHERE {{
        ?li <urn:p:inBatch> "b{batch}" .
        ?li <urn:p:ofOrder> ?o .
        ?li <urn:p:quantity> ?qty .
        ?o <urn:p:priority> "{priority}" .
        ?o <urn:p:byCustomer> ?c .
        ?c <urn:p:inNation> ?n .
        ?n <urn:p:name> ?nation_name .
    }} GROUP BY ?nation_name"""
    sql = f"""
        SELECT n_name, count(*), sum(l_quantity)
        FROM batch_lineitem_{batch} l
        JOIN batch_orders_{batch} o ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderpriority = '{priority}'
        GROUP BY n_name"""
    return Op("ryw", text, sql, params={"batch": batch})


# -- streams ---------------------------------------------------------------

#: op-class pattern per workload; R repeats the latest cold text, as a
#: dashboard refreshes the panel just opened (so the warm samples have the
#: same class mix in every run), I ingests a batch. The wind-power pattern
#: runs two single-signal queries per DSL query: DSL queries are the
#: faster class, so the median cold latency falls inside the single-signal
#: class, not on the boundary between the two.
PATTERNS = {
    "windpower": ["single", *"RRRR", "dsl", *"RRRR", "single", *"RRRR"],
    "mapper_ingest": ["I", "ryw", *"RRRR", "orders", *"RRRR", "ts_agg", *"RRRR",
                      "group", *"RRRR", "ts_window", *"RRRR"],
}
#: one cycle's wall time on a 4-core x86 host after the warm-up, seconds
CYCLE_S = {"windpower": 9.0, "mapper_ingest": 13.0}

#: the last day of the wind data is the warm-up's window range
_WIND_SPLIT = WIND_BASE + pd.Timedelta(days=2)
_WIND_END = WIND_BASE + pd.Timedelta(seconds=(WIND_POINTS - 1) * WIND_CADENCE_S)


class Stream:
    """Endless seeded op generator for one workload."""

    def __init__(self, workload: str, seed: int):
        self.family = "windpower" if workload.startswith("windpower") else workload
        self.rng = random.Random(f"{self.family}:{seed}")
        self.seen: set[str] = set()
        self.history: list[Op] = []
        self.batch = 0

    def warmup(self) -> list[Op]:
        """One cycle's cold ops: a single cold op of each class leaves the
        next few of the same class slower than the rest of the run."""
        return [self._draw(c, warm=True) for c in self.cycle() if c != "R"]

    def cycle(self) -> list[str]:
        return PATTERNS[self.family]

    def cycle_s(self) -> float:
        return CYCLE_S[self.family]

    def next(self, cls: str) -> Op:
        if cls == "R":
            return self.history[-1]
        return self._draw(cls, warm=False)

    def _draw(self, cls: str, warm: bool) -> Op:
        while True:
            op = self._make(cls, warm)
            if op.kind == "ingest" or op.text not in self.seen:
                break
        self.seen.add(op.text)
        if not warm:
            self.history.append(op)
        return op

    def _make(self, cls: str, warm: bool) -> Op:
        r = self.rng
        if self.family == "windpower":
            lo_range = (_WIND_SPLIT, _WIND_END) if warm else (WIND_BASE, _WIND_SPLIT)
            turbine = r.randint(1, WIND_TURBINES)
            signal = r.choice(list(SIGNALS))
            hours = r.choice([2, 4, 6, 8])
            span_s = int((lo_range[1] - lo_range[0]).total_seconds()) - hours * 3600
            lo = lo_range[0] + pd.Timedelta(seconds=600 * r.randrange(span_s // 600))
            hi = lo + pd.Timedelta(hours=hours)
            if cls == "single":
                return wind_single(turbine, signal, lo, hi)
            return wind_dsl(turbine, signal, lo, hi, r.choice([5, 10, 15, 30]))
        if cls == "I":
            self.batch += 1
            return Op("ingest", f"b{self.batch}", None, kind="ingest",
                      params={"batch": self.batch})
        if cls == "ryw":
            return ingest_query(self.batch, r.choice(PRIORITIES))
        # TPC-H templates: continuous parameter draws, and the seen set
        # keeps the warm-up's texts out of the measured stream
        if cls == "orders":
            return tpch_orders(r.choice(PRIORITIES), r.uniform(0, 200_000))
        if cls == "group":
            return tpch_group(r.choice(SEGMENTS), r.uniform(0, 4_000))
        if cls == "ts_agg":
            return tpch_ts_agg(pd.Timestamp("2024-01-01") + pd.Timedelta(
                seconds=r.randrange(30 * 86_400)))
        # one day's window: the answer (a row per user and bucket with
        # events, ~3,300 rows) is then about the same size on every seed,
        # where windows of 1-5 days gave 3,000-17,000 rows, and collecting
        # the larger ones moved the run's warm median by up to 10 %
        lo = pd.Timestamp("2024-01-01") + pd.Timedelta(
            seconds=r.randrange(29 * 86_400))
        return tpch_ts_window(r.choice([300, 600, 900, 1800, 3600]), lo,
                              lo + pd.Timedelta(days=1))
