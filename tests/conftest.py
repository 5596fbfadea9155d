import io
import json
import os
import time

import pandas as pd
import pytest

from otit_swt_spark.engine import Engine
from otit_swt_spark.graph import GraphStore
from otit_swt_spark.session import get_spark
from otit_swt_spark.terms import XSD_UNSIGNED_INT
from otit_swt_spark.timeseries import in_memory_timeseries

# The reference test knowledge graph:
# hybrid/tests/query_execution_testdata/testdata.sparql
TESTDATA_SPARQL = """
PREFIX case: <http://example.org/case#>
PREFIX types: <http://example.org/types#>
PREFIX otit_swt: <https://github.com/magbak/otit_swt#>
PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
INSERT DATA {
    case:myWidget1 types:hasSensor case:mySensor1 .
    case:myWidget1 types:hasSomething case:mySomething1 .
    case:myWidget2 types:hasSensor case:mySensor2 .
    case:myWidget1 a types:BigWidget .
    case:myWidget2 a types:SmallWidget .
    case:mySensor1 otit_swt:hasTimeseries case:myTimeseries1 .
    case:myTimeseries1 otit_swt:hasDatatype xsd:unsignedInt .
    case:mySensor2 otit_swt:hasTimeseries case:myTimeseries2 .
    case:myTimeseries2 otit_swt:hasDatatype xsd:unsignedInt .
    case:myTimeseries1 otit_swt:hasExternalId "ts1" .
    case:myTimeseries2 otit_swt:hasExternalId "ts2" .
}
"""

# hybrid/tests/query_execution_testdata/ts1.csv / ts2.csv
TS1_CSV = """timestamp,value
2022-06-01T08:46:52,1
2022-06-01T08:46:53,10
2022-06-01T08:46:54,100
2022-06-01T08:46:55,301
2022-06-01T08:46:56,102
2022-06-01T08:46:57,303
2022-06-01T08:46:58,304
2022-06-01T08:46:59,105
"""

TS2_CSV = """timestamp,value
2022-06-01T08:46:52,2
2022-06-01T08:46:53,20
2022-06-01T08:46:54,200
2022-06-01T08:46:55,201
2022-06-01T08:46:56,202
2022-06-01T08:46:57,203
2022-06-01T08:46:58,204
2022-06-01T08:46:59,206
"""


#: One JSON line per test (node id, phase, outcome, duration and, on
#: failure, the traceback text) per pytest run, so a flaky failure's
#: traceback outlives the terminal it was printed to. Gitignored.
LEDGER = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                      ".test-ledger",
                      time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}.jsonl")


def pytest_runtest_logreport(report):
    # the call phase of every test, plus a setup or teardown that failed
    # or skipped it
    if report.when != "call" and report.passed:
        return
    rec = {"nodeid": report.nodeid, "when": report.when,
           "outcome": report.outcome, "duration_s": round(report.duration, 3)}
    if report.failed:
        rec["traceback"] = report.longreprtext
    os.makedirs(os.path.dirname(LEDGER), exist_ok=True)
    with open(LEDGER, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("otit_swt_spark_tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    graph = GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL)
    graph.df = graph.df.cache()

    def read_ts(text):
        pdf = pd.read_csv(io.StringIO(text))
        pdf["timestamp"] = pd.to_datetime(pdf["timestamp"])
        pdf["value"] = pdf["value"].astype("int64")
        return pdf

    ts = in_memory_timeseries(
        spark, {"ts1": read_ts(TS1_CSV), "ts2": read_ts(TS2_CSV)},
        value_datatype=XSD_UNSIGNED_INT,
    )
    eng = Engine(spark, graph)
    eng.add_timeseries_table(ts)
    return eng


def rows(df, *cols):
    """Collect to a sorted list of tuples for order-insensitive comparison."""
    out = [tuple(r[c] for c in (cols or df.columns)) for r in df.collect()]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


@pytest.fixture()
def flight_pushdown_server():
    """In-process Flight SQL server that EXECUTES the received query with
    DuckDB and serves the result across two endpoints — so a pushdown
    test can assert both the remote query text and the actual number of
    rows that crossed the wire. Table: ts1/ts2/ts3 x 8 timestamps."""
    flight = pytest.importorskip("pyarrow.flight")
    import threading

    import duckdb

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE ts AS
        SELECT 'ts' || s.i AS id,
               TIMESTAMP '2022-06-01 08:46:52' + INTERVAL (t.j) SECOND
                   AS timestamp,
               CAST(s.i * 100 + t.j AS DOUBLE) AS value
        FROM (SELECT unnest(range(1, 4)) AS i) s,
             (SELECT unnest(range(0, 8)) AS j) t
    """)

    class Server(flight.FlightServerBase):
        def __init__(self):
            super().__init__("grpc://127.0.0.1:0")
            self.queries = []
            self.rows_served = 0
            self._results = {}
            self._lock = threading.Lock()
            self._n = 0

        def get_flight_info(self, context, descriptor):
            q = descriptor.command.decode()
            with self._lock:
                self.queries.append(q)
                table = con.execute(q).arrow()
                self._n += 1
                n = self._n
            loc = flight.Location.for_grpc_tcp("127.0.0.1", self.port)
            half = table.num_rows // 2
            self._results[f"q{n}-0"] = table.slice(0, half)
            self._results[f"q{n}-1"] = table.slice(half)
            endpoints = [
                flight.FlightEndpoint(f"q{n}-0".encode(), [loc]),
                flight.FlightEndpoint(f"q{n}-1".encode(), [loc]),
            ]
            return flight.FlightInfo(table.schema, descriptor, endpoints,
                                     table.num_rows, -1)

        def do_get(self, context, ticket):
            t = self._results[ticket.ticket.decode()]
            with self._lock:
                self.rows_served += t.num_rows
            return flight.RecordBatchStream(t)

    server = Server()
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    yield server
    server.shutdown()
