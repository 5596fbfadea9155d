"""DuckDB-backed Arrow Flight store for the ``windpower_flight`` workload,
run as a child process of the benchmark.

The store executes each received SQL text with DuckDB over the wind-power
frame and serves the result across two endpoints, like the
``flight_pushdown_server`` fixture in ``tests/test_sources.py``. It counts
what crosses the wire and reports the counts through
``do_action("stats")``, so the ``flight.*`` metrics are read from outside
the engine. ``do_action("shutdown")`` stops it.

Usage: ``python3 perfbench/flight_server.py`` prints ``PORT <n>`` once the
store is listening.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import duckdb
import pyarrow.flight as flight

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: DuckDB threads; one query executes at a time (a lock), so the store
#: uses at most this many of the cores it shares with Spark
DUCKDB_THREADS = 1


class Store(flight.FlightServerBase):
    def __init__(self, con):
        super().__init__("grpc://127.0.0.1:0")
        self.con = con
        self.lock = threading.Lock()
        self.results: dict[str, object] = {}
        self.n = 0
        self.stats = {"remote_queries": 0, "probe_requests": 0,
                      "rows_served": 0, "bytes_served": 0, "busy_s": 0.0}

    def get_flight_info(self, context, descriptor):
        t0 = time.perf_counter()
        sql = descriptor.command.decode()
        with self.lock:
            table = self.con.execute(sql).arrow()
            self.n += 1
            n = self.n
            # probe-shaped: a request answered by at most one row
            key = "probe_requests" if table.num_rows <= 1 else "remote_queries"
            self.stats[key] += 1
            half = table.num_rows // 2
            self.results[f"q{n}-0"] = table.slice(0, half)
            self.results[f"q{n}-1"] = table.slice(half)
            self.stats["busy_s"] += time.perf_counter() - t0
        loc = flight.Location.for_grpc_tcp("127.0.0.1", self.port)
        endpoints = [flight.FlightEndpoint(f"q{n}-{k}".encode(), [loc])
                     for k in (0, 1)]
        return flight.FlightInfo(table.schema, descriptor, endpoints,
                                 table.num_rows, -1)

    def do_get(self, context, ticket):
        t0 = time.perf_counter()
        with self.lock:
            t = self.results[ticket.ticket.decode()]
            self.stats["rows_served"] += t.num_rows
            self.stats["bytes_served"] += t.nbytes
            self.stats["busy_s"] += time.perf_counter() - t0
        return flight.RecordBatchStream(t)

    def do_action(self, context, action):
        if action.type == "stats":
            with self.lock:
                body = json.dumps(self.stats).encode()
            yield flight.Result(body)
        elif action.type == "shutdown":
            threading.Thread(target=self.shutdown, daemon=True).start()
            yield flight.Result(b"ok")
        else:
            raise flight.FlightServerError(f"unknown action {action.type}")


def read_stats(client) -> dict:
    res = list(client.do_action(flight.Action("stats", b"")))
    return json.loads(res[0].body.to_pybytes())


def main() -> None:
    from datagen import wind_frame

    con = duckdb.connect()
    con.execute(f"SET threads = {DUCKDB_THREADS}")
    frame = wind_frame()
    con.register("frame", frame)
    con.execute("CREATE TABLE ts AS SELECT * FROM frame")
    con.unregister("frame")
    server = Store(con)
    print(f"PORT {server.port}", flush=True)
    server.serve()


if __name__ == "__main__":
    main()
