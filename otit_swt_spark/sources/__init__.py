"""External time-series backends (SURVEY §2.1).

The reference reaches external stores through three connectors: an
in-memory Polars map (simple_in_memory_timeseries.rs), Arrow Flight SQL to
Dremio (arrow_flight_sql_database.rs), and OPC UA history reads
(opcua_history_read.rs). In Spark the first is
:func:`otit_swt_spark.timeseries.in_memory_timeseries`; the Flight SQL
backend is real (flight.py — driver does get_flight_info, then fetches a
bounded result itself and inlines it, or lets executors stream the
endpoint tickets of a larger one); JDBC is the alternative SQL transport (Catalyst
pushes predicates/projections into the remote query); OPC UA's server-side
aggregation is expressed as a batch window aggregation, with the session
transport stubbed.
"""

from otit_swt_spark.sources.csv import csv_timeseries
from otit_swt_spark.sources.flight import flight_sql_read, flight_timeseries
from otit_swt_spark.sources.jdbc import jdbc_timeseries
from otit_swt_spark.sources.opcua import OPCUAHistoryRead, processed_interval_aggregation

__all__ = [
    "csv_timeseries",
    "flight_sql_read",
    "flight_timeseries",
    "jdbc_timeseries",
    "OPCUAHistoryRead",
    "processed_interval_aggregation",
]
