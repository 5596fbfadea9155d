"""Arrow Flight (SQL) source.

Reference parity: hybrid/src/timeseries_database/arrow_flight_sql_database.rs
:121-230 — the reference authenticates, sends the SQL text as a CMD
FlightDescriptor, calls get_flight_info, then do_get(ticket) per endpoint and
stacks the record batches into one DataFrame on a single node.

Here ``get_flight_info`` runs on the driver, and the row count it returns
(``FlightInfo.total_records``) picks one of two read paths:

- a known count of at most ``INLINE_MAX_ROWS``: the driver calls do_get on
  every endpoint (one thread per endpoint), concatenates the Arrow tables
  and inlines them as a ``LocalRelation`` — the reference's client-side
  stacking, with no Spark job, shuffle or Python worker;
- an unknown count (-1) or a larger one: the endpoints (ticket +
  locations) are parallelized into a DataFrame and each EXECUTOR opens its
  own FlightClient and streams its ticket's batches via ``mapInPandas``, so
  a store that shards a big result across N endpoints scales the fetch
  across the cluster and the driver holds none of it.
"""

from __future__ import annotations

from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from otit_swt_spark.terms import XSD_STRING
from otit_swt_spark.timeseries import TimeSeriesTable

#: Largest result (by ``FlightInfo.total_records``) fetched on the driver
#: and inlined as a LocalRelation; it bounds the driver memory one read
#: takes. Larger or unknown counts stream through the executors. Near the
#: measured crossover: a read plus a full-scan aggregate of a 3-column
#: result on Spark local[2] (4-core x86) was faster inline up to 125k
#: rows, tied at 150k, and slower from 200k rows.
INLINE_MAX_ROWS = 125_000

#: Most endpoints the driver fetches at once: the store picks the
#: endpoint count, so it must not pick the driver's thread count.
_FETCH_THREADS_MAX = 16


def _require_flight():
    try:
        import pyarrow.flight as flight  # noqa: F401

        return flight
    except ImportError as e:  # pragma: no cover - env always has pyarrow
        raise ImportError(
            "pyarrow.flight is required for the Arrow Flight source") from e


def _call_options(flight, username: str | None, password: str | None,
                  client=None):
    """Bearer-token call options from a basic-auth handshake (the
    reference's authenticate() + per-call auth header)."""
    if username is None or client is None:
        return None
    pair = client.authenticate_basic_token(username, password or "")
    return flight.FlightCallOptions(headers=[pair])


def _flight_info(location: str, sql: str, username: str | None,
                 password: str | None):
    """The ``FlightInfo`` for ``sql``: one authenticated driver-side
    get_flight_info round trip; no record batches move."""
    flight = _require_flight()
    with flight.FlightClient(location) as client:
        opts = _call_options(flight, username, password, client)
        descriptor = flight.FlightDescriptor.for_command(sql.encode("utf-8"))
        return client.get_flight_info(descriptor, opts)


def _endpoints(info, location: str) -> list[tuple[bytes, list[str]]]:
    """``(ticket, location URIs)`` per endpoint; an endpoint that names no
    location is served where the FlightInfo came from."""
    return [
        (ep.ticket.ticket,
         [loc.uri.decode() if isinstance(loc.uri, bytes) else str(loc.uri)
          for loc in ep.locations] or [location])
        for ep in info.endpoints
    ]


def _fetch_on_driver(info, location: str, username: str | None,
                     password: str | None):
    """Every endpoint's record batches as one Arrow table, fetched on the
    driver by one authenticated client per endpoint, the endpoints in
    parallel threads (``info.schema``'s empty table when there are none)."""
    import pyarrow as pa

    flight = _require_flight()

    def get(endpoint):
        ticket, locations = endpoint
        with flight.FlightClient(locations[0]) as client:
            opts = _call_options(flight, username, password, client)
            return client.do_get(flight.Ticket(ticket), opts).read_all()

    endpoints = _endpoints(info, location)
    with ThreadPoolExecutor(
            max(1, min(len(endpoints), _FETCH_THREADS_MAX))) as pool:
        tables = list(pool.map(get, endpoints))
    return pa.concat_tables(tables) if tables else info.schema.empty_table()


def flight_sql_read(
    spark: SparkSession,
    location: str,
    query: str,
    *,
    username: str | None = None,
    password: str | None = None,
) -> DataFrame:
    """Execute ``query`` against an Arrow Flight SQL endpoint and return the
    result as a Spark DataFrame.

    ``location`` is a Flight URI (``grpc://host:port``). The SQL text is
    sent as a CMD FlightDescriptor exactly like the reference (it notes the
    same workaround: Dremio-style servers accept the raw query bytes where
    the spec says CommandStatementQuery). A result the store counts at no
    more than ``INLINE_MAX_ROWS`` rows is fetched on the driver and
    inlined; any other is fetched by the executors, one task per
    endpoint."""
    from pyspark.sql.pandas.types import from_arrow_schema

    info = _flight_info(location, query, username, password)
    spark_schema = from_arrow_schema(info.schema)
    if 0 <= info.total_records <= INLINE_MAX_ROWS:
        return spark.createDataFrame(
            _fetch_on_driver(info, location, username, password),
            schema=spark_schema)

    # distributed fetch: one row per endpoint, executors stream their ticket
    endpoints = _endpoints(info, location)
    ep_df = spark.createDataFrame(
        endpoints, "ticket binary, locations array<string>",
    ).repartition(max(len(endpoints), 1))
    creds = (username, password)

    def fetch(batches: Iterator) -> Iterator:
        import pyarrow.flight as fl

        for pdf in batches:
            for _, row in pdf.iterrows():
                c = fl.FlightClient(row["locations"][0])
                o = _call_options(fl, creds[0], creds[1], c)
                for chunk in c.do_get(fl.Ticket(bytes(row["ticket"])), o):
                    yield chunk.data.to_pandas()

    return ep_df.mapInPandas(fetch, schema=spark_schema)


def _sql_str_literal(v) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _sql_ts_literal(dtv) -> str:
    """Render a Python datetime as an ANSI/PostgreSQL timestamp literal.
    tz-aware values are normalized to UTC and rendered naive — the same
    UTC convention the engine's session and the partition-prune rewrite
    use, and what Dremio-style stores expect for TIMESTAMP columns."""
    import datetime as _dt

    if dtv.tzinfo is not None:
        dtv = dtv.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return "TIMESTAMP " + _sql_str_literal(dtv.isoformat(sep=" "))


def _ident(name: str) -> str:
    """A double-quoted (PostgreSQL-dialect) identifier."""
    return '"' + name.replace('"', '""') + '"'


def _in_list(lhs: str, values) -> str:
    """``lhs IN (...)`` over sorted scalar ids or row-value tuples; an
    empty list renders the contradiction ``1 = 0``, not invalid SQL."""
    items = ", ".join(
        "(" + ", ".join(_sql_str_literal(x) for x in v) + ")"
        if isinstance(v, tuple) else _sql_str_literal(v)
        for v in sorted(values))
    return f"{lhs} IN ({items})" if items else "1 = 0"


def _bounds(ts: str, lower, upper) -> list[str]:
    """Timestamp conditions from ``(value, strict)`` pairs (None: open)."""
    conds = []
    if lower is not None:
        conds.append(f"{ts} {'>' if lower[1] else '>='} "
                     f"{_sql_ts_literal(lower[0])}")
    if upper is not None:
        conds.append(f"{ts} {'<' if upper[1] else '<='} "
                     f"{_sql_ts_literal(upper[0])}")
    return conds


def _granule_key(granule: tuple, ts: str) -> list[str]:
    """The time-granule GROUP BY key over ``ts`` (none for ``("all",)``)."""
    if granule[0] == "bucket":
        return [f"FLOOR(EXTRACT(EPOCH FROM {ts}) / {int(granule[1])})"]
    if granule[0] == "trunc":
        unit = str(granule[1])
        if unit not in ("year", "month", "day", "hour", "minute", "second"):
            raise ValueError(f"unsupported granule unit {unit!r}")
        return [f"DATE_TRUNC('{unit}', {ts})"]
    if granule[0] != "all":
        raise ValueError(f"unsupported granule {granule!r}")
    return []


def _where(id_lhs: str, ids, ts: str, ts_lower, ts_upper, *extra) -> str:
    """The restriction every renderer sends: id IN-list, timestamp
    bounds, then ``extra`` conditions; empty when nothing restricts."""
    conds = [] if ids is None else [_in_list(id_lhs, ids)]
    conds += _bounds(ts, ts_lower, ts_upper)
    conds += extra
    return f" WHERE {' AND '.join(conds)}" if conds else ""


def _value_partials(val: str, agg_cast: str, on: bool, suffix: str) -> str:
    """SUM/MIN/MAX partial columns — typed NULLs when ``on`` is false."""
    return ", ".join(
        f"CAST({f'{fn}({val})' if on else 'NULL'} AS {agg_cast}) "
        f'AS "__gp_{fn.lower()}{suffix}"' for fn in ("SUM", "MIN", "MAX"))


def render_restricted_sql(
    base_query: str,
    *,
    identifier_column: str,
    timestamp_column: str,
    value_column: str = "value",
    ids: list[str] | None = None,
    ts_lower=None,
    ts_upper=None,
    value_eq=None,
) -> str:
    """Render the composed time-series restriction into PostgreSQL-dialect
    SQL executed BY the external store, wrapping the user's registered
    query as a derived table.

    Reference parity: timeseries_sql_rewrite.rs:115-205 (create_query —
    external-id IN-list + timestamp bounds + value conditions rendered
    with sea-query's PostgresQueryBuilder) as executed through
    arrow_flight_sql_database.rs:121-230. Against a remote 100 TB TSDB
    this is THE fetch lever: the store sends only the series and window
    the query touches instead of the whole registered result set.

    Identifiers are double-quoted (PG dialect), string literals
    single-quote-escaped; bounds are INCLUSIVE supersets (strict bounds
    are relaxed by the caller) because every constraint is re-applied
    Spark-side — the rendered WHERE only has to be implied-by, never
    equivalent-to, the query's filters."""
    value = []
    if value_eq is not None:
        qval = _ident(value_column)
        if isinstance(value_eq, bool):
            value.append(f"{qval} = {'TRUE' if value_eq else 'FALSE'}")
        elif isinstance(value_eq, (int, float)):
            value.append(f"{qval} = {value_eq!r}")
        else:
            value.append(f"{qval} = {_sql_str_literal(value_eq)}")
    where = _where(_ident(identifier_column), ids, _ident(timestamp_column),
                   None if ts_lower is None else (ts_lower, False),
                   None if ts_upper is None else (ts_upper, False), *value)
    if not where:
        return base_query
    return f"SELECT * FROM ({base_query}) ts_pushdown{where}"


def render_grouped_sql(
    base_query: str,
    *,
    identifier_column: str,
    timestamp_column: str,
    value_column: str = "value",
    value_aggs: list[bool],
    granule: tuple = ("all",),
    ids: list | None = None,
    ts_lower=None,
    ts_upper=None,
    agg_cast: str = "DOUBLE",
) -> str:
    """Render the reference's GroupedTimeSeriesQuery
    (timeseries_sql_rewrite.rs:470-560 create_grouped_query, decided by
    preparing/graph_patterns/group_pattern.rs:18-105) over one chain or
    the synchronized inner join of several (inner_join_selects,
    :356-428), one chain per ``value_aggs`` flag, as a remote PARTIAL
    aggregation. Chain ``i`` reads the registered relation as ``c{i}``;
    chains after the first join ``c0`` on the timestamp. The store
    groups by (id tuple, time granule) and returns ``id_1..id_n``, each
    group's MIN(timestamp) as a representative instant, the joined
    COUNT(*) as ``__gp_cnt`` and per-chain ``__gp_n/sum/min/max_<i>``
    partials. Spark recomputes the exact grouping keys from the
    representative and re-aggregates, so the remote grouping only has to
    REFINE the query's granularity, never replicate its expression
    semantics. COUNT(*) counts JOINED rows, so duplicate timestamps
    multiply exactly as a Spark-side synchronized join multiplies them.
    Against a remote 100 TB TSDB this is THE downsampling lever: a
    10-minute AVG over a year fetches ~52k rows per series instead of
    every point.

    ``ids`` pins the chain identities: bare ids for one chain
    (``c0."id" IN (...)``), ``(id_1..id_n)`` tuples for several (a
    row-value IN list, PostgreSQL/DuckDB dialect). Unlike
    render_restricted_sql's implied-by bounds, ``ts_lower`` /
    ``ts_upper`` arrive as ``(value, strict)`` pairs and render EXACTLY:
    a relaxed bound would fold out-of-window boundary points into
    surviving groups' partials, which no Spark-side re-filter could
    undo.

    granule: ``("all",)`` — one row per id tuple; ``("bucket", K)`` —
    FLOOR(epoch/K) tumbling buckets (K whole seconds, epoch-aligned like
    the engine's DateTimeAsSeconds bucketing); ``("trunc", unit)`` —
    DATE_TRUNC calendar buckets. All forms are plain ANSI/PostgreSQL
    SQL a Dremio/DuckDB/PG-dialect Flight store executes as-is.

    A chain whose flag is false (COUNT(*)/COUNT(v) only, incl.
    value-less chains) renders NULL partials instead of SUM/MIN/MAX
    casts — against a VARCHAR value column those would hard-error
    remotely for no benefit."""
    qid, qts = _ident(identifier_column), _ident(timestamp_column)
    qval = _ident(value_column)
    chains = range(len(value_aggs))
    id_cols = [f"c{i}.{qid}" for i in chains]
    sel = [f'{c} AS "id_{i + 1}"' for i, c in enumerate(id_cols)]
    sel.append(f"MIN(c0.{qts}) AS {qts}")
    sel.append('CAST(COUNT(*) AS BIGINT) AS "__gp_cnt"')
    for i in chains:
        sel.append(f'CAST(COUNT(c{i}.{qval}) AS BIGINT) AS "__gp_n_{i + 1}"')
        sel.append(_value_partials(f"c{i}.{qval}", agg_cast, value_aggs[i],
                                   f"_{i + 1}"))
    joins = "".join(f" JOIN ({base_query}) c{i} ON c{i}.{qts} = c0.{qts}"
                    for i in chains if i)
    id_lhs = id_cols[0] if len(id_cols) == 1 else f"({', '.join(id_cols)})"
    where = _where(id_lhs, ids, f"c0.{qts}", ts_lower, ts_upper)
    keys = ", ".join([*id_cols, *_granule_key(granule, f"c0.{qts}")])
    return (f"SELECT {', '.join(sel)} FROM ({base_query}) c0{joins}"
            f"{where} GROUP BY {keys}")


#: remote SQL type of the partial columns per Spark partial type
_SQL_AGG_TYPE = {"long": "BIGINT", "double": "DOUBLE"}


class FlightTimeSeriesTable(TimeSeriesTable):
    """A TimeSeriesTable backed by a REMOTE Flight SQL store, fetched
    lazily so the compiler can render the composed restriction (id
    IN-list, timestamp bounds, value equality) into the remote query
    BEFORE anything is pulled — the reference's ArrowFlightSQLDatabase
    (arrow_flight_sql_database.rs:121-230) + timeseries_sql_rewrite.rs
    pushdown. Every read goes through :func:`flight_sql_read`, so a
    restricted answer the store counts within ``INLINE_MAX_ROWS`` is
    inlined from the driver, and a larger or uncounted one streams to the
    executors per endpoint."""

    supports_pushdown = True

    def __init__(self, location: str, query: str, *,
                 username: str | None = None, password: str | None = None,
                 **ts_kwargs):
        super().__init__(path=f"flight://{location}", **ts_kwargs)
        # NOTE: deliberately no SparkSession anywhere on this object —
        # it is driver-side state, every method takes the session
        # explicitly, and keeping it off the instance guarantees an
        # accidental closure capture can never try to pickle it
        self.location = location
        self.base_query = query
        self._username = username
        self._password = password
        self._value_xsd_cache: str | None = None

    # Grouped pushdown fires only when it actually shrinks the fetch:
    # opt out when the grouped row count exceeds this fraction of the
    # point count (a grouped partial row carries cnt/n/sum/min/max — at
    # buckets ~= points it ships MORE bytes than the raw points it
    # replaces). 0.5 ~= the partial-row/point-row width ratio.
    GROUPED_PUSHDOWN_MAX_RATIO = 0.5

    def _read(self, spark: SparkSession, sql: str) -> DataFrame:
        return flight_sql_read(spark, self.location, sql,
                               username=self._username,
                               password=self._password)

    def _probe_one_row(self, sql: str):
        """Driver-side one-row fetch (no Spark job) through the driver
        fetch of :func:`flight_sql_read`'s inline path — the probe result
        is a single row of two BIGINTs, never worth a distributed read."""
        creds = (self._username, self._password)
        table = _fetch_on_driver(_flight_info(self.location, sql, *creds),
                                 self.location, *creds)
        return table.to_pylist()[0] if table.num_rows else None

    def load(self, spark: SparkSession) -> DataFrame:
        if self._df is None:
            self._df = self._read(spark, self.base_query)
        return self._df

    def value_xsd(self, spark: SparkSession) -> str:
        """Value datatype WITHOUT triggering a remote data fetch: the
        declared hint wins; otherwise one get_flight_info round-trip
        yields the result schema (no record batches move). The base
        implementation would call load() — a full fetch of the
        unrestricted base query, the exact thing the lazy table exists
        to avoid."""
        if self.value_datatype:
            return self.value_datatype
        if self._value_xsd_cache is None:
            from pyspark.sql.pandas.types import from_arrow_schema

            from otit_swt_spark.terms import xsd_for_spark_type

            info = _flight_info(self.location, self.base_query,
                                self._username, self._password)
            self._value_xsd_cache = xsd_for_spark_type(
                from_arrow_schema(info.schema)[self.value_column].dataType)
        return self._value_xsd_cache

    def restricted_normalized(self, spark: SparkSession, *,
                              ids: list[str] | None = None,
                              ts_lower=None, ts_upper=None,
                              value_eq=None) -> DataFrame:
        """The restriction rendered into the store's own SQL
        (render_restricted_sql); unrestricted, the base query's fetch."""
        if isinstance(value_eq, str):
            # A string equality renders as value = 'lit'; against a
            # numeric remote value column that HARD-ERRORS on
            # PostgreSQL-dialect stores (invalid input syntax) where the
            # Spark-side null-safe comparison would just return empty.
            # Push string equality only when the value type is known to
            # be string; otherwise leave it to the Spark-side filter.
            try:
                if self.value_xsd(spark) != XSD_STRING:
                    value_eq = None
            except Exception:
                value_eq = None
        sql = render_restricted_sql(
            self.base_query,
            identifier_column=self.identifier_column,
            timestamp_column=self.timestamp_column,
            value_column=self.value_column,
            ids=ids, ts_lower=ts_lower, ts_upper=ts_upper,
            value_eq=value_eq)
        if sql == self.base_query:
            return self.normalized(spark)
        return self._normalize(self._read(spark, sql))

    def grouped_restricted_normalized(self, spark: SparkSession, *,
                                      value_aggs: list[bool],
                                      granule: tuple,
                                      ids: list | None = None,
                                      ts_lower=None, ts_upper=None,
                                      agg_type: str = "double"):
        """Execute the grouped pushdown (render_grouped_sql) on the
        remote store — one row per (id tuple, granule) crosses the wire
        instead of one point stream per chain."""
        cast = _SQL_AGG_TYPE.get(agg_type)
        if cast is None:
            return None
        sql = render_grouped_sql(
            self.base_query,
            identifier_column=self.identifier_column,
            timestamp_column=self.timestamp_column,
            value_column=self.value_column,
            value_aggs=value_aggs, granule=granule, ids=ids,
            ts_lower=ts_lower, ts_upper=ts_upper, agg_cast=cast)
        # Cost model: a sub-point-interval bucket (or a calendar trunc
        # finer than the sampling rate) makes buckets ~= points, and the
        # grouped form then ships as many — and WIDER — rows than the
        # point fetch. One remote aggregate over the grouped query itself
        # (same restriction and keys by construction; the store drops
        # the unread partials) decides; on opt-out the caller falls back
        # to the (always-correct) point fetch. granule ("all",) is one
        # row per id tuple — always worthwhile.
        if granule[0] != "all":
            try:
                probe = self._probe_one_row(
                    'SELECT CAST(SUM("__gp_cnt") AS BIGINT) AS "__pts", '
                    'CAST(COUNT(*) AS BIGINT) AS "__bkts" '
                    f"FROM ({sql}) ts_probe")
            except Exception:
                probe = None  # unprobeable store: keep the pushdown
            if probe is not None and probe["__pts"] and \
                    (probe["__bkts"]
                     > self.GROUPED_PUSHDOWN_MAX_RATIO * probe["__pts"]):
                return None
        df = self._read(spark, sql)
        chains = range(1, len(value_aggs) + 1)
        cols = [F.col(f"id_{i}").cast("string").alias(f"id_{i}")
                for i in chains]
        cols.append(F.col(self.timestamp_column).alias("timestamp"))
        cols.append(F.col("__gp_cnt").cast("long").alias("__gp_cnt"))
        for i in chains:
            cols.append(F.col(f"__gp_n_{i}").cast("long").alias(f"__gp_n_{i}"))
            cols += [F.col(f"__gp_{k}_{i}").cast(agg_type).alias(f"__gp_{k}_{i}")
                     for k in ("sum", "min", "max")]
        return df.select(*cols)


def flight_timeseries(
    spark: SparkSession,
    location: str,
    query: str,
    *,
    identifier_column: str = "id",
    timestamp_column: str = "timestamp",
    value_column: str = "value",
    value_datatype: str | None = None,
    username: str | None = None,
    password: str | None = None,
) -> TimeSeriesTable:
    """Register a Flight SQL result set as a TimeSeriesTable (the
    reference's ArrowFlightSQLDatabase role in its TimeSeriesQueryable
    registry). Returns the LAZY pushdown-capable table: nothing is
    fetched at registration; per query the compiler renders the id
    IN-list / timestamp bounds into the remote SQL and the store sends
    only the touched slice."""
    return FlightTimeSeriesTable(
        location, query,
        username=username, password=password,
        identifier_column=identifier_column,
        timestamp_column=timestamp_column,
        value_column=value_column,
        value_datatype=value_datatype,
    )
