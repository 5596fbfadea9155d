"""Time-series table registration.

Reference parity: ``TimeSeriesTable`` declaration at
hybrid/src/timeseries_database/timeseries_sql_rewrite.rs:90-100
(schema, value/timestamp/identifier columns, value XSD datatype, optional
year/month/day partition columns) and the in-memory variant at
hybrid/src/timeseries_database/simple_in_memory_timeseries.rs:17-19.

Spark-first: the table is one tall DataFrame ``(id, timestamp, value, ...)``
— ideally date-partitioned parquet, whose declared year/month/day columns
the table prunes from the timestamp bounds it is given. Every table
applies a query's restriction itself: the compiler hands each registered
table the same external-id list and timestamp bounds
(``restricted_normalized``) and, under a pushed-down
GROUP BY, asks for grouped partials over one chain or the synchronized
join of several (``grouped_restricted_normalized``). The base class does
this with Spark filters over its own relation (one chain only), so for
parquet and in-memory tables the reference's SQL-translation layer
(timeseries_sql_rewrite.rs) disappears into the one Spark plan; a remote
store (sources/flight.py) overrides both methods to render the same
restriction, and the N-chain join, into its own SQL.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, functions as F

from otit_swt_spark.terms import XSD_DOUBLE, xsd_for_spark_type


def _utc_lit(dtv: _dt.datetime):
    """A timestamp literal for a naive-UTC (or tz-aware) datetime. A
    naive datetime literal would be read in the Python process's local
    time zone; an aware one denotes its instant wherever the driver
    runs."""
    if dtv.tzinfo is None:
        dtv = dtv.replace(tzinfo=_dt.timezone.utc)
    return F.lit(dtv)


class TimeSeriesTable:
    """Declares where time-series rows live and which columns carry the
    identifier / timestamp / value, and restricts them per query: the
    base class with Spark filters, a remote store by overriding its two
    methods — ``restricted_normalized`` for points and
    ``grouped_restricted_normalized`` for the grouped partials of one
    chain or N synchronized ones."""

    #: True when the table can compute grouped partials REMOTELY
    #: (grouped_restricted_normalized aggregating per (id tuple, granule)
    #: in the backing store — the reference's GroupedTimeSeriesQuery,
    #: timeseries_sql_rewrite.rs:470-560). The compiler only analyses a
    #: GROUP BY for pushdown when some registered table can; every table
    #: applies the point restriction regardless.
    supports_pushdown = False

    def __init__(
        self,
        df: DataFrame | None = None,
        *,
        path: str | None = None,
        identifier_column: str = "id",
        timestamp_column: str = "timestamp",
        value_column: str = "value",
        value_datatype: str | None = None,
        year_column: str | None = None,
        month_column: str | None = None,
        day_column: str | None = None,
    ):
        if df is None and path is None:
            raise ValueError("TimeSeriesTable needs df or path")
        self._df = df
        self.path = path
        self.identifier_column = identifier_column
        self.timestamp_column = timestamp_column
        self.value_column = value_column
        self.value_datatype = value_datatype
        self.year_column = year_column
        self.month_column = month_column
        self.day_column = day_column

    def load(self, spark: SparkSession) -> DataFrame:
        if self._df is not None:
            return self._df
        return spark.read.parquet(self.path)

    def normalized(self, spark: SparkSession) -> DataFrame:
        """The relation projected to the canonical (id, timestamp, value)
        shape."""
        return self._normalize(self.load(spark))

    def _normalize(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(self.identifier_column).cast("string").alias("id"),
            F.col(self.timestamp_column).alias("timestamp"),
            F.col(self.value_column).alias("value"))

    def _prune_date_partitions(self, df: DataFrame, dtv: _dt.datetime,
                               lower: bool) -> DataFrame:
        """``df`` restricted to the date partitions that can hold a
        timestamp ``>= dtv`` (``lower``) or ``<= dtv``: a lexicographic
        bound over the declared prefix of (year, month, day), compared
        with ``dtv``'s UTC date — the layout's columns are derived from
        UTC timestamps. A row with a null partition value passes, and a
        table that declares no year column is not filtered. The Spark
        form of the reference's partition rewrite
        (hybrid/src/timeseries_database/timeseries_sql_rewrite/
        partitioning_support.rs): Catalyst turns it into PartitionFilters
        on a partitioned scan."""
        if self.year_column is None:
            return df
        if dtv.tzinfo is not None:
            dtv = dtv.astimezone(_dt.timezone.utc)
        d = dtv.date()
        prefix = []
        for col, v in ((self.year_column, d.year),
                       (self.month_column, d.month),
                       (self.day_column, d.day)):
            if col is None:
                break
            prefix.append((F.col(col).cast("int"), v))
        ok = F.lit(True)
        for c, v in reversed(prefix):
            ok = c.isNull() | (c > v if lower else c < v) | ((c == v) & ok)
        return df.where(ok)

    def restricted_normalized(self, spark: SparkSession, *,
                              ids: list[str] | None = None,
                              ts_lower=None, ts_upper=None,
                              value_eq=None) -> DataFrame:
        """The normalized relation restricted to the external ``ids`` and
        the INCLUSIVE timestamp window ``[ts_lower, ts_upper]`` (naive-UTC
        datetimes; None leaves that side open, and with nothing to
        restrict this is ``normalized``). The restriction only has to be
        implied by the query — the compiler re-applies every constraint
        Spark-side — so ``value_eq``, a chain's literal value, is left to
        that re-check here; remote stores may render it.

        The id set comes from a join, so Catalyst cannot derive it: the
        explicit IN-list prunes the chain before its exchange and reaches
        PushedFilters on a parquet-backed scan, and the timestamp bounds
        push down the ordinary way. Each bound also prunes the declared
        date partitions (_prune_date_partitions)."""
        df = self.load(spark)
        for dtv, lower in ((ts_lower, True), (ts_upper, False)):
            if dtv is not None:
                df = self._prune_date_partitions(df, dtv, lower)
        df = self._normalize(df)
        if ids is not None:
            df = df.where(F.col("id").isin(ids))
        if ts_lower is not None:
            df = df.where(F.col("timestamp") >= _utc_lit(ts_lower))
        if ts_upper is not None:
            df = df.where(F.col("timestamp") <= _utc_lit(ts_upper))
        return df

    def grouped_restricted_normalized(self, spark: SparkSession, *,
                                      value_aggs: list[bool],
                                      granule: tuple,
                                      ids: list | None = None,
                                      ts_lower=None, ts_upper=None,
                                      agg_type: str = "double"):
        """Grouped partials for a pushed-down GROUP BY over one chain per
        ``value_aggs`` flag (the reference's GroupedTimeSeriesQuery over
        one basic query or the synchronized join of several,
        timeseries_sql_rewrite.rs:356-428 + :470-560): ``(id_1..id_n,
        timestamp, __gp_cnt, __gp_n_<i>,
        __gp_sum_<i>, __gp_min_<i>, __gp_max_<i>)`` rows whose COUNT(*) /
        COUNT / SUM / MIN / MAX the compiler re-aggregates. ``ids`` is
        bare ids for one chain and ``(id_1..id_n)`` tuples for several;
        ``granule`` is ``("all",)``, ``("bucket", K)`` or ``("trunc",
        unit)``; ``ts_lower`` / ``ts_upper`` are EXACT ``(value,
        strict)`` bounds. A false flag (a count-only chain) types that
        chain's value partials NULL.

        The base class gives one chain one partial row per point of its
        restricted relation (cnt=1, sum=min=max=value) — a point is the
        finest granule, and the rows keep their own timestamps, so the
        relaxed inclusive bounds and the query's re-applied FILTER stay
        exact. It has no store to run a synchronized join in and returns
        None for several chains. Remote stores override this to
        aggregate per (id tuple, granule), and return None to decline;
        the compiler then fetches points."""
        if len(value_aggs) != 1:
            return None
        df = self.restricted_normalized(
            spark, ids=ids,
            ts_lower=None if ts_lower is None else ts_lower[0],
            ts_upper=None if ts_upper is None else ts_upper[0])
        raw = F.col("value")
        v = raw.cast(agg_type) if value_aggs[0] else F.lit(None).cast(agg_type)
        return df.select(
            F.col("id").alias("id_1"), "timestamp",
            F.lit(1).cast("long").alias("__gp_cnt"),
            F.when(raw.isNotNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("long").alias("__gp_n_1"),
            v.alias("__gp_sum_1"), v.alias("__gp_min_1"),
            v.alias("__gp_max_1"))

    def value_xsd(self, spark: SparkSession) -> str:
        if self.value_datatype:
            return self.value_datatype
        df = self.load(spark)
        return xsd_for_spark_type(df.schema[self.value_column].dataType)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "id",
    left_ts: str = "timestamp",
    right_ts: str = "timestamp",
    value_columns: list[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_matched",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: attach to every left row the latest right row with
    ``right.ts <= left.ts`` (``direction='backward'``, the default and
    the reference/pandas/DuckDB behavior) or the EARLIEST right row with
    ``right.ts >= left.ts`` (``direction='forward'``) for the same key
    (left outer — unmatched left rows keep nulls). The classic
    time-series alignment operator Spark lacks natively.

    Plan shape: tag both inputs, union, ONE shuffle on the key, and a
    running ``last(..., ignorenulls)`` window carries each right value
    forward (or, time-descending, backward) to the left rows on the
    other side — no range join, no per-row probe, linear in
    |left|+|right| at any scale. Right rows tie-sort before left rows at
    equal timestamps (inclusive match in both directions).

    ``tolerance_seconds`` nulls out matches farther than the given
    horizon (rows are kept — left-join semantics). ``value_columns``
    defaults to every right column except the key and timestamp; matched
    columns get ``suffix``, and the matched right timestamp lands in
    ``{right_ts}{suffix}``."""
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if value_columns is None:
        value_columns = [c for c in right.columns if c not in (on, right_ts)]
    rts_out = f"{right_ts}{suffix}"

    # All matched fields travel together in ONE struct carried by a single
    # last(ignorenulls): the struct is non-null exactly on right rows, so
    # every output row's matched columns come from the SAME right row even
    # when that row has nulls in some value columns (mixing fields from
    # different right rows would fabricate rows that never existed).
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.struct(
            F.col(right_ts).alias(rts_out),
            *[F.col(c).alias(f"{c}{suffix}") for c in value_columns],
        ).alias("__match"),
    ).withColumn("__side", F.lit(0))
    l = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    tagged = l.unionByName(r, allowMissingColumns=True)

    from pyspark.sql import Window

    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__side").asc()]
    else:
        # time-descending: the running last() then carries each right row
        # BACKWARD in time; __side still sorts right rows first at ties,
        # keeping the >= match inclusive
        order = [F.col("__ts").desc(), F.col("__side").asc()]
    w = (Window.partitionBy(on)
         .orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, 0))
    out = (tagged
           .select(*[c for c in left.columns], "__ts", "__side",
                   F.last("__match", ignorenulls=True).over(w).alias("__match"))
           .filter(F.col("__side") == 1))
    matched_names = [*(f"{c}{suffix}" for c in value_columns), rts_out]
    if tolerance_seconds is not None:
        gap = (F.unix_micros(F.col("__ts").cast("timestamp"))
               - F.unix_micros(F.col("__match")[rts_out].cast("timestamp")))
        in_tol = (gap if direction == "backward" else -gap
                  ) <= int(tolerance_seconds * 1_000_000)
        unpacked = [F.when(in_tol, F.col("__match")[c]).alias(c)
                    for c in matched_names]
    else:
        unpacked = [F.col("__match")[c].alias(c) for c in matched_names]
    return out.select(*left.columns, *unpacked)


def sessionize(
    events: DataFrame,
    key: str = "id",
    ts: str = "timestamp",
    gap_seconds: float = 1800.0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts whenever the time
    since the key's previous event exceeds ``gap_seconds``. Adds
    ``session_idx`` (0-based per key, chronological).

    One shuffle on the key; lag + running sum over the per-key order —
    the batch twin of the streaming session window. ``order_cols`` break
    timestamp ties deterministically (default: the timestamp alone)."""
    from pyspark.sql import Window

    order = [F.col(ts).asc()] + [F.col(c).asc() for c in (order_cols or [])]
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(ts)).over(w)
    gap_us = int(gap_seconds * 1_000_000)
    new_session = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col(ts).cast("timestamp"))
            - F.unix_micros(prev.cast("timestamp"))) > gap_us),
        F.lit(1)).otherwise(F.lit(0))
    running = Window.partitionBy(key).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return events.withColumn(
        "session_idx", (F.sum(new_session).over(running) - F.lit(1)).cast("long"))


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str = "id",
    point_ts: str = "timestamp",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: float | None = 3600.0,
) -> DataFrame:
    """Range join: attach to each point the interval(s) of the same key
    that contain it (``start <= ts <= end``, inclusive).

    A raw theta-join is quadratic per key; instead each interval explodes
    into the coarse time buckets it overlaps and each point maps to ONE
    bucket, so the join is an equi-join on (key, bucket) followed by the
    exact range refinement — the standard distributed range-join strategy
    (cf. Spark's own range-join hints). ``bucket_seconds`` trades the
    interval explode factor against candidate pairs per bucket: set it
    near the typical interval length, or pass ``None`` to derive it from
    the median interval length (one tiny aggregate over the interval side
    — the small side by assumption), clamped to [1s, 30d]."""
    if bucket_seconds is None:
        med = intervals.select(F.median(
            (F.unix_micros(F.col(end_col).cast("timestamp"))
             - F.unix_micros(F.col(start_col).cast("timestamp")))
        ).alias("m")).collect()[0]["m"]
        bucket_seconds = min(max((med or 0) / 1e6, 1.0), 30 * 86400.0)
    b_us = int(bucket_seconds * 1_000_000)
    p_us = F.unix_micros(F.col(point_ts).cast("timestamp"))
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))

    iv = intervals.withColumn(
        "__bucket",
        F.explode(F.sequence(F.floor(s_us / b_us).cast("long"),
                             F.floor(e_us / b_us).cast("long"))))
    pt = points.withColumn("__bucket", F.floor(p_us / b_us).cast("long"))
    dup = [c for c in intervals.columns if c in points.columns and c != key]
    for c in dup:
        iv = iv.withColumnRenamed(c, f"{c}_interval")
    cond_start = f"{start_col}_interval" if start_col in dup else start_col
    cond_end = f"{end_col}_interval" if end_col in dup else end_col
    joined = pt.join(iv, [key, "__bucket"]).filter(
        (F.unix_micros(F.col(point_ts).cast("timestamp"))
         >= F.unix_micros(F.col(cond_start).cast("timestamp")))
        & (F.unix_micros(F.col(point_ts).cast("timestamp"))
           <= F.unix_micros(F.col(cond_end).cast("timestamp"))))
    return joined.drop("__bucket")


def resample(
    series: DataFrame,
    key: str = "id",
    ts: str = "timestamp",
    value: str = "value",
    step_seconds: float = 3600.0,
    fill: str = "locf",
) -> DataFrame:
    """Regularize a time series onto a fixed grid: one row per (key,
    bucket) from the key's first to last observation, with the bucket's
    last observed value, gap-filled per ``fill``:

    - ``"none"``: gaps stay null,
    - ``"locf"``: last observation carried forward,
    - ``"linear"``: linear interpolation between the surrounding
      observations (endpoints fall back to the nearest observation).

    Output: ``key, bucket_ts (timestamp), value (double), filled (int)``.

    Plan shape: one per-key bounds aggregate (tiny — |keys| rows) whose
    grid explodes map-side via ``sequence``; one equi-join on (key, bucket)
    against the per-bucket aggregate; LOCF/interpolation via
    last/first(ignorenulls) windows partitioned by key. Every shuffle keys
    on ``key`` — co-partitioned end to end, linear at any scale. The grid
    size per key is bounded by span/step; pick ``step_seconds`` near the
    native cadence."""
    if fill not in ("none", "locf", "linear"):
        raise ValueError(f"unknown fill mode {fill!r}")
    step_us = int(step_seconds * 1_000_000)
    t_us = F.unix_micros(F.col(ts).cast("timestamp"))
    # floor, not cast-truncation: pre-1970 (negative-epoch) timestamps
    # must land in the bucket BELOW, matching the SQL oracle's floor()
    bucket = F.floor(t_us / step_us).cast("long")

    # per-bucket last observation (ties broken by latest timestamp)
    obs = (series
           .select(F.col(key), bucket.alias("__b"), t_us.alias("__t"),
                   F.col(value).cast("double").alias("__v"))
           .groupBy(key, "__b")
           .agg(F.max_by("__v", "__t").alias("__v"),
                F.max("__t").alias("__t")))

    # bounds come from the per-bucket aggregate (already shuffled on the
    # key) rather than a second scan of the source
    grid = (obs
            .groupBy(key)
            .agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
            .select(F.col(key),
                    F.explode(F.sequence("__lo", "__hi")).alias("__b")))

    joined = grid.join(obs, [key, "__b"], "left")
    from pyspark.sql import Window

    if fill == "locf":
        w = (Window.partitionBy(key).orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, 0))
        filled_v = F.coalesce("__v", F.last("__v", ignorenulls=True).over(w))
    elif fill == "linear":
        wp = (Window.partitionBy(key).orderBy("__b")
              .rowsBetween(Window.unboundedPreceding, 0))
        wn = (Window.partitionBy(key).orderBy("__b")
              .rowsBetween(0, Window.unboundedFollowing))
        prev = F.last(F.when(F.col("__v").isNotNull(),
                             F.struct("__t", "__v")), ignorenulls=True).over(wp)
        nxt = F.first(F.when(F.col("__v").isNotNull(),
                             F.struct("__t", "__v")), ignorenulls=True).over(wn)
        mid_t = (F.col("__b") * step_us).cast("double")
        span = (nxt["__t"] - prev["__t"]).cast("double")
        interp = F.when(
            prev.isNotNull() & nxt.isNotNull() & (span > 0),
            prev["__v"] + (nxt["__v"] - prev["__v"])
            * (mid_t - prev["__t"]) / span,
        ).otherwise(F.coalesce(prev["__v"], nxt["__v"]))
        filled_v = F.coalesce("__v", interp)
    else:
        filled_v = F.col("__v")

    return joined.select(
        F.col(key),
        F.timestamp_micros((F.col("__b") * step_us).cast("long")).alias("bucket_ts"),
        filled_v.alias(value),
        F.when(F.col("__v").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("filled"),
    )


def rolling_stats(
    series: DataFrame,
    key: str = "id",
    ts: str = "timestamp",
    value: str = "value",
    window_seconds: float = 3600.0,
) -> DataFrame:
    """Trailing-window statistics per key: for every observation, the
    count/avg/min/max/stddev of values in ``[ts - window, ts]`` (inclusive
    both ends). One shuffle on the key; the range frame is evaluated as a
    sliding aggregate over the per-key time order — no self-join, linear
    in rows regardless of window length."""
    from pyspark.sql import Window

    w_us = int(window_seconds * 1_000_000)
    t_us = F.unix_micros(F.col(ts).cast("timestamp"))
    staged = series.withColumn("__t", t_us)
    w = (Window.partitionBy(key).orderBy("__t").rangeBetween(-w_us, 0))
    v = F.col(value).cast("double")
    return staged.select(
        *series.columns,
        F.count(v).over(w).alias("roll_count"),
        F.round(F.avg(v).over(w), 6).alias("roll_avg"),
        F.min(v).over(w).alias("roll_min"),
        F.max(v).over(w).alias("roll_max"),
        F.round(F.coalesce(F.stddev(v).over(w), F.lit(0.0)), 6).alias("roll_stddev"),
    )


def autocorr(
    series: DataFrame,
    key: str = "id",
    ts: str = "timestamp",
    value: str = "value",
    lags: tuple[int, ...] = (1, 2, 3),
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key autocorrelation at the given row lags — the periodicity /
    persistence diagnostic for sensor streams. Output: one row per
    (key, lag) with the Pearson correlation of the series against its
    lag-k shift (NULL when fewer than 2 overlapping pairs or zero
    variance).

    One shuffle on the key (the lag window), one groupBy on the key; the
    lag columns ride the same partitioning, so the aggregate is
    shuffle-free after the window. ``order_cols`` break timestamp ties so
    the pairing is deterministic."""
    from pyspark.sql import Window

    order = [F.col(ts).asc()] + [F.col(c).asc() for c in (order_cols or [])]
    w = Window.partitionBy(key).orderBy(*order)
    v = F.col(value).cast("double")
    staged = series.select(
        F.col(key), v.alias("__v"),
        *[F.lag(v, k).over(w).alias(f"__lag{k}") for k in lags])
    # Pearson r as covar/(sd*sd) with try_divide: ANSI mode makes F.corr
    # raise DIVIDE_BY_ZERO on zero-variance series; this form yields NULL
    # (matching DuckDB's corr) instead. The moments must be computed over
    # the PAIRED rows only (corr's semantics), so each side is masked NULL
    # wherever its partner is NULL.
    def _r(k: int) -> Column:
        lagc = F.col(f"__lag{k}")
        vx = F.when(lagc.isNotNull(), F.col("__v"))
        lx = F.when(F.col("__v").isNotNull(), lagc)
        return F.try_divide(F.covar_samp(vx, lx),
                            F.stddev_samp(vx) * F.stddev_samp(lx))

    per_lag = staged.groupBy(key).agg(
        *[F.round(_r(k), 6).alias(f"__acf{k}") for k in lags])
    pairs = F.array(*[
        F.struct(F.lit(k).alias("lag"), F.col(f"__acf{k}").alias("acf"))
        for k in lags])
    return (per_lag.select(F.col(key), F.explode(pairs).alias("p"))
            .select(key, "p.lag", "p.acf"))


def _round_half_away(v: float, digits: int = 6) -> float:
    """Half-away-from-zero rounding, matching SQL ``round()`` (Python's
    built-in round is half-even, which would diverge from a SQL oracle on
    exact halves). Total on floats: NaN/±inf pass through unchanged —
    ``math.floor`` would raise on them and kill the task (and, in the
    streaming fold, permanently poison the query on restart replay)."""
    import math

    if not math.isfinite(v):
        return v
    p = 10.0 ** digits
    return math.copysign(math.floor(abs(v) * p + 0.5), v) / p


def ewma(
    series: DataFrame,
    key: str = "id",
    ts: str = "timestamp",
    value: str = "value",
    alpha: float = 0.2,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key exponentially weighted moving average — the classic
    sensor-smoothing filter: ``y_0 = x_0``, ``y_t = α·x_t + (1-α)·y_{t-1}``.

    The recursion is inherently sequential per key, so this is the
    documented Pandas escape hatch (SURVEY §2.5 custom operators): one
    shuffle on the key, then an Arrow-batched ``applyInPandas`` that runs
    the fold per group in time order. Each group must fit a worker —
    partition long histories upstream (e.g. by day) if a single key's
    series is unbounded. The fold is evaluated left-to-right in float64
    with precomputed ``α`` / ``1-α`` doubles, so any engine replaying the
    same fold (e.g. a SQL ``list_reduce``) reproduces it bit-exactly.

    Output: ``key, ts, order_cols…, value, ewma`` (rounded to 6 dp).

    NULL values arrive as NaN through the Arrow/pandas boundary and — like
    NaN inputs — poison every subsequent smoothed value of that key; the
    poisoned NaNs surface as NULL on the Spark side, matching the SQL
    twin's NULL-propagating fold. Filter or impute NULLs upstream if that
    is not wanted.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    beta = 1.0 - alpha  # precompute once: the oracle twin uses the same double
    order = [ts, *(order_cols or [])]
    cols = [key, *order, value]
    out_schema = ", ".join(
        f"`{c}` {t}" for c, t in series.select(*cols).dtypes) + ", ewma double"

    def fold(pdf):
        import math

        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        acc = None
        out = []
        push = out.append
        isfinite = math.isfinite
        floor = math.floor
        copysign = math.copysign
        # .tolist() gives plain Python floats — iterating the Series itself
        # boxes numpy scalars per element (~10× slower) and numpy scalar
        # arithmetic would change the fold's op types; the math itself is
        # the identical a*x + b*acc double sequence either way
        for x in pdf[value].astype(float).tolist():
            acc = x if acc is None else alpha * x + beta * acc
            push(copysign(floor(abs(acc) * 1e6 + 0.5), acc) / 1e6
                 if isfinite(acc) else acc)
        pdf["ewma"] = out
        return pdf

    return (series.select(*cols)
            .groupBy(key).applyInPandas(fold, out_schema))


def in_memory_timeseries(
    spark: SparkSession, frames: dict[str, "object"], value_datatype: str | None = None
) -> TimeSeriesTable:
    """Reference's SimpleInMemoryTimeseriesDatabase: a dict of external id ->
    pandas DataFrame(timestamp, value)
    (simple_in_memory_timeseries.rs:17-19,73-100). Concatenated into one tall
    Spark DataFrame."""
    import pandas as pd

    parts = []
    for ext_id, pdf in frames.items():
        p = pdf.copy()
        p.insert(0, "id", ext_id)
        parts.append(p)
    tall = pd.concat(parts, ignore_index=True)
    df = spark.createDataFrame(tall)
    return TimeSeriesTable(df, value_datatype=value_datatype or XSD_DOUBLE)


def holt_forecast(
    series: DataFrame,
    key: str = "id",
    ts: str = "timestamp",
    value: str = "value",
    alpha: float = 0.2,
    beta: float = 0.1,
    horizon: int = 3,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key Holt linear-trend forecasting (double exponential
    smoothing): ``l_0 = x_0, b_0 = 0``; then
    ``l_t = α·x_t + (1-α)·(l_{t-1} + b_{t-1})`` and
    ``b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}``. Returns ONE row per key:
    ``(key, n_points, level, trend, forecast)`` with
    ``forecast = level + horizon·trend`` — the smoothed state a monitoring
    pipeline projects forward per sensor.

    Like :func:`ewma`, the recursion is sequential per key: one shuffle
    on the key, then an Arrow-batched fold in time order with the α /
    1-α / β / 1-β doubles precomputed once — so a SQL ``list_reduce``
    over the same struct state replays it bit-exactly. Output state is
    one row per key (bounded), whatever the series length."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("beta must be in [0, 1]")
    a, one_a = alpha, 1.0 - alpha
    bt, one_b = beta, 1.0 - beta
    h = float(horizon)
    order = [ts, *(order_cols or [])]
    out_schema = (f"`{key}` {dict(series.dtypes)[key]}, n_points long, "
                  "level double, trend double, forecast double")

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order, kind="mergesort")
        xs = pdf[value].tolist()
        kv = pdf[key].iloc[0]
        lvl = xs[0]
        trd = 0.0
        for x in xs[1:]:
            new_l = a * x + one_a * (lvl + trd)
            trd = bt * (new_l - lvl) + one_b * trd
            lvl = new_l
        return pd.DataFrame({
            key: [kv], "n_points": [len(xs)],
            "level": [round(lvl, 6)], "trend": [round(trd, 6)],
            "forecast": [round(lvl + h * trd, 6)]})

    return series.select(key, *order, value).groupBy(key) \
        .applyInPandas(fold, out_schema)


def holt_winters_forecast(
    series: DataFrame,
    key: str = "id",
    ts: str = "timestamp",
    value: str = "value",
    m: int = 4,
    alpha: float = 0.2,
    beta: float = 0.1,
    gamma: float = 0.3,
    horizon: int = 2,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key additive Holt-Winters (triple exponential smoothing,
    Winters 1960) with positional seasonality of period ``m``:
    ``l_0 = x_0``, ``b_0 = 0``, seasonal offsets start at zero; then for
    the t-th point (slot ``i = t mod m``)
    ``l_t = α·(x_t − s_i) + (1−α)·(l_{t−1} + b_{t−1})``,
    ``b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}``,
    ``s_i ← γ·(x_t − l_t) + (1−γ)·s_i``.
    Forecast ``h`` steps out: ``l + h·b + s_{(n−1+h) mod m}``. Returns
    ONE bounded row per key: ``(key, n_points, level, trend, seasonal,
    forecast)`` where ``seasonal`` is the slot applied to the forecast.

    Same discipline as :func:`holt_forecast`: the recursion is
    sequential per key — one shuffle on the key, then an Arrow-batched
    time-ordered fold with all smoothing doubles precomputed, so a SQL
    ``list_reduce`` over the list state ``[t, l, b, s_0..s_{m-1}]``
    replays it bit-exactly."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not 0.0 <= beta <= 1.0 or not 0.0 <= gamma <= 1.0:
        raise ValueError("beta/gamma must be in [0, 1]")
    if m < 2:
        raise ValueError("seasonal period m must be >= 2")
    a, one_a = alpha, 1.0 - alpha
    bt, one_b = beta, 1.0 - beta
    g, one_g = gamma, 1.0 - gamma
    h = float(horizon)
    order = [ts, *(order_cols or [])]
    out_schema = (f"`{key}` {dict(series.dtypes)[key]}, n_points long, "
                  "level double, trend double, seasonal double, "
                  "forecast double")

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order, kind="mergesort")
        xs = pdf[value].tolist()
        kv = pdf[key].iloc[0]
        lvl, trd, s = xs[0], 0.0, [0.0] * m
        for t, x in enumerate(xs[1:], start=1):
            i = t % m
            new_l = a * (x - s[i]) + one_a * (lvl + trd)
            trd = bt * (new_l - lvl) + one_b * trd
            s[i] = g * (x - new_l) + one_g * s[i]
            lvl = new_l
        slot = s[(len(xs) - 1 + horizon) % m]
        return pd.DataFrame({
            key: [kv], "n_points": [len(xs)],
            "level": [round(lvl, 6)], "trend": [round(trd, 6)],
            "seasonal": [round(slot, 6)],
            "forecast": [round(lvl + h * trd + slot, 6)]})

    return series.select(key, *order, value).groupBy(key) \
        .applyInPandas(fold, out_schema)


def ols_from_moments(n, sx, sy, sxy, sxx, syy):
    """(slope, intercept, r2) column triple from the five DECIMAL-exact
    sufficient moments, as the ONE canonical double expression both the
    per-key trend fit and the Zipf log-log fit (and their SQL oracles)
    share — rounded to 6 dp with IEEE negative zero canonicalized.
    ``n`` must already be cast double; zero-variance denominators yield
    NULL."""
    den = n * sxx - sx * sx
    dey = n * syy - sy * sy
    num = n * sxy - sx * sy
    slope = F.when(den != 0.0, num / den)
    intercept = F.when(den != 0.0, (sy - (num / den) * sx) / n)
    r2 = F.when((den != 0.0) & (dey != 0.0), (num * num) / (den * dey))
    return ((F.round(slope, 6) + F.lit(0.0)),
            (F.round(intercept, 6) + F.lit(0.0)),
            (F.round(r2, 6) + F.lit(0.0)))


def trend_ols(series: DataFrame, key: str = "id", ts: str = "timestamp",
              value: str = "value") -> DataFrame:
    """Per-key ordinary-least-squares trend: slope, intercept and R² of
    ``value`` against time (seconds since the key's first observation),
    closed-form from the five sufficient moments — ``Σx, Σy, Σxy, Σx²,
    Σy²`` — accumulated in DECIMAL(38,12) so the sums are exact and
    partition-order independent (the same determinism contract as
    kmeans/power-iteration), with the final slope/intercept/R² computed
    in ONE identical double expression per statistic. Keys with < 2
    points or zero time variance return NULL statistics.

    This is the scale-safe alternative to ``regr_slope``-style float
    aggregates (whose partial-merge order perturbs low bits) — one
    grouped pass, bounded output (one row per key), bit-replayable in
    any SQL engine. x is integer seconds (micros // 1e6) so x² sums fit
    decimal range out to ~1e9 rows per key at year-long spans."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts).cast("timestamp"))
    dec = "decimal(38,12)"
    staged = (series
              .withColumn("__us", us)
              .withColumn("__x", ((F.col("__us")
                                   - F.min("__us").over(
                                       Window.partitionBy(key)))
                                  / F.lit(1000000)).cast("long")))
    y = F.col(value).cast("double")
    x = F.col("__x")
    agg = (staged.groupBy(key)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(x.cast(dec)).alias("sx"),
                F.sum(y.cast(dec)).alias("sy"),
                F.sum((x * y).cast(dec)).alias("sxy"),
                F.sum((x * x).cast(dec)).alias("sxx"),
                F.sum((y * y).cast(dec)).alias("syy")))
    slope, intercept, r2 = ols_from_moments(
        F.col("n").cast("double"), F.col("sx").cast("double"),
        F.col("sy").cast("double"), F.col("sxy").cast("double"),
        F.col("sxx").cast("double"), F.col("syy").cast("double"))
    return agg.select(key, "n", slope.alias("slope"),
                      intercept.alias("intercept"), r2.alias("r2"))


def twap(series: DataFrame, key: str = "id", ts: str = "timestamp",
         value: str = "value",
         order_cols: list[str] | None = None) -> DataFrame:
    """Per-key time-weighted average (TWAP): each observation is
    weighted by the time it remained current — ``Σ value·Δt / Σ Δt``
    with ``Δt`` the gap to the key's next observation (the last
    observation carries no weight, standard left-closed convention).
    The honest average for irregular series, where the arithmetic mean
    over-weights bursts.

    One key-partitioned window pass pairs each row with its successor
    timestamp; the weighted sums accumulate value·Δt products in
    DECIMAL(38,12) (Δt integer micros — exact, partition-order
    independent) with ONE double division at the end. Keys with a
    single observation are EXCLUDED (no elapsed time, no weight —
    join back to the key universe if a row per key is required)."""
    from pyspark.sql import Window as W

    order = [ts, *(order_cols or [])]
    w = W.partitionBy(key).orderBy(*order)
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    staged = (series
              .withColumn("__us", us)
              .withColumn("__dt", F.lead("__us").over(w) - F.col("__us"))
              .where(F.col("__dt").isNotNull()))
    dec = "decimal(38,12)"
    agg = (staged.groupBy(key)
           .agg(F.count(F.lit(1)).alias("n_weighted"),
                F.sum((F.col(value) * F.col("__dt")).cast(dec))
                .alias("__wv"),
                F.sum(F.col("__dt").cast(dec)).alias("__w")))
    out = F.when(F.col("__w").cast("double") > 0.0,
                 F.round(F.col("__wv").cast("double")
                         / F.col("__w").cast("double"), 6) + F.lit(0.0))
    return agg.select(key, "n_weighted", out.alias("twap"))


def classical_decompose(series: DataFrame, key: str = "id",
                        ts: str = "timestamp", value: str = "value",
                        period: int = 7) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method STL refines): per key, trend = centered moving average over
    one ``period`` (odd periods only — the even case needs the 2x2 MA
    and a different oracle), seasonal = phase mean of the detrended
    series re-centered to sum to zero, residual = y - trend - seasonal.
    The decomposition behind "is this spike seasonal or real" anomaly
    triage and seasonal-adjustment features.

    All windows are key-partitioned (trend) or (key, phase)-grouped
    (seasonal) — nothing global. Determinism: the trend average divides
    a DECIMAL-exact windowed sum; phase means sum DECIMAL-cast terms, so
    no float reduction order leaks into the output. Rows whose centered
    window is incomplete (the first/last half-period per key) carry NULL
    trend/residual, as in statsmodels. Output: ``(key, ts, value,
    trend, seasonal, resid)``."""
    from pyspark.sql import Window as W

    if period % 2 == 0:
        raise ValueError("classical_decompose: period must be odd")
    half = period // 2
    dec = "decimal(38,12)"
    w = (W.partitionBy(key).orderBy(ts).rowsBetween(-half, half))
    pos = F.row_number().over(W.partitionBy(key).orderBy(ts))
    staged = (series.select(F.col(key), F.col(ts),
                            F.col(value).cast("double").alias("__y"))
              .withColumn("__n", F.count(F.lit(1)).over(w))
              .withColumn("__tr",
                          F.when(F.col("__n") == period,
                                 F.sum(F.col("__y").cast(dec)).over(w)
                                 .cast("double") / F.lit(float(period))))
              .withColumn("__ph", (pos - 1) % period))
    phase = (staged.where(F.col("__tr").isNotNull())
             .groupBy(F.col(key).alias("__k"), "__ph")
             .agg((F.sum((F.col("__y") - F.col("__tr")).cast(dec))
                   .cast("double")
                   / F.count(F.lit(1))).alias("__raw")))
    center = (phase.groupBy("__k")
              .agg((F.sum(F.col("__raw").cast(dec)).cast("double")
                    / F.count(F.lit(1))).alias("__c")))
    seas = (phase.join(center, "__k")
            .select("__k", "__ph",
                    (F.col("__raw") - F.col("__c")).alias("__s")))
    out = (staged.join(seas, (staged[key] == seas["__k"])
                       & (staged["__ph"] == seas["__ph"]), "left")
           .drop("__k", "__ph", "__n"))
    return out.select(
        key, ts, F.col("__y").alias(value),
        (F.round("__tr", 6) + F.lit(0.0)).alias("trend"),
        (F.round("__s", 6) + F.lit(0.0)).alias("seasonal"),
        (F.round(F.col("__y") - F.col("__tr") - F.col("__s"), 6)
         + F.lit(0.0)).alias("resid"))


def seasonal_anomalies(series: DataFrame, key: str = "id",
                       ts: str = "timestamp", value: str = "value",
                       period: int = 7, k: float = 3.0) -> DataFrame:
    """Seasonality-aware anomaly detection: decompose with
    :func:`classical_decompose`, then flag rows whose residual exceeds
    ``k`` residual standard deviations for that key — "is this spike
    real, or just Saturday" as one operator. Plain z-scores fire on
    every weekend for weekly-seasonal series; here the seasonal
    component is removed before the yardstick is computed.

    The per-key sigma uses DECIMAL-exact moment sums
    ``(Σr², Σr, n)`` (order-independent), then one double expression —
    so the flag set is bit-replayable. The variance operand is clamped
    at 0 (``greatest(s2 - s²/n, 0)``): float cancellation on
    near-constant residuals can drive it epsilon-negative, and a NaN
    sigma would silently disable detection for that key. Keys need
    >= 2 complete-window residuals, and keys with sigma == 0
    (constant residual — no yardstick, every nonzero deviation would
    fire) are excluded by contract, mirroring the mad == 0 exclusion
    in :func:`~otit_swt_spark.pipelines.analytics.mad_anomalies`.
    Output: the anomalous rows ``(key, ts, value, resid, sigma)``."""
    dec = classical_decompose(series, key=key, ts=ts, value=value,
                              period=period)
    d38 = "decimal(38,12)"
    r = F.col("resid")
    m = (dec.where(r.isNotNull())
         .groupBy(F.col(key).alias("__k"))
         .agg(F.count(F.lit(1)).alias("__n"),
              F.sum(r.cast(d38)).alias("__s"),
              F.sum((r * r).cast(d38)).alias("__s2"))
         .where(F.col("__n") >= 2))
    sd = F.col("__s").cast("double")
    s2d = F.col("__s2").cast("double")
    nd = F.col("__n").cast("double")
    sigma = F.sqrt(F.greatest(s2d - sd * sd / nd, F.lit(0.0))
                   / (nd - F.lit(1.0)))
    m = m.select("__k", sigma.alias("__sig")).where(F.col("__sig") > 0)
    return (dec.where(r.isNotNull())
            .join(m, dec[key] == m["__k"]).drop("__k")
            .where(F.abs(r) > F.lit(k) * F.col("__sig"))
            .select(key, ts, value, "resid",
                    (F.round("__sig", 6) + F.lit(0.0)).alias("sigma")))


def seasonal_phase(ts_col, period: int = 7, epoch: str = "1970-01-05"):
    """Calendar phase expression: ``pmod(datediff(day(ts), epoch),
    period)`` with the epoch anchored on a Monday, so period=7 gives a
    stable weekday index. On a gapless daily series this is the
    position phase of :func:`classical_decompose` up to a constant
    rotation — and a rotation is invisible to profile scoring, because
    the profile is KEYED by the same expression it is scored with."""
    return F.pmod(F.datediff(F.to_date(ts_col.cast("timestamp")),
                             F.to_date(F.lit(epoch))), F.lit(period))


def seasonal_profile(series: DataFrame, key: str = "id",
                     ts: str = "timestamp", value: str = "value",
                     period: int = 7) -> DataFrame:
    """Distill a batch :func:`classical_decompose` run into the compact
    scoring profile the streaming side broadcasts: one row per
    (key, phase) with the key's LEVEL (mean trend — the stationary
    baseline), the phase's SEASONAL offset, and the key's residual
    SIGMA (DECIMAL-exact moments, variance operand clamped at 0, and
    sigma == 0 keys excluded — same contract as
    :func:`seasonal_anomalies`). Feed the result to
    ``streaming.ingest.stream_seasonal_score``; at |keys| x period
    rows the profile is dimension-table sized by construction."""
    dec = classical_decompose(series, key=key, ts=ts, value=value,
                              period=period)
    d38 = "decimal(38,12)"
    staged = (dec.where(F.col("resid").isNotNull())
              .withColumn("phase", seasonal_phase(F.col(ts), period)))
    r = F.col("resid")
    perkey = (staged.groupBy(F.col(key).alias("__k"))
              .agg(F.count(F.lit(1)).alias("__n"),
                   F.sum(F.col("trend").cast(d38)).alias("__t"),
                   F.sum(r.cast(d38)).alias("__s"),
                   F.sum((r * r).cast(d38)).alias("__s2"))
              .where(F.col("__n") >= 2))
    nd = F.col("__n").cast("double")
    sd = F.col("__s").cast("double")
    s2d = F.col("__s2").cast("double")
    sigma = F.sqrt(F.greatest(s2d - sd * sd / nd, F.lit(0.0))
                   / (nd - F.lit(1.0)))
    perkey = (perkey.select(
        "__k", (F.col("__t").cast("double") / nd).alias("level"),
        sigma.alias("sigma")).where(F.col("sigma") > 0))
    perphase = (staged.groupBy(F.col(key), "phase")
                .agg((F.sum(F.col("seasonal").cast(d38)).cast("double")
                      / F.count(F.lit(1))).alias("seasonal")))
    return (perphase.join(perkey, perphase[key] == perkey["__k"])
            .drop("__k")
            .select(key, "phase", "level", "seasonal", "sigma"))
