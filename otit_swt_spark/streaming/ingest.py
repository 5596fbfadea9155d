"""Streaming time-series ingest operators.

Scale design:
- the window aggregation shuffles on (id, window) — uniformly distributed
  keys at any sensor count; state store size is bounded by the watermark
  horizon, not stream length;
- the sink partitions by (year, month, day) so the batch engine's timestamp
  predicates become partition pruning (the streaming analog of the
  reference's partitioning_support.rs rewrite);
- gap detection keeps one tiny state row per sensor id
  (applyInPandasWithState), the Spark-native form of a custom stateful
  operator.

Sink contract. Every ``stream_*`` function that maintains a table at
``path`` returns a started ``availableNow`` ``foreachBatch`` query built by
one skeleton (``_start_fold``): empty micro-batches are skipped, and a
table that the batch both reads and rewrites is replaced through a staged
copy (``pipelines.merge.stage_overwrite``). ``foreachBatch`` delivers each
batch AT LEAST once — a restart, or a fresh checkpoint over the same
source, replays batches — so every sink is one of two kinds:

- idempotent: re-applying a batch leaves the table unchanged. These are
  the semilattice sketch merges (``stream_hll``, ``stream_bloom_seen``,
  ``stream_theta``, ``stream_weighted_reservoir``,
  ``stream_quantile_sketch``, ``stream_windowed_quantile_sketch``), the
  keyed upsert ``stream_wap_merge``, and the log-structured sinks
  (``stream_scd2``, ``stream_markov``, ``stream_growth``), whose duplicate
  log rows collapse before the touched keys are re-derived.
- guarded: ``stream_incremental_agg`` (and ``stream_reliability_bins`` on
  top of it) and ``stream_count_min`` add counts, so the last applied
  batch id is kept in ``<path>.__last_batch__`` and a batch id at or below
  it is skipped. The marker is written after the fold and the two are not
  atomic: a crash between them applies that one batch twice on replay.
  Closing that window needs a table format that commits data and batch id
  together (Delta/Iceberg).

Batch ids only mean something within one checkpoint, so the checkpoint
directory lives and dies with its table: move or delete them together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from otit_swt_spark import fsutil
from otit_swt_spark.pipelines.merge import stage_overwrite

TS_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
])


def read_timeseries_stream(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema: T.StructType = TS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source with the canonical (id, timestamp, value)
    schema. For production Kafka ingest, swap the reader; every downstream
    operator only sees the canonical columns."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(format).load(path).select(
        F.col("id").cast("string").alias("id"),
        F.col("timestamp").alias("timestamp"),
        F.col("value").alias("value"),
    )


def windowed_downsample(
    df: DataFrame,
    interval: str = "10 minutes",
    watermark: str = "30 minutes",
    aggs: tuple[str, ...] = ("avg", "min", "max", "count"),
) -> DataFrame:
    """Watermarked tumbling-window aggregation per sensor id — the streaming
    twin of the reference's interval aggregation (OPC UA
    ``find_grouping_interval``, opcua_history_read.rs:688-739) and of the
    DSL's ``aggregate fn dur`` buckets."""
    fns = {
        "avg": F.avg("value").alias("avg_value"),
        "min": F.min("value").alias("min_value"),
        "max": F.max("value").alias("max_value"),
        "count": F.count(F.lit(1)).alias("n_points"),
        "sum": F.sum("value").alias("sum_value"),
    }
    aliases = {"avg": "avg_value", "min": "min_value", "max": "max_value",
               "count": "n_points", "sum": "sum_value"}
    w = df.withWatermark("timestamp", watermark)
    return (
        w.groupBy(F.col("id"), F.window("timestamp", interval).alias("w"))
        .agg(*[fns[a] for a in aggs])
        .select("id", F.col("w.start").alias("timestamp"),
                *[F.col(aliases[a]) for a in aggs])
    )


def sliding_downsample(
    df: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window average per sensor id — each event lands in
    window/slide overlapping buckets (state bounded by the watermark)."""
    w = df.withWatermark("timestamp", watermark)
    return (
        w.groupBy(F.col("id"), F.window("timestamp", window, slide).alias("w"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_points"))
        .select("id", F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "avg_value", "n_points")
    )


def session_downsample(
    df: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session-window aggregation: a session closes after ``gap`` of
    inactivity per sensor id (F.session_window — dynamic, data-driven
    windows; the streaming complement of the gap detector)."""
    w = df.withWatermark("timestamp", watermark)
    return (
        w.groupBy(F.col("id"), F.session_window("timestamp", gap).alias("s"))
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.avg("value").alias("avg_value"))
        .select("id", F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"), "n_points", "avg_value")
    )


def to_timeseries_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Write a (possibly aggregated) stream to date-partitioned parquet in
    the TimeSeriesTable layout (all input columns pass through; name the
    value column when REGISTERING via ``registered_table``). Returns the
    StreamingQuery."""
    out = df.withColumn("year", F.year("timestamp")) \
            .withColumn("month", F.month("timestamp")) \
            .withColumn("day", F.dayofmonth("timestamp"))
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("year", "month", "day")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def registered_table(path: str, value_column: str = "avg_value",
                     value_datatype: str | None = None):
    """Register a streaming sink directory as a batch TimeSeriesTable."""
    from otit_swt_spark.timeseries import TimeSeriesTable

    return TimeSeriesTable(
        path=path,
        value_column=value_column,
        value_datatype=value_datatype,
        year_column="year", month_column="month", day_column="day",
    )


_GAP_STATE = T.StructType([
    T.StructField("last_ts", T.DoubleType()),
])
_GAP_OUT = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("gap_start", T.TimestampType()),
    T.StructField("gap_end", T.TimestampType()),
    T.StructField("gap_seconds", T.DoubleType()),
])


def session_gaps(df: DataFrame, max_gap_seconds: float = 60.0,
                 watermark: str = "10 minutes") -> DataFrame:
    """Custom stateful operator: emit (id, gap_start, gap_end) whenever the
    inter-arrival time within a sensor stream exceeds ``max_gap_seconds``.
    One state row per id; works identically on batch DataFrames via
    ``applyInPandas`` when ``df.isStreaming`` is false."""
    import pandas as pd

    if not df.isStreaming:
        def find_gaps(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("timestamp")
            prev = pdf["timestamp"].shift(1)
            delta = (pdf["timestamp"] - prev).dt.total_seconds()
            mask = delta > max_gap_seconds
            return pd.DataFrame({
                "id": pdf.loc[mask, "id"],
                "gap_start": prev[mask],
                "gap_end": pdf.loc[mask, "timestamp"],
                "gap_seconds": delta[mask],
            })

        return df.groupBy("id").applyInPandas(find_gaps, _GAP_OUT)

    from pyspark.sql.streaming.state import GroupStateTimeout

    def detect(key, pdf_iter, state):
        import pandas as pd

        last_ts = state.get[0] if state.exists else None
        rows = {"id": [], "gap_start": [], "gap_end": [], "gap_seconds": []}
        chunks = list(pdf_iter)
        if chunks:
            # concat BEFORE sorting: a group split across Arrow batches
            # (maxRecordsPerBatch) otherwise folds chunk-local order and
            # last_ts rewinds at the boundary (same fix as ewma/holt)
            whole = pd.concat(chunks, ignore_index=True).sort_values(
                "timestamp", kind="mergesort")
            for ts in whole["timestamp"]:
                cur = ts.timestamp()
                if last_ts is not None and cur - last_ts > max_gap_seconds:
                    rows["id"].append(key[0])
                    rows["gap_start"].append(pd.Timestamp(last_ts, unit="s"))
                    rows["gap_end"].append(ts)
                    rows["gap_seconds"].append(cur - last_ts)
                last_ts = cur
        state.update((last_ts,))
        yield pd.DataFrame(rows)

    return (
        df.withWatermark("timestamp", watermark)
        .groupBy("id")
        .applyInPandasWithState(
            detect, _GAP_OUT, _GAP_STATE, "append",
            GroupStateTimeout.NoTimeout)
    )


_EWMA_STATE = T.StructType([
    T.StructField("acc", T.DoubleType()),
])
_EWMA_OUT = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("ewma", T.DoubleType()),
])


def ewma_stream(df: DataFrame, alpha: float = 0.2,
                watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of :func:`otit_swt_spark.timeseries.ewma`: the
    sequential α-fold carried across micro-batches in one state row per
    id (``applyInPandasWithState``) — the canonical custom stateful
    operator shape. Within a batch rows fold in event-time order; the
    accumulator then persists, so an unbounded stream costs O(1) state
    per key. Rows older than the already-folded frontier (late beyond
    the watermark) still fold in arrival order — streaming smoothing is
    order-sensitive by nature, which is why the batch form is the
    replayable reference.

    On a batch DataFrame, delegates to the exact batch implementation.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    beta = 1.0 - alpha

    if not df.isStreaming:
        from otit_swt_spark.timeseries import ewma as batch_ewma

        return batch_ewma(df, key="id", ts="timestamp", value="value",
                          alpha=alpha)

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdf_iter, state):
        import pandas as pd

        from otit_swt_spark.timeseries import _round_half_away

        (acc,) = state.get if state.exists else (None,)
        # a large group arrives as MULTIPLE Arrow chunks (split at
        # maxRecordsPerBatch) — concatenate before sorting, or chunk 2's
        # earlier timestamps would fold after chunk 1's later ones
        chunks = list(pdf_iter)
        if not chunks:
            yield pd.DataFrame(
                columns=["id", "timestamp", "value", "ewma"])
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values("timestamp")
        out = []
        for ts, x in zip(pdf["timestamp"], pdf["value"]):
            x = float(x)
            acc = x if acc is None else alpha * x + beta * acc
            out.append((key[0], ts, x, _round_half_away(acc, 6)))
        state.update((acc,))
        yield pd.DataFrame(out, columns=["id", "timestamp", "value", "ewma"])

    return (
        df.withWatermark("timestamp", watermark)
        .groupBy("id")
        .applyInPandasWithState(
            fold, _EWMA_OUT, _EWMA_STATE, "append",
            GroupStateTimeout.NoTimeout)
    )


def _start_fold(df: DataFrame, path: str, checkpoint: str, fold,
                guarded: bool = False):
    """Start ``df`` as a table sink (module docstring): ``fold(spark,
    batch)`` runs on every non-empty micro-batch, and a frame it returns
    replaces the table at ``path``. ``guarded`` skips batch ids at or
    below the one recorded in ``<path>.__last_batch__`` and records each
    batch id once its fold is done."""
    marker = path.rstrip("/") + ".__last_batch__"

    def run(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if guarded and fsutil.exists(spark, marker):
            try:
                if batch_id <= int(fsutil.read_text(spark, marker).strip()):
                    return  # replayed batch: already applied
            except ValueError:
                pass  # unreadable marker: apply (at-least-once fallback)
        if not batch_df.isEmpty():
            out = fold(spark, batch_df)
            if out is not None:
                stage_overwrite(spark, path, out)
        if guarded:
            fsutil.write_text(spark, marker, str(batch_id))

    return (df.writeStream.foreachBatch(run)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def _stored(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """The table at ``path``, or an empty frame shaped like ``like``
    before the sink's first write."""
    if fsutil.exists(spark, path):
        return spark.read.parquet(path)
    return like.limit(0)


def _rederive_touched(spark: SparkSession, path: str, batch: DataFrame,
                      key: str, derive) -> DataFrame:
    """Log-structured fold: append ``batch`` to the log beside the table
    (``<path>__log``), re-derive the rows of the keys it touches with
    ``derive`` over those keys' DISTINCT log rows, and carry every other
    stored key over unchanged. Returns the new table."""
    log_path = path.rstrip("/") + "__log"
    batch.write.mode("append").parquet(log_path)
    touched = batch.select(key).distinct()
    out = derive(spark.read.parquet(log_path)
                 .join(touched, key, "left_semi").distinct())
    return (_stored(spark, path, out).join(touched, key, "left_anti")
            .unionByName(out))


def stream_incremental_agg(df: DataFrame, path: str, keys: list,
                           sum_cols: list, checkpoint: str,
                           partition_col: str | None = None,
                           weight_col: str | None = None,
                           dec: str | None = None):
    """Maintain a grouped-aggregate parquet table from a stream: every
    micro-batch folds into the stored (count, decimal-sum) partials via
    ``pipelines.incremental.incremental_agg_upsert`` inside
    ``foreachBatch`` — the streaming materialized-view pattern. Each
    batch reads/rewrites only the partitions it touches, so the sink
    cost tracks the batch's key spread, not the table size. Guarded:
    folding a batch's partials twice double-counts it. Returns the
    started StreamingQuery (caller owns awaitTermination/stop)."""
    from otit_swt_spark.pipelines.incremental import incremental_agg_upsert

    kwargs = {} if dec is None else {"dec": dec}

    def fold(spark, batch):
        incremental_agg_upsert(spark, path, batch, keys, sum_cols,
                               partition_col=partition_col,
                               weight_col=weight_col, **kwargs)

    return _start_fold(df, path, checkpoint, fold, guarded=True)


def stream_reliability_bins(df: DataFrame, path: str, checkpoint: str,
                            score_col: str = "score",
                            label_col: str = "label",
                            bins: int = 10):
    """Streaming calibration monitor — the live twin of
    ``pipelines.analytics.reliability_bins``: derive the score's bin
    MAP-SIDE on the stream, then fold per-bin (count, DECIMAL score-sum,
    label-sum) partials through the incremental-agg MV machinery
    (guarded, see the module docstring). The stored state is ~``bins`` tiny
    rows however long the stream runs; read the live reliability
    diagram back with :func:`reliability_bins_from_partials`, which
    reproduces the batch operator's values exactly (same DECIMAL sums,
    same fixed-order final expressions). Out-of-range scores fail the
    batch rather than silently clamping, matching the batch contract."""
    from otit_swt_spark.pipelines.analytics import _reliability_binned

    binned = _reliability_binned(df, score_col, label_col, bins,
                                 "stream_reliability_bins")
    # dec MUST match the batch operator's per-row cast (decimal(38,12))
    # or the two quantize differently before summing and the
    # value-identical contract breaks in the 7th decimal
    return stream_incremental_agg(binned, path, ["bin"],
                                  [score_col, label_col], checkpoint,
                                  dec="decimal(38,12)")


def reliability_bins_from_partials(spark, path: str,
                                   score_col: str = "score",
                                   label_col: str = "label") -> DataFrame:
    """Derive ``(bin, n, conf, acc, gap)`` from the partials table
    :func:`stream_reliability_bins` maintains — value-identical to the
    batch ``reliability_bins`` over the same rows (the per-bin DECIMAL
    score sum and integer label sum are exactly what the batch operator
    aggregates; the final divisions use the same expression order)."""
    from otit_swt_spark.pipelines.analytics import _reliability_select

    return _reliability_select(spark.read.parquet(path),
                               score_col, label_col)


def stream_interval_join(clicks: DataFrame, views: DataFrame,
                         key: str = "id",
                         left_ts: str = "timestamp",
                         right_ts: str = "timestamp",
                         left_value: str = "value",
                         right_value: str = "value",
                         within: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream interval join: pair each left event with right
    events of the same key whose time falls in ``[left - within, left]``
    — the attribution join (click joined to the views that preceded it)
    as a true streaming operator. Both sides carry watermarks, and the
    range condition bounds the buffered state on each side to the
    watermark + interval horizon; without the time bound Spark would
    have to buffer both streams forever.

    Works identically on batch frames (the same join expression is valid
    in both modes). Output: key, left ts, right ts, and both value
    columns suffixed."""
    l = clicks.select(F.col(key).alias("id"),
                      F.col(left_ts).alias("l_ts"),
                      F.col(left_value).alias("l_value"))
    r = views.select(F.col(key).alias("r_id"),
                     F.col(right_ts).alias("r_ts"),
                     F.col(right_value).alias("r_value"))
    if clicks.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if views.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = ((F.col("id") == F.col("r_id"))
            & (F.col("r_ts") <= F.col("l_ts"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}")))
    return (l.join(r, cond)
            .select("id", "l_ts", "r_ts", "l_value", "r_value"))


def stream_wap_merge(df: DataFrame, root: str, key: str, checkpoint: str,
                     deleted_col: str | None = None,
                     max_retries: int = 2):
    """Stream keyed CDC batches into a WAP versioned table: every
    micro-batch runs ``wap.merge_upsert`` inside ``foreachBatch``, so each
    batch publishes one new SNAPSHOT-ISOLATED version (readers never see a
    half-applied batch, and time travel works per batch). Returns the
    started StreamingQuery.

    Idempotent: re-merging the same keyed change batch yields a
    byte-equal next version. A concurrent writer losing the manifest
    race gets ``ConcurrentWriteError``; the batch retries against the
    new current version up to ``max_retries`` times (its own staged
    files were already cleaned by the loser path)."""
    from otit_swt_spark.pipelines import wap

    def fold(spark, batch):
        for attempt in range(max_retries + 1):
            try:
                wap.merge_upsert(spark, root, batch, key=key,
                                 deleted_col=deleted_col)
                return
            except wap.ConcurrentWriteError:
                if attempt == max_retries:
                    raise

    return _start_fold(df, root, checkpoint, fold)


def stream_count_min(df: DataFrame, key_col: str, path: str,
                     checkpoint: str, width: int = 256, depth: int = 4):
    """Maintain a count-min sketch parquet table from a stream: each
    micro-batch builds its own ``depth × width`` sketch
    (``pipelines.analytics.count_min_sketch``) and merges it into the
    stored cells by addition — the CMS is mergeable by construction, so
    the sink rewrite is always <= depth·width rows no matter the stream
    volume or key cardinality (the entire point of sketching a stream).
    Estimates over the stored table come from
    ``pipelines.analytics.cms_estimate`` unchanged. Guarded: cell
    addition counts a replayed batch twice (the HLL sink below is
    idempotent by construction instead). Returns the started
    StreamingQuery."""
    from otit_swt_spark.pipelines.analytics import count_min_sketch

    def fold(spark, batch):
        delta = count_min_sketch(batch, key_col, width, depth)
        return (_stored(spark, path, delta).unionByName(delta)
                .groupBy("row", "col").agg(F.sum("cnt").alias("cnt")))

    return _start_fold(df, path, checkpoint, fold, guarded=True)


def stream_hll(df: DataFrame, key_col: str, path: str, checkpoint: str):
    """Maintain a HyperLogLog register table from a stream: per
    micro-batch, sketch the batch (``pipelines.analytics.hll_sketch``)
    and merge into the stored registers by per-bucket max. Idempotent:
    a redelivered batch re-maxes the same registers. Sink state is
    <= 1024 rows forever; read the estimate with ``hll_estimate`` on the
    stored table."""
    from otit_swt_spark.pipelines.analytics import hll_sketch

    def fold(spark, batch):
        delta = hll_sketch(batch, key_col)
        return (_stored(spark, path, delta).unionByName(delta)
                .groupBy("bucket").agg(F.max("max_rho").alias("max_rho")))

    return _start_fold(df, path, checkpoint, fold)


def stream_bloom_seen(df: DataFrame, key_col: str, path: str,
                      checkpoint: str, n_bits: int = 4096, k: int = 5):
    """Maintain a Bloom seen-set LEDGER from a stream: per micro-batch,
    build the batch's set-bit frame (``pipelines.analytics.bloom_build``)
    and merge it into the stored frame by set union — the
    incrementally-maintained crawled-URL ledger a continuous 100 TB
    frontier needs (the batch loop rebuilds the filter from the full
    ledger per call, which stops scaling once the ledger outgrows a
    scan; this sink's work per batch is bounded by batch size +
    ``n_bits``).

    Idempotent: a redelivered batch re-sets the same bits. Sink state is
    <= ``n_bits`` rows forever regardless of how many keys were ever
    seen. Probe the stored frame with
    ``pipelines.analytics.bloom_probe`` (batch) or
    ``streaming.crawl.stream_frontier_unseen`` (stream-static,
    stateless). Returns the started StreamingQuery."""
    from otit_swt_spark.pipelines.analytics import bloom_build

    def fold(spark, batch):
        delta = bloom_build(batch, key_col, n_bits, k)
        return _stored(spark, path, delta).unionByName(delta).distinct()

    return _start_fold(df, path, checkpoint, fold)


def stream_scd2(df: DataFrame, path: str, checkpoint: str,
                key_col: str, ts_col: str, attr_cols: list,
                order_col: str):
    """Maintain a slowly-changing-dimension type-2 table from a change
    stream, LOG-STRUCTURED: each micro-batch appends to a raw change log
    beside the table, then the touched keys' interval histories are
    re-derived from the log (``pipelines.incremental.scd2_intervals``)
    and the table rewritten with untouched keys carried over. Deriving
    from the LOG — never from the stored intervals — is what makes late
    and out-of-order changes exact: a late change can land between two
    stored versions and REVIVE a change row the earlier collapse dropped
    (same attr before and after the gap), information the collapsed
    intervals no longer hold.

    Idempotent: a redelivered batch's duplicate log rows collapse before
    the re-derive (and an exact duplicate change row is no version change
    in the interval derivation anyway). At cluster scale, partition both
    log and table by a stable key hash so a batch reads/rewrites only
    touched partitions (the pipelines.merge machinery); the log is the
    event-sourcing system of record, the table a derived view. Returns
    the started StreamingQuery."""
    from otit_swt_spark.pipelines.incremental import scd2_intervals

    def intervals(mine):
        return (scd2_intervals(mine, key_col, ts_col, attr_cols,
                               order_cols=[order_col])
                .select(key_col, *attr_cols,
                        "valid_from", "valid_to", "is_current"))

    def fold(spark, batch):
        batch = batch.select(key_col, ts_col, order_col, *attr_cols)
        return _rederive_touched(spark, path, batch, key_col, intervals)

    return _start_fold(df, path, checkpoint, fold)


_HOLT_OUT = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("n_points", T.LongType()),
    T.StructField("level", T.DoubleType()),
    T.StructField("trend", T.DoubleType()),
    T.StructField("forecast", T.DoubleType()),
])


def holt_stream(df: DataFrame, alpha: float = 0.2, beta: float = 0.1,
                horizon: int = 3,
                watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of :func:`otit_swt_spark.timeseries.holt_forecast`:
    the (level, trend) double-exponential fold carried across
    micro-batches in one two-double state row per id
    (``applyInPandasWithState``), emitting the updated per-key state +
    horizon forecast each batch — the live anomaly/forecast monitor over
    an unbounded sensor stream at O(1) state per key. Within a batch
    rows fold in event-time order (STABLE sort, ties keep arrival
    order); on a batch DataFrame, delegates to the exact replayable
    batch implementation.

    Honest late-data contract: the fold is state-forward — an event
    arriving in a LATER micro-batch than a newer already-folded event
    is folded out of order (state cannot rewind), so the streaming
    state equals the batch fold only when arrival respects event time
    across batches (within a batch, order is repaired). Exponential
    smoothing forgets geometrically, so a bounded disorder horizon
    perturbs the state by O((1-alpha)^lag); for exact late-data
    semantics use the batch fold over a log-structured sink (the
    ``stream_markov``/``stream_scd2`` pattern)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("beta must be in [0, 1]")
    one_a, one_b = 1.0 - alpha, 1.0 - beta
    h = float(horizon)

    if not df.isStreaming:
        from otit_swt_spark.timeseries import holt_forecast

        return holt_forecast(df, key="id", ts="timestamp", value="value",
                             alpha=alpha, beta=beta, horizon=horizon)

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdf_iter, state):
        import pandas as pd

        lvl, trd, seen = state.get if state.exists else (None, 0.0, 0)
        chunks = list(pdf_iter)
        if not chunks:
            yield pd.DataFrame(columns=[f.name for f in _HOLT_OUT])
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            "timestamp", kind="mergesort")   # stable: ties keep order
        for x in pdf["value"]:
            x = float(x)
            if lvl is None:
                lvl = x
                trd = 0.0
            else:
                new_l = alpha * x + one_a * (lvl + trd)
                trd = beta * (new_l - lvl) + one_b * trd
                lvl = new_l
            seen += 1
        state.update((lvl, trd, seen))
        yield pd.DataFrame([(key[0], seen, round(lvl, 6), round(trd, 6),
                             round(lvl + h * trd, 6))],
                           columns=[f.name for f in _HOLT_OUT])

    state_schema = T.StructType([
        T.StructField("lvl", T.DoubleType()),
        T.StructField("trd", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])
    return (
        df.withWatermark("timestamp", watermark)
        .groupBy("id")
        .applyInPandasWithState(
            fold, _HOLT_OUT, state_schema, "append",
            GroupStateTimeout.NoTimeout))


def stream_theta(df: DataFrame, key_col: str, group_col: str, path: str,
                 checkpoint: str, k: int = 64):
    """Maintain per-group theta/KMV sketches from a stream: each
    micro-batch hashes its distinct ``(group, key)`` pairs (60-bit md5,
    same as ``pipelines.analytics.theta_sketch``) and merges into the
    stored minimum-hash frame, keeping the ``k`` smallest per group.
    Idempotent: min-k union re-unions a redelivered batch's hashes
    harmlessly. Sink state is <= k rows per group forever; finalize
    estimates (or pairwise audience overlaps) with
    ``pipelines.analytics.theta_finalize`` on the stored frame."""
    from pyspark.sql import Window as W

    from otit_swt_spark.pipelines.dedup import _md5_60

    w = W.partitionBy(group_col).orderBy("__h")

    def fold(spark, batch):
        delta = (batch.select(F.col(group_col),
                              F.col(key_col).cast("string")
                              .alias("__k")).distinct()
                 .select(group_col, _md5_60(F.col("__k")).alias("__h")))
        return (_stored(spark, path, delta).unionByName(delta).distinct()
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= k)
                .select(group_col, "__h"))

    return _start_fold(df, path, checkpoint, fold)


def stream_markov(df: DataFrame, key_col: str, ts_col: str,
                  state_col: str, order_col: str, path: str,
                  checkpoint: str):
    """Maintain per-key Markov transition counts from an event stream,
    LOG-STRUCTURED like the SCD2 sink: each micro-batch appends to a
    raw event log, then the TOUCHED keys' transition contributions are
    re-derived from the log (window lead over the key's full ordered
    history) and the per-key contribution table rewritten with
    untouched keys carried over. Deriving from the log makes
    cross-batch transitions exact — the last event of a key in batch N
    pairs with its first event in batch N+1, and a LATE event lands
    inside the sequence and splits the transition it interrupted,
    which a stored-counts fold could never undo.

    Idempotent: a redelivered batch's duplicate log rows collapse before
    pairing. Read the model with ``finalize_markov`` (global counts +
    Laplace smoothing)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(key_col).orderBy(ts_col, order_col)

    def transitions(mine):
        return (mine.withColumn("__to", F.lead(state_col).over(w))
                .where(F.col("__to").isNotNull())
                .groupBy(key_col,
                         F.col(state_col).alias("from_state"),
                         F.col("__to").alias("to_state"))
                .agg(F.count(F.lit(1)).alias("n")))

    def fold(spark, batch):
        batch = (batch.select(key_col, ts_col, order_col, state_col)
                 .where(F.col(state_col).isNotNull()))  # NULL != a state
        return _rederive_touched(spark, path, batch, key_col, transitions)

    return _start_fold(df, path, checkpoint, fold)


def finalize_markov(contrib: DataFrame, laplace: float = 1.0,
                    n_states: int | None = None) -> DataFrame:
    """Global transition model from the streaming per-key contribution
    table: ``(from_state, to_state, n, p)`` with the same Laplace
    smoothing as ``pipelines.analytics.markov_transitions``. The state
    vocabulary defaults to the states observed in the table."""
    pairs = (contrib.groupBy("from_state", "to_state")
             .agg(F.sum("n").alias("n")))
    if n_states is None:
        vocab = (contrib.select(F.col("from_state").alias("s"))
                 .unionByName(contrib.select(F.col("to_state").alias("s")))
                 .distinct().agg(F.count(F.lit(1)).alias("__v")))
    else:
        vocab = contrib.sparkSession.createDataFrame([(n_states,)],
                                                     "__v long")
    totals = pairs.groupBy("from_state").agg(F.sum("n").alias("__t"))
    return (pairs.join(F.broadcast(totals), "from_state")
            .crossJoin(F.broadcast(vocab))
            .select("from_state", "to_state", "n",
                    F.round((F.col("n") + F.lit(laplace))
                            / (F.col("__t")
                               + F.lit(laplace) * F.col("__v")), 6)
                    .alias("p")))


def stream_weighted_reservoir(df: DataFrame, key_col: str,
                              weight_col: str, path: str,
                              checkpoint: str, k: int = 100,
                              seed: str = "es0"):
    """Maintain an exact-size-k weighted sample WITHOUT replacement
    over a stream (distributed reservoir): Efraimidis-Spirakis keys
    ``ln(u)/w`` with deterministic md5-seeded uniforms are a
    SEMILATTICE under top-k — merging any batch's keyed rows with the
    stored reservoir and keeping the k largest keys yields exactly the
    sample the batch algorithm (``pipelines.sampling
    .es_weighted_sample``) would draw over everything seen so far.
    Idempotent: redelivered rows rescore to the same key. State is <= k
    rows forever."""
    from pyspark.sql import Window as W

    from otit_swt_spark.pipelines.dedup import seeded_uniform

    u = seeded_uniform(F.concat(F.lit(seed + ":"),
                                F.col(key_col).cast("string")))
    w = F.col(weight_col).cast("double")
    win = W.partitionBy().orderBy(F.col("__raw").desc(), F.col(key_col))

    def fold(spark, batch):
        delta = (batch.where(w > 0)
                 .select(F.col(key_col), w.alias("weight"),
                         (F.log(u) / w).alias("__raw")))
        # one row per KEY: a key whose weight changes across batches
        # re-scores, and ln(u)/w is monotone in w for fixed u, so
        # keeping max(__raw) == sampling each key at its MAXIMUM
        # observed weight (stated contract; without this, two weights
        # of one key could both land in the top-k and the "sample of
        # k" would hold k-1 distinct keys)
        return (_stored(spark, path, delta).unionByName(delta)
                .groupBy(key_col)
                .agg(F.max("weight").alias("weight"),
                     F.max("__raw").alias("__raw"))
                .withColumn("__rn", F.row_number().over(win))
                .where(F.col("__rn") <= k)
                .select(key_col, "weight", "__raw"))

    return _start_fold(df, path, checkpoint, fold)


def stream_growth(df: DataFrame, key_col: str, ts_col: str, path: str,
                  checkpoint: str):
    """Maintain the growth-accounting ledger from an event stream,
    LOG-STRUCTURED like the Markov/SCD2 sinks: each micro-batch appends
    its distinct (key, day) activity to a log, then the TOUCHED keys'
    :func:`~otit_swt_spark.pipelines.analytics.activity_flags` rows are
    re-derived from each key's full day history and the per-key flag
    table rewritten with untouched keys carried over. Late days are
    exact: a late activity day can flip a stored churn into a
    retention (it fills the gap that made the next day look
    resurrected), which per-day counters could never undo. Idempotent:
    a redelivered batch's duplicate (key, day) log rows collapse before
    the re-derive. Read the per-day ledger with
    ``pipelines.analytics.growth_ledger`` over the stored flags."""
    from otit_swt_spark.pipelines.analytics import activity_flags

    def fold(spark, batch):
        batch = (batch.select(
            F.col(key_col).alias("k"),
            F.to_date(F.col(ts_col).cast("timestamp")).alias("day"))
            .distinct())
        return _rederive_touched(spark, path, batch, "k", activity_flags)

    return _start_fold(df, path, checkpoint, fold)


def stream_psi(df: DataFrame, ref_shares: list[float], lo: float,
               hi: float, ts_col: str = "timestamp",
               value_col: str = "value", window: str = "5 minutes",
               watermark: str = "1 minute",
               eps: float = 1e-6) -> DataFrame:
    """Streaming drift monitor: population-stability index of each
    event-time window's ``value_col`` distribution against a FIXED
    reference share vector — the live "has the input distribution
    shifted" alarm a feature pipeline runs next to its windowed
    aggregates. ``ref_shares`` comes from the training corpus (e.g. the
    ``share_a`` column of ``analytics.population_stability``); bucket
    semantics mirror ``analytics.histogram`` exactly (fixed bounds,
    equi-width, out-of-range clamps into the edge buckets), so batch
    PSI and streaming PSI are the same number over the same rows.

    Single stateful operator: bucket membership is a map-side
    expression and every bucket's count is a conditional sum inside ONE
    watermarked windowed aggregate — no second aggregation, so the
    query stays append-mode legal and emits one finalized row per
    closed window: ``(window_start, window_end, n, psi)``
    (PSI < 0.1 stable, > 0.25 shifted). On a batch DataFrame the same
    plan runs as a plain windowed groupBy (exact twin, used by the
    pytest oracle)."""
    nbins = len(ref_shares)
    if nbins < 2 or hi <= lo:
        raise ValueError("need >= 2 reference shares and hi > lo")
    width = (hi - lo) / nbins
    v = F.col(value_col).cast("double")
    bucket = F.least(F.greatest(F.floor((v - lo) / width), F.lit(0)),
                     F.lit(nbins - 1))
    base = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    aggs = [F.sum(F.when(bucket == i, 1).otherwise(0)).alias(f"__b{i}")
            for i in range(nbins)]
    g = (base.groupBy(F.window(F.col(ts_col), window).alias("__w"))
         .agg(*aggs, F.count(F.lit(1)).alias("n")))
    psi = None
    for i, r in enumerate(ref_shares):
        p = F.greatest(F.col(f"__b{i}") / F.col("n").cast("double"),
                       F.lit(float(eps)))
        rr = F.lit(max(float(r), float(eps)))
        term = (p - rr) * F.log(p / rr)
        psi = term if psi is None else psi + term
    return g.select(F.col("__w.start").alias("window_start"),
                    F.col("__w.end").alias("window_end"),
                    "n", F.round(psi, 6).alias("psi"))


def stream_quantile_sketch(df: DataFrame, value_col: str, id_col: str,
                           group_col: str, path: str, checkpoint: str,
                           k: int = 256, seed: str = "qs0"):
    """Maintain per-group bottom-k quantile sketches from a stream: each
    micro-batch sketches its own rows (same 60-bit ``md5(seed:id)``
    ranking as ``pipelines.analytics.quantile_sketch``) and merges into
    the stored frame, keeping the ``k`` smallest hashes per group — the
    live "what is this feed's p95 value" monitor whose state is <= k
    rows per group FOREVER, with no per-window exact sort. Idempotent:
    duplicate (group, hash) rows collapse to min(v) in the merge, so a
    redelivered batch re-unions the same sampled rows. Finalize with
    ``pipelines.analytics.quantile_estimate`` on the stored frame; the
    stored sketch is BIT-IDENTICAL to the batch sketch over the union
    of all delivered rows (exact merge semilattice), which is what the
    cross-batch parity test asserts."""
    from pyspark.sql import Window as W

    from otit_swt_spark.pipelines.analytics import quantile_sketch_merge
    from otit_swt_spark.pipelines.dedup import _md5_60

    def fold(spark, batch):
        delta = (batch.where(F.col(value_col).isNotNull()
                             & F.col(id_col).isNotNull())
                 .select(F.col(group_col),
                         F.col(value_col).cast("double").alias("v"),
                         _md5_60(F.concat(
                             F.lit(seed + ":"),
                             F.col(id_col).cast("string"))).alias("__h")))
        # batch-local pre-shrink: collapse duplicate (group, __h) rows
        # to min(v) FIRST (the deterministic tie-break — a row_number
        # cut over tied __h rows straddling the k boundary would keep
        # an arrival-order-dependent v), then at most k rows per group
        # leave the batch
        delta = delta.groupBy(group_col, "__h").agg(F.min("v").alias("v"))
        wl = W.partitionBy(group_col).orderBy("__h")
        delta = (delta.withColumn("__rn", F.row_number().over(wl))
                 .where(F.col("__rn") <= k).drop("__rn"))
        return quantile_sketch_merge(_stored(spark, path, delta), delta,
                                     group_col, k=k)

    return _start_fold(df, path, checkpoint, fold)


def stream_seasonal_score(df: DataFrame, profile: DataFrame,
                          key: str = "id", ts: str = "timestamp",
                          value: str = "value", period: int = 7,
                          k: float = 3.0) -> DataFrame:
    """Streaming twin of ``timeseries.seasonal_anomalies``: score
    incoming rows against a BROADCAST stored seasonal profile (the
    batch decompose output, distilled by ``timeseries.seasonal_profile``
    into one row per (key, phase): expected level + seasonal offset +
    residual sigma) — the "is this spike real or just Saturday" alert
    path, shaped like ``stream_psi`` scoring against ``ref_shares``.

    STATELESS: phase is derived from the event time alone
    (``pmod(datediff(day, epoch_monday), period)``, the calendar twin of
    the batch decompose's position phase on gapless daily series), and
    the profile join is a broadcast hash join — no watermark, no state
    store, append-mode legal with ZERO stateful operators, and the same
    plan runs unchanged on a batch frame (the exact twin the parity
    test replays). Rows whose (key, phase) has no profile entry pass
    through unflagged (left-semi style inner join drops them — an
    unprofiled key has no yardstick, mirroring the batch sigma == 0
    exclusion). Emits ``(key, ts, value, resid, sigma)``."""
    from otit_swt_spark.timeseries import seasonal_phase

    ph = seasonal_phase(F.col(ts), period)
    prof = profile.select(F.col(key).alias("__pk"),
                          F.col("phase").alias("__pph"),
                          "level", "seasonal", "sigma")
    scored = (df.select(F.col(key), F.col(ts),
                        F.col(value).cast("double").alias("__y"))
              .withColumn("__ph", ph)
              .join(F.broadcast(prof),
                    (F.col(key) == F.col("__pk"))
                    & (F.col("__ph") == F.col("__pph")))
              .withColumn("__resid",
                          F.col("__y") - F.col("level") - F.col("seasonal")))
    return (scored.where(F.abs(F.col("__resid")) > F.lit(k) * F.col("sigma"))
            .select(key, ts, F.col("__y").alias(value),
                    (F.round("__resid", 6) + F.lit(0.0)).alias("resid"),
                    (F.round("sigma", 6) + F.lit(0.0)).alias("sigma")))


def stream_windowed_quantile_sketch(df: DataFrame, value_col: str,
                                    id_col: str, group_col: str,
                                    ts_col: str, path: str,
                                    checkpoint: str, k: int = 256,
                                    window: str = "5 minutes",
                                    retain_windows: int = 12,
                                    seed: str = "qs0"):
    """Per-(group, event-time window) bottom-k quantile sketches — the
    "p99 value per 5-minute window" monitor. Each micro-batch assigns
    rows to tumbling windows, sketches per (group, window) with the
    same ``md5(seed:id)`` ranking as the global sink, merges into the
    store, then RETAINS only each group's ``retain_windows`` most
    recent windows (dense-rank pruning — no interval arithmetic, and
    the bound holds under replay because rank is derived from the
    stored data itself). Sink state is therefore <= k x groups x
    retain_windows rows FOREVER; late rows within the retention
    horizon merge exactly (bottom-k union), rows older than it are
    dropped with the window they belong to. Finalize with
    ``pipelines.analytics.quantile_estimate`` grouping on
    (group, window_start) via the stored ``window_start`` column."""
    from pyspark.sql import Window as W

    from otit_swt_spark.pipelines.analytics import quantile_sketch_merge
    from otit_swt_spark.pipelines.dedup import _md5_60

    def fold(spark, batch):
        delta = (batch.where(F.col(value_col).isNotNull()
                             & F.col(id_col).isNotNull())
                 .select(F.col(group_col),
                         F.window(F.col(ts_col), window)["start"]
                         .alias("window_start"),
                         F.col(value_col).cast("double").alias("v"),
                         _md5_60(F.concat(
                             F.lit(seed + ":"),
                             F.col(id_col).cast("string"))).alias("__h")))
        # collapse duplicate (group, window, __h) rows to min(v) before
        # the cut — same determinism argument as the global sink
        delta = (delta.groupBy(group_col, "window_start", "__h")
                 .agg(F.min("v").alias("v")))
        wl = W.partitionBy(group_col, "window_start").orderBy("__h")
        delta = (delta.withColumn("__rn", F.row_number().over(wl))
                 .where(F.col("__rn") <= k).drop("__rn"))
        merged = quantile_sketch_merge(_stored(spark, path, delta), delta,
                                       [group_col, "window_start"], k=k)
        # retention: keep each group's retain_windows most recent windows
        wr = W.partitionBy(group_col).orderBy(F.col("window_start").desc())
        return (merged.withColumn("__wrk", F.dense_rank().over(wr))
                .where(F.col("__wrk") <= retain_windows).drop("__wrk"))

    return _start_fold(df, path, checkpoint, fold)
