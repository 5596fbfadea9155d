"""Structured Streaming sensor ingest (SURVEY §2.9 — additive work).

The reference has no streaming operators; its closest analog is batch OPC UA
history reads with server-side interval aggregation
(reference hybrid/src/timeseries_database/opcua_history_read.rs:94-281).
This package supplies the streaming half the driver's north star asks for:
``readStream`` sources -> watermarked tumbling-window aggregation ->
date-partitioned parquet sinks that register directly as
:class:`otit_swt_spark.timeseries.TimeSeriesTable` for the batch SPARQL
engine, plus an ``applyInPandasWithState`` stateful gap-detection operator.
"""

from otit_swt_spark.streaming.crawl import (
    robots_rules_by_domain,
    stream_crawl_chain,
)
from otit_swt_spark.streaming.dedup import (
    build_lsh_index,
    build_phash_index,
    stream_phash_neardup_flags,
    stream_exact_dedup,
    stream_near_dup_flags,
)
from otit_swt_spark.streaming.ingest import (
    ewma_stream,
    finalize_markov,
    holt_stream,
    read_timeseries_stream,
    registered_table,
    reliability_bins_from_partials,
    session_downsample,
    session_gaps,
    sliding_downsample,
    stream_bloom_seen,
    stream_count_min,
    stream_growth,
    stream_hll,
    stream_incremental_agg,
    stream_interval_join,
    stream_markov,
    stream_psi,
    stream_quantile_sketch,
    stream_reliability_bins,
    stream_scd2,
    stream_seasonal_score,
    stream_theta,
    stream_wap_merge,
    stream_weighted_reservoir,
    stream_windowed_quantile_sketch,
    to_timeseries_sink,
    windowed_downsample,
)

__all__ = [
    "build_lsh_index",
    "build_phash_index",
    "stream_phash_neardup_flags",
    "robots_rules_by_domain",
    "stream_crawl_chain",
    "ewma_stream",
    "finalize_markov",
    "holt_stream",
    "read_timeseries_stream",
    "registered_table",
    "reliability_bins_from_partials",
    "session_downsample",
    "session_gaps",
    "sliding_downsample",
    "stream_bloom_seen",
    "stream_count_min",
    "stream_exact_dedup",
    "stream_growth",
    "stream_hll",
    "stream_incremental_agg",
    "stream_interval_join",
    "stream_markov",
    "stream_near_dup_flags",
    "stream_psi",
    "stream_quantile_sketch",
    "stream_reliability_bins",
    "stream_scd2",
    "stream_seasonal_score",
    "stream_theta",
    "stream_wap_merge",
    "stream_weighted_reservoir",
    "stream_windowed_quantile_sketch",
    "to_timeseries_sink",
    "windowed_downsample",
]
