"""Structured Streaming ingest tests: file source -> watermarked window
aggregation -> date-partitioned sink -> batch TimeSeriesTable -> SPARQL
engine (full streaming-to-batch bridge), plus the stateful gap detector."""

import glob
import io

import pandas as pd
import pytest
from pyspark.sql import functions as F

from otit_swt_spark.engine import Engine
from otit_swt_spark.graph import GraphStore
from otit_swt_spark.streaming import (
    read_timeseries_stream,
    session_gaps,
    to_timeseries_sink,
    windowed_downsample,
)
from otit_swt_spark.streaming.ingest import registered_table

from conftest import TESTDATA_SPARQL, rows


def _write_input(spark, path):
    ts = pd.date_range("2024-01-01 00:00:00", periods=120, freq="10s")
    pdf = pd.DataFrame({
        "id": ["ts1"] * 120,
        "timestamp": ts,
        "value": [float(i) for i in range(120)],
    })
    pdf2 = pdf.copy()
    pdf2["id"] = "ts2"
    pdf2["value"] = pdf2["value"] * 2
    spark.createDataFrame(pd.concat([pdf, pdf2])).coalesce(1) \
        .write.mode("overwrite").parquet(path)


def test_stream_windowed_downsample_to_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, src)

    stream = read_timeseries_stream(spark, src)
    assert stream.isStreaming
    agg = windowed_downsample(stream, interval="5 minutes", watermark="1 minute")
    q = to_timeseries_sink(agg, sink, ckpt, available_now=True)
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    got = rows(out.select("id", "timestamp", "avg_value", "n_points"))
    # 120 points @10s = 20 min -> 4 windows of 5 min per id; append mode
    # emits only watermark-closed windows, so the final in-flight window
    # stays in state: 3 emitted per id
    assert len(got) == 6
    # first ts1 window: avg(0..29) = 14.5
    first_ts1 = [r for r in got if r[0] == "ts1"][0]
    assert float(first_ts1[2]) == 14.5 and int(first_ts1[3]) == 30
    # partition layout exists for pruning
    assert glob.glob(f"{sink}/year=2024/month=1/day=1/*.parquet")


def test_stream_sink_feeds_sparql_engine(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, src)
    q = to_timeseries_sink(
        windowed_downsample(read_timeseries_stream(spark, src),
                            interval="5 minutes", watermark="1 minute"),
        sink, ckpt, available_now=True)
    q.awaitTermination(120)

    graph = GraphStore.from_sparql_insert(spark, TESTDATA_SPARQL)
    eng = Engine(spark, graph).add_timeseries_table(registered_table(sink))
    df = eng.query("""
    PREFIX otit_swt: <https://github.com/magbak/otit_swt#>
    SELECT ?ts_id (COUNT(?v) AS ?n) WHERE {
        ?ts otit_swt:hasExternalId ?ts_id .
        ?ts otit_swt:hasDataPoint ?dp .
        ?dp otit_swt:hasValue ?v .
    } GROUP BY ?ts_id""")
    got = rows(df)
    assert got == [("ts1", 3), ("ts2", 3)]


def test_session_gaps_batch(spark):
    pdf = pd.DataFrame({
        "id": ["a"] * 4 + ["b"] * 2,
        "timestamp": pd.to_datetime([
            "2024-01-01 00:00:00", "2024-01-01 00:00:10",
            "2024-01-01 00:05:00", "2024-01-01 00:05:10",  # 290s gap
            "2024-01-01 00:00:00", "2024-01-01 00:00:30",
        ]),
        "value": [1.0] * 6,
    })
    df = spark.createDataFrame(pdf)
    gaps = session_gaps(df, max_gap_seconds=60.0)
    got = rows(gaps.select("id", "gap_seconds"))
    assert got == [("a", 290.0)]


def test_session_gaps_streaming(spark, tmp_path):
    src = str(tmp_path / "src")
    pdf = pd.DataFrame({
        "id": ["a"] * 4,
        "timestamp": pd.to_datetime([
            "2024-01-01 00:00:00", "2024-01-01 00:00:10",
            "2024-01-01 00:05:00", "2024-01-01 00:05:10",
        ]),
        "value": [1.0] * 4,
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = read_timeseries_stream(spark, src)
    gaps = session_gaps(stream, max_gap_seconds=60.0)
    q = (gaps.writeStream.format("memory").queryName("gaps_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = rows(spark.sql("SELECT id, gap_seconds FROM gaps_out"))
    assert got == [("a", 290.0)]


def test_sliding_downsample_batch_semantics(spark):
    import pandas as pd
    from otit_swt_spark.streaming import sliding_downsample

    ts = pd.date_range("2024-01-01 00:00:00", periods=60, freq="1min")
    df = spark.createDataFrame(pd.DataFrame({
        "id": ["a"] * 60, "timestamp": ts,
        "value": [float(i) for i in range(60)]}))
    out = sliding_downsample(df, window="10 minutes", slide="5 minutes")
    got = rows(out.select("window_start", "n_points"))
    # 1 hour of data, 5-min slide -> windows starting every 5 min; interior
    # windows hold 10 points, the two edge windows 5
    counts = [n for _, n in got]
    assert max(counts) == 10 and min(counts) == 5
    assert len(got) == 13


def test_session_downsample_batch_semantics(spark):
    import pandas as pd
    from otit_swt_spark.streaming import session_downsample

    t = pd.to_datetime([
        "2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:02:00",
        "2024-01-01 01:00:00", "2024-01-01 01:01:00",
    ])
    df = spark.createDataFrame(pd.DataFrame({
        "id": ["a"] * 5, "timestamp": t, "value": [1.0] * 5}))
    out = rows(session_downsample(df, gap="5 minutes").select("id", "n_points"))
    assert sorted(n for _, n in out) == [2, 3]


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming exact dedup: first arrival of each content digest is
    emitted, later copies inside the watermark horizon are suppressed."""
    from otit_swt_spark.streaming import stream_exact_dedup

    src = str(tmp_path / "docs_src")
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["alpha", "beta", "alpha", "gamma", "beta"],
        "ingest_time": pd.to_datetime(["2024-01-01 00:00:00"] * 5),
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string, ingest_time timestamp")
              .parquet(src))
    deduped = stream_exact_dedup(stream)
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["text"] for r in spark.sql("SELECT text FROM dedup_out").collect())
    assert got == ["alpha", "beta", "gamma"]


def test_stream_near_dup_flags(spark, tmp_path):
    """Stream-static LSH join: streaming docs that collide with the static
    corpus index are flagged; novel docs are not."""
    from otit_swt_spark.streaming import build_lsh_index, stream_near_dup_flags

    corpus = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100, 101],
        "text": ["the quick brown fox jumps over the lazy dog again and again",
                 "completely unrelated reference material about spark internals"],
    }))
    index = build_lsh_index(corpus, k=32, bands=16)

    src = str(tmp_path / "probe_src")
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["the quick brown fox jumps over the lazy dog again and again",
                 "zebra xylophone quartz vortex blitz jackdaws phlegm unique"],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    flags = stream_near_dup_flags(stream, index, k=32, bands=16)
    q = (flags.writeStream.format("memory").queryName("neardup_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_id"], r["corpus_id"])
           for r in spark.sql("SELECT * FROM neardup_out").collect()}
    assert (1, 100) in got
    assert all(d != 2 for d, _ in got)

    # batch twin aggregates to hit counts
    batch = stream_near_dup_flags(spark.createDataFrame(pdf), index, k=32, bands=16)
    assert {(r["doc_id"], r["n_hits"]) for r in batch.collect()} == {(1, 1)}


def test_stream_corpus_prep_stateless_ops(spark, tmp_path):
    """PII scrub, text stats, and repetition stats are stateless
    projections (staged HOF columns included), so they run unchanged on a
    streaming DataFrame — the streaming corpus-prep path needs no separate
    implementation."""
    from otit_swt_spark.pipelines.pii import scrub_pii
    from otit_swt_spark.pipelines.textstats import repetition_stats, text_stats

    src = str(tmp_path / "prep_src")
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["mail me at spam spam spam a@b.co today",
                 "clean and varied words only here"],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    prepped = repetition_stats(text_stats(scrub_pii(stream)))
    q = (prepped.writeStream.format("memory").queryName("prep_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.sql("SELECT * FROM prep_out").collect()}
    assert "<EMAIL>" in got[1].text and got[1].pii_n_email == 1
    assert got[1].stat_n_tokens == 8                  # scrub happens first
    assert got[1].rep_max_gram_count == 2             # "spam spam" twice
    assert got[2].pii_n_email == 0 and got[2].rep_dup_token_frac == 0.0


def test_stream_decontamination_flags(spark, tmp_path):
    """contamination_flags is aggregation-free, so it runs on a stream
    against a static benchmark without watermarks or state."""
    from otit_swt_spark.pipelines.decontam import contamination_flags

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    src = str(tmp_path / "decon_src")
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["the quick brown fox jumps over the lazy dog",
                 "completely unrelated words about spark plans"],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    flagged = contamination_flags(stream, bench, n=4)
    q = (flagged.writeStream.format("memory").queryName("decon_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: r.contaminated
           for r in spark.sql("SELECT * FROM decon_out").collect()}
    assert got == {1: True, 2: False}


def test_stream_lm_scoring(spark, tmp_path):
    """Row-wise LM scoring (broadcast model dict + mapInPandas) runs on a
    stream with no state."""
    from otit_swt_spark.pipelines.lm_quality import (
        score_docs_rowwise, train_char_lm)

    train = spark.createDataFrame(
        [(i, "steady stream of plain english text here") for i in range(4)],
        "doc_id long, text string")
    model = train_char_lm(train, n=3)
    src = str(tmp_path / "lm_src")
    pdf = pd.DataFrame({"doc_id": [1, 2],
                        "text": ["plain english text", "zzqq xxvv kkjj"]})
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (score_docs_rowwise(stream, model, n=3)
         .writeStream.format("memory").queryName("lm_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: r.lm_score for r in spark.sql("SELECT * FROM lm_out").collect()}
    assert got[1] > got[2]


def test_ewma_stream_matches_batch(spark, tmp_path):
    from otit_swt_spark.streaming import ewma_stream, read_timeseries_stream
    from otit_swt_spark.timeseries import ewma as batch_ewma

    src = str(tmp_path / "ewma_src")
    ts = pd.date_range("2024-01-01", periods=20, freq="1min")
    pdf = pd.DataFrame({
        "id": ["a"] * 10 + ["b"] * 10,
        "timestamp": list(ts[:10]) + list(ts[:10]),
        "value": [float(i) for i in range(10)] + [float(100 - i) for i in range(10)],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)

    out = ewma_stream(read_timeseries_stream(spark, src), alpha=0.5)
    q = (out.writeStream.format("memory").queryName("ewma_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = rows(spark.sql("SELECT id, timestamp, ewma FROM ewma_out"))

    batch = batch_ewma(
        spark.createDataFrame(pdf), key="id", ts="timestamp", alpha=0.5)
    want = rows(batch.select("id", "timestamp", "ewma"))
    assert got == want


def test_ewma_stream_batch_delegation(spark):
    from otit_swt_spark.streaming import ewma_stream

    df = spark.createDataFrame(
        [("a", 0, 10.0), ("a", 1, 0.0)], "id string, timestamp long, value double")
    out = {r.timestamp: r.ewma for r in ewma_stream(df, alpha=0.5).collect()}
    assert out == {0: 10.0, 1: 5.0}


def test_ewma_stream_multichunk_group(spark, tmp_path):
    """A group larger than one Arrow chunk must still fold in event-time
    order: shrink maxRecordsPerBatch so the 600-row key splits into many
    chunks, and write the rows to parquet in REVERSE time order."""
    from otit_swt_spark.streaming import ewma_stream, read_timeseries_stream
    from otit_swt_spark.timeseries import ewma as batch_ewma

    src = str(tmp_path / "ewma_chunks")
    ts = pd.date_range("2024-01-01", periods=600, freq="1s")
    pdf = pd.DataFrame({
        "id": ["a"] * 600,
        "timestamp": list(ts),
        "value": [float((i * 37) % 101) for i in range(600)],
    }).iloc[::-1]
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        out = ewma_stream(read_timeseries_stream(spark, src), alpha=0.3)
        q = (out.writeStream.format("memory").queryName("ewma_chunks_out")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = rows(spark.sql(
            "SELECT id, timestamp, ewma FROM ewma_chunks_out"))
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    want = rows(batch_ewma(spark.createDataFrame(pdf), key="id",
                           ts="timestamp", alpha=0.3)
                .select("id", "timestamp", "ewma"))
    assert got == want


def test_stream_reliability_bins_matches_batch(spark, tmp_path):
    """The streaming calibration monitor folded over two micro-batches
    equals the batch reliability_bins over the union — bin for bin,
    value for value (same DECIMAL partials, same final expressions)."""
    from otit_swt_spark.pipelines.analytics import reliability_bins
    from otit_swt_spark.streaming.ingest import (
        reliability_bins_from_partials,
        stream_reliability_bins,
    )

    # scores with >6 decimal places on purpose: the partials fold MUST
    # quantize per-row at the batch operator's decimal(38,12) — the
    # incremental machinery's default decimal(38,6) would round
    # 0.0000006 to 0.000001 before summing and diverge (r12 review fix)
    b1 = pd.DataFrame({"score": [0.05, 0.15, 0.95, 0.0000006],
                       "label": [0, 1, 1, 0]})
    b2 = pd.DataFrame({"score": [0.15, 1.0, 0.97, 0.0000006],
                       "label": [0, 1, 0, 1]})
    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("score double, label long")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_reliability_bins(stream, agg, ck)
    q.awaitTermination(120)

    got = rows(reliability_bins_from_partials(spark, agg))
    both = spark.createDataFrame(pd.concat([b1, b2]))
    want = rows(reliability_bins(both, "score", "label"))
    assert got == want and len(got) == 3  # bins 0, 1, 9


def test_stream_incremental_agg(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1) folded through
    foreachBatch must equal one full recompute."""
    from otit_swt_spark.pipelines.incremental import partial_agg, read_agg
    from otit_swt_spark.streaming.ingest import stream_incremental_agg

    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    ck = str(tmp_path / "ck")
    b1 = pd.DataFrame({"grp": ["x", "x", "y"], "v": [1.0, 2.0, 10.0]})
    b2 = pd.DataFrame({"grp": ["x", "z"], "v": [4.0, 7.0]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("grp string, v double")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_incremental_agg(stream, agg, ["grp"], ["v"], ck)
    q.awaitTermination(120)

    got = rows(read_agg(spark, agg, ["v"]).select("grp", "n", "sum_v"))
    assert got == [("x", 3, 7.0), ("y", 1, 10.0), ("z", 1, 7.0)]


def test_stream_stream_interval_join(spark, tmp_path):
    """True stream-stream join: clicks attribute to same-key views within
    the preceding 10 minutes; result must equal the batch twin."""
    from otit_swt_spark.streaming.ingest import stream_interval_join

    base = pd.Timestamp("2024-01-01")
    clicks_pd = pd.DataFrame({
        "id": ["a", "a", "b"],
        "timestamp": [base + pd.Timedelta(minutes=m) for m in (10, 40, 10)],
        "value": [1.0, 2.0, 3.0]})
    views_pd = pd.DataFrame({
        "id": ["a", "a", "b"],
        "timestamp": [base + pd.Timedelta(minutes=m) for m in (5, 25, 50)],
        "value": [10.0, 20.0, 30.0]})
    csrc, vsrc = str(tmp_path / "c"), str(tmp_path / "v")
    spark.createDataFrame(clicks_pd).coalesce(1).write.parquet(csrc)
    spark.createDataFrame(views_pd).coalesce(1).write.parquet(vsrc)

    out = stream_interval_join(
        read_timeseries_stream(spark, csrc), read_timeseries_stream(spark, vsrc))
    q = (out.writeStream.format("memory").queryName("ssj_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = rows(spark.sql("SELECT id, l_value, r_value FROM ssj_out"))
    # a@10 matches view a@5; a@40 matches nothing (a@25 is 15 min before);
    # b@10 matches nothing (b@50 is later)
    assert got == [("a", 1.0, 10.0)]

    batch = stream_interval_join(spark.createDataFrame(clicks_pd),
                                 spark.createDataFrame(views_pd))
    assert rows(batch.select("id", "l_value", "r_value")) == got


def test_stream_wap_merge_versions_per_batch(spark, tmp_path):
    """Streamed CDC batches into a WAP table: each micro-batch publishes
    one snapshot-isolated version; the final state equals the batchwise
    keyed merge and every intermediate version stays time-travelable."""
    from otit_swt_spark.pipelines import wap
    from otit_swt_spark.streaming.ingest import stream_wap_merge

    root = str(tmp_path / "wtbl")
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "id long, val string, p long")
    wap.init_table(spark, root, base, partition_col="p")

    sch = "id long, val string, p long, deleted boolean"
    b1 = spark.createDataFrame([(1, "A", 0, False), (3, "c", 0, False)], sch)
    b2 = spark.createDataFrame([(2, None, 1, True)], sch)
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("id long, val string, p long, deleted boolean")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_wap_merge(stream, root, key="id", checkpoint=ck,
                         deleted_col="deleted")
    q.awaitTermination(120)

    assert wap.current_version(spark, root) == 3  # init + 2 batches
    after = {r.id: r.val for r in wap.read_table(spark, root).collect()}
    assert after == {1: "A", 3: "c"}  # 2 deleted, 1 updated, 3 inserted
    # every intermediate version still time-travels
    assert {r.id for r in wap.read_table(spark, root, version=1).collect()} \
        == {1, 2}


def test_stream_count_min_matches_batch_sketch(spark, tmp_path):
    """Streaming CMS folded over two micro-batches must equal the batch
    sketch of the full corpus cell-for-cell (mergeability through
    foreachBatch), estimates over the stored table never undercount, and
    a full replay from a fresh checkpoint is skipped by the batch-id
    guard (cell addition would double every cell)."""
    from otit_swt_spark.pipelines.analytics import cms_estimate, count_min_sketch
    from otit_swt_spark.streaming.ingest import stream_count_min

    src = str(tmp_path / "src")
    sk = str(tmp_path / "sketch")
    ck = str(tmp_path / "ck")
    b1 = pd.DataFrame({"k": [str(i % 11) for i in range(300)]})
    b2 = pd.DataFrame({"k": [str(i % 7) for i in range(200)]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("k string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_count_min(stream, "k", sk, ck, width=64, depth=3)
    q.awaitTermination(120)

    full = spark.createDataFrame(pd.concat([b1, b2]))
    want = {(r["row"], r["col"]): r["cnt"] for r in
            count_min_sketch(full, "k", width=64, depth=3).collect()}
    got = {(r["row"], r["col"]): r["cnt"] for r in
           spark.read.parquet(sk).collect()}
    assert got == want
    est = {r["k"]: r["est_count"] for r in
           cms_estimate(spark.read.parquet(sk), full.distinct(), "k",
                        width=64, depth=3).collect()}
    true = {r["k"]: r["n"] for r in
            full.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert all(est[k] >= true[k] for k in true)

    # full replay from a fresh checkpoint: guarded, table unchanged
    stream2 = (spark.readStream.schema("k string")
               .option("maxFilesPerTrigger", "1").parquet(src))
    stream_count_min(stream2, "k", sk, str(tmp_path / "ck2"),
                     width=64, depth=3).awaitTermination(120)
    again = {(r["row"], r["col"]): r["cnt"] for r in
             spark.read.parquet(sk).collect()}
    assert again == want


def test_stream_hll_matches_batch_sketch(spark, tmp_path):
    """Streaming HLL registers folded over two micro-batches equal the
    batch sketch of the full stream (max-merge is order-insensitive and
    replay-safe), and the estimate lands within the 1024-register error
    band."""
    from otit_swt_spark.pipelines.analytics import hll_estimate, hll_sketch
    from otit_swt_spark.streaming.ingest import stream_hll

    src = str(tmp_path / "src")
    sk = str(tmp_path / "hll")
    ck = str(tmp_path / "ck")
    b1 = pd.DataFrame({"u": [f"user{i}" for i in range(800)]})
    b2 = pd.DataFrame({"u": [f"user{i}" for i in range(400, 1200)]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("u string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_hll(stream, "u", sk, ck)
    q.awaitTermination(120)

    full = spark.createDataFrame(pd.concat([b1, b2]))
    want = {(r["bucket"], r["max_rho"]) for r in
            hll_sketch(full, "u").collect()}
    got = {(r["bucket"], r["max_rho"]) for r in
           spark.read.parquet(sk).collect()}
    assert got == want
    est = hll_estimate(spark.read.parquet(sk)).first()["estimate"]
    assert abs(est - 1200) / 1200 < 0.1

    # full replay from a fresh checkpoint: max-merge is idempotent
    stream2 = (spark.readStream.schema("u string")
               .option("maxFilesPerTrigger", "1").parquet(src))
    stream_hll(stream2, "u", sk, str(tmp_path / "ck2")).awaitTermination(120)
    assert {(r["bucket"], r["max_rho"]) for r in
            spark.read.parquet(sk).collect()} == want


def test_stream_scd2_matches_batch_twin_and_handles_late_data(spark, tmp_path):
    """Three micro-batches (maxFilesPerTrigger=1) folded into the SCD2
    table — including a LATE change that lands between two already-stored
    versions — must equal one batch scd2_intervals over the full log;
    restarting the stream over the same source (full replay) leaves the
    table unchanged (idempotent fold, no batch-id guard needed)."""
    from otit_swt_spark.pipelines.incremental import scd2_intervals
    from otit_swt_spark.streaming.ingest import stream_scd2

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "scd2")
    base = pd.Timestamp("2024-01-01")

    def mk(rows):
        return pd.DataFrame({
            "k": [r[0] for r in rows],
            "ts": [base + pd.Timedelta(days=r[1]) for r in rows],
            "eid": [r[2] for r in rows],
            "attr": [r[3] for r in rows]})

    b1 = mk([(1, 1, 1, "a"), (1, 3, 2, "a"), (2, 1, 3, "p")])
    b2 = mk([(1, 5, 4, "b"), (2, 2, 5, "q")])
    b3 = mk([(1, 2, 6, "c")])          # LATE: lands between days 1 and 3
    for i, b in enumerate((b1, b2, b3)):
        spark.createDataFrame(b).coalesce(1).write.mode(
            "append" if i else "overwrite").parquet(src)

    schema = "k long, ts timestamp, eid long, attr string"

    def run(ck):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = stream_scd2(stream, tbl, ck, "k", "ts", ["attr"], "eid")
        q.awaitTermination(180)

    run(str(tmp_path / "ck1"))
    full_log = spark.createDataFrame(pd.concat([b1, b2, b3]), schema)
    want = rows(scd2_intervals(full_log, "k", "ts", ["attr"],
                               order_cols=["eid"])
                .select("k", "attr", "valid_from", "valid_to",
                        "is_current"))
    got = rows(spark.read.parquet(tbl)
               .select("k", "attr", "valid_from", "valid_to", "is_current"))
    assert got == want
    # key 1's history after the late merge (days are base+offset, so
    # Jan 2/3/4/6): a -> late c -> REVIVED a -> b. The revived middle 'a'
    # is exactly the row a stored-interval re-derivation would lose —
    # the log-structured design is what recovers it.
    k1 = [(r[1], r[2].day) for r in got if r[0] == 1]
    assert sorted(k1, key=lambda x: x[1]) == [
        ("a", 2), ("c", 3), ("a", 4), ("b", 6)]
    # full replay from a fresh checkpoint: idempotent, table unchanged
    run(str(tmp_path / "ck2"))
    again = rows(spark.read.parquet(tbl)
                 .select("k", "attr", "valid_from", "valid_to",
                         "is_current"))
    assert again == want


def test_holt_stream_state_carries_across_batches(spark, tmp_path):
    """Two micro-batches through the stateful Holt fold: the final
    emitted state equals the batch holt_forecast over the full series
    (state carried across batches), and the batch-mode delegation
    matches exactly."""
    from otit_swt_spark.streaming.ingest import holt_stream
    from otit_swt_spark.timeseries import holt_forecast

    src = str(tmp_path / "src")
    base = pd.Timestamp("2024-01-01")
    xs = [10.0, 12.0, 9.0, 15.0, 14.0, 11.0]
    mk = lambda lo, hi: pd.DataFrame({  # noqa: E731
        "id": ["s1"] * (hi - lo),
        "timestamp": [base + pd.Timedelta(hours=i) for i in range(lo, hi)],
        "value": xs[lo:hi]})
    spark.createDataFrame(mk(0, 3)).coalesce(1).write.parquet(src)
    spark.createDataFrame(mk(3, 6)).coalesce(1).write.mode(
        "append").parquet(src)

    stream = (spark.readStream.schema("id string, timestamp timestamp, "
                                      "value double")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = holt_stream(stream, alpha=0.2, beta=0.1, horizon=3)
    q = (out.writeStream.format("memory").queryName("holt_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    emitted = spark.sql(
        "SELECT * FROM holt_out ORDER BY n_points").collect()
    assert [r["n_points"] for r in emitted] == [3, 6]

    full = spark.createDataFrame(mk(0, 6))
    want = holt_forecast(full, key="id", ts="timestamp", value="value",
                         alpha=0.2, beta=0.1, horizon=3).first()
    last = emitted[-1]
    assert (last["level"], last["trend"], last["forecast"]) == \
        (want["level"], want["trend"], want["forecast"])
    # batch delegation returns the replayable batch implementation
    bat = holt_stream(full, alpha=0.2, beta=0.1, horizon=3).first()
    assert (bat["level"], bat["trend"], bat["forecast"]) == \
        (want["level"], want["trend"], want["forecast"])


def test_stream_theta_matches_batch_sketch(spark, tmp_path):
    """Streaming theta/KMV min-hash frames folded over two micro-batches
    equal the batch sketch of the full stream (min-k union is
    order-insensitive and replay-safe), and replaying the stream from a
    fresh checkpoint leaves the frame unchanged."""
    from otit_swt_spark.pipelines.analytics import theta_finalize, theta_sketch
    from otit_swt_spark.streaming.ingest import stream_theta

    src = str(tmp_path / "src")
    sk = str(tmp_path / "theta")
    b1 = pd.DataFrame({"g": ["A"] * 600 + ["B"] * 200,
                       "u": [f"u{i}" for i in range(600)]
                       + [f"u{i}" for i in range(200)]})
    b2 = pd.DataFrame({"g": ["A"] * 500,
                       "u": [f"u{i}" for i in range(300, 800)]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("g string, u string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_theta(stream, "u", "g", sk, str(tmp_path / "ck"), k=64)
    q.awaitTermination(120)

    full = spark.createDataFrame(pd.concat([b1, b2]))
    want = {(r["g"], tuple(r["ks"]), r["n_kept"], r["theta"], r["est"])
            for r in theta_sketch(full, "u", "g", k=64).collect()}
    got = {(r["g"], tuple(r["ks"]), r["n_kept"], r["theta"], r["est"])
           for r in theta_finalize(spark.read.parquet(sk), "g",
                                   k=64).collect()}
    assert got == want
    # estimates in range: A has 800 distinct, B exactly 200
    ests = {r["g"]: r["est"] for r in
            theta_finalize(spark.read.parquet(sk), "g", k=64).collect()}
    assert 560 <= ests["A"] <= 1100
    assert 150 <= ests["B"] <= 280

    # full replay from a fresh checkpoint: fold is idempotent
    stream2 = (spark.readStream.schema("g string, u string")
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = stream_theta(stream2, "u", "g", sk, str(tmp_path / "ck2"), k=64)
    q2.awaitTermination(120)
    got2 = {(r["g"], tuple(r["ks"]))
            for r in theta_finalize(spark.read.parquet(sk), "g",
                                    k=64).collect()}
    assert got2 == {(g, ks) for g, ks, *_ in got}


def test_stream_markov_matches_batch_twin(spark, tmp_path):
    """Three micro-batches with a CROSS-BATCH transition and a LATE
    event that splits a stored transition must equal the batch
    markov_transitions over the full log; replay from a fresh
    checkpoint is idempotent."""
    from otit_swt_spark.pipelines.analytics import markov_transitions
    from otit_swt_spark.streaming.ingest import finalize_markov, stream_markov

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "markov")
    schema = "user_id long, us long, event_id long, event_type string"
    b1 = [(1, 1, 1, "a"), (1, 2, 2, "b"), (2, 1, 3, "a")]
    b2 = [(1, 4, 4, "c"), (2, 5, 5, "b")]       # cross-batch: b->c, a->b
    b3 = [(1, 3, 6, "z")]                        # LATE: lands between b and c
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_markov(stream, "user_id", "us", "event_type", "event_id",
                      tbl, str(tmp_path / "ck"))
    q.awaitTermination(120)

    got = {(r["from_state"], r["to_state"]): (r["n"], r["p"])
           for r in finalize_markov(spark.read.parquet(tbl)).collect()}
    full = spark.createDataFrame(b1 + b2 + b3, schema) \
        .select("user_id", F.timestamp_micros("us").alias("ts"),
                "event_id", "event_type")
    want = {(r["from_state"], r["to_state"]): (r["n"], r["p"])
            for r in markov_transitions(full, key="user_id", ts="ts",
                                        order_cols=["event_id"]).collect()}
    assert got == want
    # the late z SPLIT b->c into b->z and z->c
    assert ("b", "z") in got and ("z", "c") in got
    assert ("b", "c") not in got

    # full replay, fresh checkpoint: idempotent
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = stream_markov(stream2, "user_id", "us", "event_type",
                       "event_id", tbl, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    again = {(r["from_state"], r["to_state"]): (r["n"], r["p"])
             for r in finalize_markov(spark.read.parquet(tbl)).collect()}
    assert again == got


def test_stream_weighted_reservoir_matches_batch(spark, tmp_path):
    """Reservoir folded over two micro-batches equals the batch
    Efraimidis-Spirakis sample over the full stream (top-k by ES key is
    a semilattice), and replay is idempotent."""
    from otit_swt_spark.pipelines.sampling import es_weighted_sample
    from otit_swt_spark.streaming.ingest import stream_weighted_reservoir

    src = str(tmp_path / "src")
    res = str(tmp_path / "res")
    b1 = [(i, float(1 + i % 7)) for i in range(500)]
    b2 = [(i, float(1 + i % 7)) for i in range(500, 1000)]
    schema = "id long, w double"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_weighted_reservoir(stream, "id", "w", res,
                                  str(tmp_path / "ck"), k=50, seed="s")
    q.awaitTermination(120)

    full = spark.createDataFrame(b1 + b2, schema)
    want = {r["id"] for r in
            es_weighted_sample(full, "id", "w", k=50, seed="s").collect()}
    got = {r["id"] for r in spark.read.parquet(res).collect()}
    assert got == want and len(got) == 50

    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = stream_weighted_reservoir(stream2, "id", "w", res,
                                   str(tmp_path / "ck2"), k=50, seed="s")
    q2.awaitTermination(120)
    assert {r["id"] for r in spark.read.parquet(res).collect()} == want


def test_stream_growth_matches_batch_and_late_day_flip(spark, tmp_path):
    """Growth ledger over three micro-batches — including a LATE
    activity day that retroactively flips a churn into retention — must
    equal the batch growth_accounting over the full stream."""
    from otit_swt_spark.pipelines.analytics import (growth_accounting,
                                                    growth_ledger)
    from otit_swt_spark.streaming.ingest import stream_growth

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "flags")
    schema = "user_id long, s string"
    b1 = [(1, "2024-01-01"), (2, "2024-01-01")]
    b2 = [(1, "2024-01-03")]                 # gap -> u1 looks resurrected
    b3 = [(1, "2024-01-02")]                 # LATE: fills the gap
    for i, rows in enumerate((b1, b2, b3)):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)

    def run(ck):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = stream_growth(
            stream.select("user_id", F.to_timestamp("s").alias("ts")),
            "user_id", "ts", tbl, ck)
        q.awaitTermination(120)

    def ledger():
        return {str(r["day"]): tuple(r[c] for c in
                                     ("n_active", "n_new", "n_retained",
                                      "n_resurrected", "n_churned"))
                for r in growth_ledger(spark.read.parquet(tbl)).collect()}

    run(str(tmp_path / "ck"))
    got = ledger()
    full = spark.createDataFrame(b1 + b2 + b3, schema) \
        .select("user_id", F.to_timestamp("s").alias("ts"))
    want = {str(r["day"]): tuple(r[c] for c in
                                 ("n_active", "n_new", "n_retained",
                                  "n_resurrected", "n_churned"))
            for r in growth_accounting(full).collect()}
    assert got == want
    # the late day turned 01-03 from resurrection into retention
    assert want["2024-01-03"][3] == 0 and want["2024-01-03"][2] == 1
    # 01-02 after the late fill: u1 retained (1 active), u2 churned
    assert got["2024-01-02"] == (1, 0, 1, 0, 1)
    # full replay from a fresh checkpoint: idempotent, flags unchanged
    stored = sorted(map(str, spark.read.parquet(tbl).collect()))
    run(str(tmp_path / "ck2"))
    assert sorted(map(str, spark.read.parquet(tbl).collect())) == stored
    assert ledger() == want


def test_session_gaps_survives_arrow_chunking(spark, tmp_path):
    """A key whose micro-batch spans multiple Arrow record batches must
    fold in global time order — chunk-local sorting rewinds last_ts at
    the boundary and fabricates/misses gaps."""
    from otit_swt_spark.streaming.ingest import session_gaps

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        src = str(tmp_path / "src")
        # 300 in-order points 1s apart, ONE real 121s gap in the middle
        # (last of block 1 at t=1149, first of block 2 at t=1270)
        ts = ([1000 + i for i in range(150)]
              + [1000 + 150 + 120 + i for i in range(150)])
        import random
        rng = random.Random(4)
        rng.shuffle(ts)                       # arrival order scrambled
        pdf = pd.DataFrame({"id": ["s"] * 300,
                            "timestamp": pd.to_datetime(ts, unit="s"),
                            "value": [1.0] * 300})
        spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
        stream = (spark.readStream
                  .schema("id string, timestamp timestamp, value double")
                  .parquet(src))
        q = session_gaps(stream, max_gap_seconds=60.0)
        out = str(tmp_path / "out")
        (q.writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start().awaitTermination(120))
        gaps = spark.read.parquet(out).collect()
        assert len(gaps) == 1, gaps
        assert abs(gaps[0]["gap_seconds"] - 121.0) < 1e-6
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           old)


def test_stream_reservoir_weight_change_one_row_per_key(spark, tmp_path):
    """A key whose weight changes across batches must hold ONE reservoir
    row (sampled at its maximum observed weight), never two."""
    from otit_swt_spark.streaming.ingest import stream_weighted_reservoir

    src = str(tmp_path / "src")
    schema = "id long, w double"
    spark.createDataFrame([(i, 1.0) for i in range(40)], schema) \
        .coalesce(1).write.parquet(src)
    spark.createDataFrame([(i, 2.0) for i in range(40)], schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_weighted_reservoir(stream, "id", "w", str(tmp_path / "r"),
                                  str(tmp_path / "ck"), k=30)
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "r")).collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)) == 30
    assert all(r["weight"] == 2.0 for r in rows)   # max observed weight


def test_stream_psi_drift_alarm(spark, tmp_path):
    """Streaming PSI vs a fixed reference: first window drawn FROM the
    reference distribution (psi ~ 0), second window shifted hard
    (psi > 0.25); streaming result equals the batch twin row-for-row."""
    from otit_swt_spark.streaming.ingest import stream_psi

    src = str(tmp_path / "psi_src")
    # reference: uniform over [0, 100) in 5 buckets
    ref = [0.2] * 5
    ts0 = pd.Timestamp("2024-01-01 00:00:00")
    rows_in = []
    for i in range(200):  # window 1: matches reference
        rows_in.append(("a", ts0 + pd.Timedelta(seconds=i),
                        float(i % 100)))
    for i in range(200):  # window 2: all mass in the top bucket
        rows_in.append(("a", ts0 + pd.Timedelta(minutes=10, seconds=i),
                        95.0))
    pdf = pd.DataFrame(rows_in, columns=["id", "timestamp", "value"])
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite") \
        .parquet(src)

    stream = read_timeseries_stream(spark, src)
    out = stream_psi(stream, ref, lo=0.0, hi=100.0,
                     window="5 minutes", watermark="1 minute")
    sink = str(tmp_path / "psi_sink")
    q = (out.writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", str(tmp_path / "psi_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["window_start"]: r for r in spark.read.parquet(sink).collect()}
    # append mode: the last in-flight window is held back; window 1 closed
    assert got, "no closed windows emitted"
    w1 = got[ts0.to_pydatetime()]
    assert w1["n"] == 200 and w1["psi"] < 0.01

    # batch twin over ALL rows (both windows) must agree with streaming
    # on window 1 and show the alarm on window 2
    batch = {r["window_start"]: r for r in
             stream_psi(spark.read.parquet(src), ref, lo=0.0, hi=100.0,
                        window="5 minutes").collect()}
    assert batch[ts0.to_pydatetime()]["psi"] == w1["psi"]
    w2 = batch[(ts0 + pd.Timedelta(minutes=10)).to_pydatetime()]
    assert w2["psi"] > 0.25
    with pytest.raises(ValueError):
        stream_psi(spark.read.parquet(src), [1.0], 0.0, 100.0)


def test_stream_quantile_sketch_matches_batch(spark, tmp_path):
    """Streaming bottom-k quantile sketch folded over two micro-batches
    equals the batch sketch of the full stream BIT-FOR-BIT (bottom-k
    union is an exact semilattice), replay from a fresh checkpoint is
    idempotent, and the finalized quantiles agree."""
    from otit_swt_spark.pipelines.analytics import (
        quantile_estimate,
        quantile_sketch,
    )
    from otit_swt_spark.streaming.ingest import stream_quantile_sketch

    src = str(tmp_path / "src")
    sk_path = str(tmp_path / "qsk")
    import random
    rng = random.Random(13)
    b1 = pd.DataFrame({"g": ["A"] * 800 + ["B"] * 300,
                       "rid": list(range(800)) + list(range(5000, 5300)),
                       "v": [rng.random() for _ in range(1100)]})
    b2 = pd.DataFrame({"g": ["A"] * 600,
                       "rid": list(range(800, 1400)),
                       "v": [rng.random() * 10 for _ in range(600)]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("g string, rid long, v double")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_quantile_sketch(stream, "v", "rid", "g", sk_path,
                               str(tmp_path / "ck"), k=128)
    q.awaitTermination(120)

    full = spark.createDataFrame(pd.concat([b1, b2]))
    want = {(r["g"], r["__h"], r["v"]) for r in
            quantile_sketch(full, "v", "rid", "g", k=128).collect()}
    got = {(r["g"], r["__h"], r["v"]) for r in
           spark.read.parquet(sk_path).collect()}
    assert got == want and len(got) > 0

    est = {(r["g"], r["p"]): r["q"] for r in
           quantile_estimate(spark.read.parquet(sk_path), "g",
                             probs=(0.5, 0.95)).collect()}
    batch_est = {(r["g"], r["p"]): r["q"] for r in
                 quantile_estimate(
                     quantile_sketch(full, "v", "rid", "g", k=128),
                     "g", probs=(0.5, 0.95)).collect()}
    assert est == batch_est

    # replay from a fresh checkpoint: fold is idempotent
    stream2 = (spark.readStream.schema("g string, rid long, v double")
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = stream_quantile_sketch(stream2, "v", "rid", "g", sk_path,
                                str(tmp_path / "ck2"), k=128)
    q2.awaitTermination(120)
    again = {(r["g"], r["__h"], r["v"]) for r in
             spark.read.parquet(sk_path).collect()}
    assert again == want


def test_stream_seasonal_score_parity(spark, tmp_path):
    """Streaming seasonal scorer vs the batch path: a weekly-seasonal
    daily series with one real spike — the stream (scored against the
    broadcast profile distilled from the batch decompose) flags the
    spike and no plain weekend, matches its own batch twin row-for-row,
    and agrees with batch seasonal_anomalies on the interior rows
    (complete trend windows)."""
    import datetime
    import random

    from otit_swt_spark.streaming.ingest import stream_seasonal_score
    from otit_swt_spark.timeseries import seasonal_anomalies, seasonal_profile

    rng = random.Random(7)
    d0 = datetime.date(2026, 1, 5)              # a Monday (epoch-aligned)
    rows_in = []
    for t in range(35):
        day = d0 + datetime.timedelta(days=t)
        y = 100.0 + (30.0 if day.weekday() >= 5 else 0.0) \
            + rng.uniform(-1, 1)
        if t == 17:
            y += 80.0
        rows_in.append(("a", day, y))
    series = spark.createDataFrame(rows_in, "id string, day date, v double")
    prof = seasonal_profile(series, key="id", ts="day", value="v",
                            period=7)
    assert prof.count() == 7                    # one row per phase

    # batch twin of the scorer
    batch_flags = stream_seasonal_score(series, prof, key="id", ts="day",
                                        value="v", period=7, k=3.0)
    bset = {(r["id"], r["day"]) for r in batch_flags.collect()}

    # streaming run over the same rows, two micro-batches
    src = str(tmp_path / "sea_src")
    series.where(F.col("day") < datetime.date(2026, 1, 20)) \
        .coalesce(1).write.parquet(src)
    series.where(F.col("day") >= datetime.date(2026, 1, 20)) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("id string, day date, v double")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = stream_seasonal_score(stream, prof, key="id", ts="day",
                                value="v", period=7, k=3.0)
    sink = str(tmp_path / "sea_sink")
    q = (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "sea_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    sset = {(r["id"], r["day"]) for r in spark.read.parquet(sink).collect()}
    assert sset == bset                          # stream == batch twin

    spike_day = d0 + datetime.timedelta(days=17)
    assert ("a", spike_day) in sset
    for _, day in sset:                          # no plain weekend fires
        assert day == spike_day or day.weekday() < 5

    # interior agreement with the batch anomaly operator
    interior = {(r["id"], r["day"]) for r in
                seasonal_anomalies(series, key="id", ts="day", value="v",
                                   period=7, k=3.0).collect()}
    assert interior == {("a", spike_day)}
    lo = d0 + datetime.timedelta(days=3)
    hi = d0 + datetime.timedelta(days=31)
    assert {x for x in sset if lo <= x[1] <= hi} == interior


def test_stream_windowed_quantile_sketch_retention(spark, tmp_path):
    """Per-(group, window) sketches with dense-rank retention: the two
    most recent windows' stored sketches are BIT-IDENTICAL to the batch
    sketch of exactly those windows' rows, and the oldest window is
    pruned — sink state bounded at k x groups x retain_windows."""
    import random

    from otit_swt_spark.pipelines.analytics import quantile_sketch
    from otit_swt_spark.streaming.ingest import (
        stream_windowed_quantile_sketch,
    )

    rng = random.Random(3)
    t0 = pd.Timestamp("2024-03-01 00:00:00")
    rows_in = []
    rid = 0
    for wi in range(3):                       # three 5-minute windows
        for _ in range(300):
            rows_in.append(("g", rid,
                            t0 + pd.Timedelta(minutes=5 * wi,
                                              seconds=rng.randrange(0, 300)),
                            rng.random() * (wi + 1)))
            rid += 1
    pdf = pd.DataFrame(rows_in, columns=["g", "rid", "ts", "v"])
    src = str(tmp_path / "wq_src")
    spark.createDataFrame(pdf.iloc[:500]).coalesce(1).write.parquet(src)
    spark.createDataFrame(pdf.iloc[500:]).coalesce(1) \
        .write.mode("append").parquet(src)

    sk_path = str(tmp_path / "wq_sk")

    def run(ck):
        stream = (spark.readStream
                  .schema("g string, rid long, ts timestamp, v double")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = stream_windowed_quantile_sketch(
            stream, "v", "rid", "g", "ts", sk_path, ck,
            k=64, window="5 minutes", retain_windows=2)
        q.awaitTermination(120)

    run(str(tmp_path / "wq_ck"))

    stored = spark.read.parquet(sk_path)
    starts = {r["window_start"] for r in
              stored.select("window_start").distinct().collect()}
    w1 = (t0 + pd.Timedelta(minutes=5)).to_pydatetime()
    w2 = (t0 + pd.Timedelta(minutes=10)).to_pydatetime()
    assert starts == {w1, w2}                  # window 0 pruned

    full = spark.createDataFrame(pdf)
    for lo_min, wstart in ((5, w1), (10, w2)):
        sub = full.where(
            (F.col("ts") >= pd.Timestamp(wstart))
            & (F.col("ts") < pd.Timestamp(wstart) + pd.Timedelta(minutes=5)))
        want = {(r["g"], r["__h"], r["v"]) for r in
                quantile_sketch(sub, "v", "rid", "g", k=64).collect()}
        got = {(r["g"], r["__h"], r["v"]) for r in
               stored.where(F.col("window_start")
                            == pd.Timestamp(wstart)).collect()}
        assert got == want and len(got) == 64, wstart

    # full replay from a fresh checkpoint: the pruned window comes back
    # with the replayed rows and is pruned again; the store is unchanged
    before = rows(stored)
    run(str(tmp_path / "wq_ck2"))
    assert rows(spark.read.parquet(sk_path)) == before


def test_stream_crawl_chain_parity(spark, tmp_path):
    """Streaming crawl chain (extract -> canonicalize -> robots) vs the
    BATCH operators composed the batch way (html_extract ->
    canonicalize_urls -> robots_filter): identical row sets on the same
    pages, plus the semantic checks — query-aware disallow fires,
    empty-Disallow domain and rule-less domain pass with NULL prefix,
    boilerplate never reaches the extracted text."""
    from otit_swt_spark.pipelines.htmltext import html_extract
    from otit_swt_spark.pipelines.urltools import (
        canonicalize_urls, robots_filter)
    from otit_swt_spark.streaming.crawl import stream_crawl_chain

    body = ("The quarterly report shows that regional demand grew and "
            "teams expect the trend to continue through the year.")
    pages_rows = []
    for i in range(12):
        if i % 4 == 3:
            url = (f"http://site-b.net/private/p{i}?q=1")
        elif i % 4 == 2:
            url = (f"https://WWW.Site-C.org:443/story/{i}#top")
        else:
            url = (f"http://WWW.Site-A.com:80/docs/item{i}"
                   f"?utm_source=x&b=2&a=1#f")
        html = (f'<html><head><title>T{i}</title>'
                f'<script>var x=1;</script></head><body>'
                f'<nav><a href="/">Home</a> <a href="/x">X</a></nav>'
                f'<h1>Story {i}</h1><p>{body}</p>'
                f'<footer><a href="/t">Terms</a></footer></body></html>')
        pages_rows.append((i, url, html))
    # query-only URL (empty path): RFC 9309 match string is '/?ref=x',
    # so site-a's 'Disallow: /' must catch it in BOTH chains
    pages_rows.append((12, "http://site-a.com?ref=x", pages_rows[0][2]))
    pages = spark.createDataFrame(
        pages_rows, "doc_id int, url string, html string")
    rules = spark.createDataFrame(
        [("site-a.com", "allow", "/docs"),
         ("site-a.com", "disallow", "/"),
         # query-aware disallow: matches item5's path+query (the raw
         # fetch URL's query, utm params included — robots matching
         # happens BEFORE canonicalization)
         ("site-a.com", "disallow", "/docs/item5?utm"),
         # the RFC 9309 bare-Disallow allow-all idiom: must NOT block
         ("site-b.net", "disallow", "")],
        "domain string, directive string, path_prefix string")

    # batch twin: the actual batch operators, composed the batch way
    ext = html_extract(pages, keep_cols=("url",))
    canon = canonicalize_urls(ext)
    out_b = robots_filter(canon, rules)
    cols = ["doc_id", "url", "title", "text", "n_chars",
            "canonical_url", "domain", "matched_prefix"]
    bset = {tuple(r[c] for c in cols) for r in out_b.collect()}

    # the same chain as ONE stateless streaming stage, two micro-batches
    src = str(tmp_path / "crawl_src")
    pages.where(F.col("doc_id") < 6).coalesce(1).write.parquet(src)
    pages.where(F.col("doc_id") >= 6).coalesce(1) \
        .write.mode("append").parquet(src)
    assert 12 not in {r["doc_id"] for r in out_b.collect()}
    stream = (spark.readStream
              .schema("doc_id int, url string, html string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out_s = stream_crawl_chain(stream, rules)
    sink = str(tmp_path / "crawl_sink")
    q = (out_s.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "crawl_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    sset = {tuple(r[c] for c in cols) for r in got.collect()}
    assert sset == bset and sset

    by_id = {t[0]: t for t in sset}
    assert 5 not in by_id                       # query-aware disallow
    for i in (0, 1, 4, 8, 9):                   # site-a /docs allowed
        assert by_id[i][7] == "/docs"
    for i in (3, 7, 11):                        # bare-Disallow domain
        assert by_id[i][7] is None and by_id[i][6] == "site-b.net"
    for i in (2, 6, 10):                        # rule-less domain
        assert by_id[i][7] is None and by_id[i][6] == "site-c.org"
    for t in sset:                              # boilerplate stripped
        assert "Home" not in t[3] and "Terms" not in t[3]
        assert t[2].startswith("T")             # <title> captured
        assert "report shows" in t[3]
    # canonicalization: tracking params gone, params sorted, port/www
    # stripped, fragment dropped
    assert by_id[0][5] == "http://site-a.com/docs/item0?a=1&b=2"
    assert by_id[6][5] == "https://site-c.org/story/6"


def test_stream_media_hashes_parity(spark, tmp_path):
    """Perceptual media hashing is stream-legal by construction (one
    stateless mapInPandas, no shuffle): image_hashes over a file
    stream of BMP payloads equals the batch pass row-for-row — the
    media twin of the crawl-chain parity proof."""
    from otit_swt_spark.pipelines.multimodal import (image_hashes,
                                                     synth_gray_bmp)

    docs = spark.range(0, 48).withColumnRenamed("id", "doc_id")
    media = synth_gray_bmp(docs)
    bset = {(r["media_id"], r["ahash"], r["dhash"])
            for r in image_hashes(media).collect()}

    src = str(tmp_path / "media_src")
    media.where(F.col("media_id") < 24).coalesce(1).write.parquet(src)
    media.where(F.col("media_id") >= 24).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema("media_id long, payload binary")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = image_hashes(stream)
    sink = str(tmp_path / "media_sink")
    q = (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "media_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    sset = {(r["media_id"], r["ahash"], r["dhash"])
            for r in spark.read.parquet(sink).collect()}
    assert sset == bset and len(sset) == 48


def test_stream_corpus_end_to_end(spark, tmp_path):
    """The WHOLE corpus-prep chain as one streaming job: raw fetched
    pages -> extract/canonicalize/robots (stateless) -> Gopher quality
    filter (stateless, text riding via keep_cols) -> watermarked exact
    dedup (the single stateful stage) -> chunking (stateless explode)
    -> parquet sink. Output equals the batch composition of the same
    operators on the same rows — the streaming twin of
    corpus_from_html. Duplicates arrive in a LATER micro-batch than
    their originals so first-arrival == keep-min-id and the parity is
    exact."""
    import pandas as pd

    from otit_swt_spark.pipelines.textstats import chunk_text, gopher_rules
    from otit_swt_spark.streaming.crawl import stream_crawl_chain
    from otit_swt_spark.streaming.dedup import stream_exact_dedup

    prose = ("The regional office said the new plan will be rolled out "
             "to every team over the coming months and that early "
             "results have been strong, with demand growing across the "
             "area and more staff joining each week to support it.")
    rows_in = []
    for i in range(16):
        key = i - 8 if i in (8, 9) else i       # 8,9 duplicate 0,1
        body = "too short to keep" if i in (3, 11) else f"{prose} k{key}"
        path = "private/x" if i == 5 else f"docs/p{i}"
        html = (f"<html><head><title>T{key}</title></head><body>"
                f"<nav><a href='/'>Home</a></nav><h1>Story {key}</h1>"
                f"<p>{body}</p></body></html>")
        rows_in.append((i, f"http://site-a.com/{path}", html,
                        (pd.Timestamp("2026-01-01 00:00:00")
                         + pd.Timedelta(minutes=i)).to_pydatetime()))
    pages = spark.createDataFrame(
        rows_in, "doc_id int, url string, html string, "
                 "ingest_time timestamp")
    rules = spark.createDataFrame(
        [("site-a.com", "disallow", "/private"),
         ("site-a.com", "allow", "/")],
        "domain string, directive string, path_prefix string")

    def stateless_stages(df):
        out = stream_crawl_chain(df, rules, keep_cols=("ingest_time",))
        return (gopher_rules(out, min_words=30,
                             keep_cols=("text", "canonical_url",
                                        "ingest_time"))
                .where(F.col("passes")))

    # batch twin: same stateless stages + keep-min-id exact dedup
    g_b = stateless_stages(pages)
    keep = (g_b.select("doc_id", F.md5(F.col("text")).alias("__d"))
            .groupBy("__d").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    ded_b = g_b.join(keep, "doc_id", "left_semi")
    want = {(r["doc_id"], r["chunk_idx"], r["chunk"]) for r in
            chunk_text(ded_b, chunk_chars=120).collect()}

    # streaming run: originals in micro-batch 1, duplicates in batch 2
    src = str(tmp_path / "corpus_src")
    pages.where(F.col("doc_id") < 8).coalesce(1).write.parquet(src)
    pages.where(F.col("doc_id") >= 8).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream
              .schema("doc_id int, url string, html string, "
                      "ingest_time timestamp")
              .option("maxFilesPerTrigger", "1").parquet(src))
    ded_s = stream_exact_dedup(stateless_stages(stream))
    chunks = chunk_text(ded_s, chunk_chars=120)
    sink = str(tmp_path / "corpus_sink")
    q = (chunks.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "corpus_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_id"], r["chunk_idx"], r["chunk"]) for r in
           spark.read.parquet(sink).collect()}
    assert got == want and got

    kept_ids = {t[0] for t in got}
    assert 5 not in kept_ids                     # robots-blocked
    assert not {3, 11} & kept_ids                # Gopher-rejected
    assert not {8, 9} & kept_ids                 # deduped copies
    assert {0, 1, 2, 4, 6, 7} <= kept_ids        # originals survive


def test_stream_phash_neardup_flags(spark, tmp_path):
    """Streaming media near-dup flagging against a static banded
    fingerprint index: variant clips of indexed base images are
    flagged (pigeonhole recall at distance <= 3), unrelated groups and
    undecodable payloads are not, and the batch path reports the exact
    verified Hamming distance."""
    from otit_swt_spark.pipelines.multimodal import (image_hashes,
                                                     synth_gray_bmp)
    from otit_swt_spark.streaming.dedup import (build_phash_index,
                                                stream_phash_neardup_flags)

    base_docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    index = build_phash_index(image_hashes(synth_gray_bmp(base_docs)))

    # probes 0..23 ARE the indexed ids (exercises self-pair exclusion);
    # 24..47 are variant-1 near-dups of groups 0..23
    probe_docs = spark.range(0, 48).withColumnRenamed("id", "doc_id")
    probe_hashes = image_hashes(synth_gray_bmp(probe_docs))

    # batch path: exact verified distances, one row per (probe, base)
    got_b = stream_phash_neardup_flags(probe_hashes, index)
    rows_b = {(r["media_id"], r["corpus_id"]): r["hamming"]
              for r in got_b.collect()}
    for pid in range(24, 48):
        assert (pid, pid % 24) in rows_b        # own group flagged
        assert rows_b[(pid, pid % 24)] <= 3
    # self-pairs excluded even though probe 0..23 hash-match index 0..23
    assert all(a != b for a, b in rows_b)
    # recall guarantee boundary is enforced, not silently degraded
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_distance"):
        stream_phash_neardup_flags(probe_hashes, index, max_distance=5)

    # streaming path over two micro-batches == batch pair set
    src = str(tmp_path / "phash_src")
    probe_hashes.where(F.col("media_id") < 36).coalesce(1) \
        .write.parquet(src)
    probe_hashes.where(F.col("media_id") >= 36).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream
              .schema("media_id long, ahash long, dhash long")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = stream_phash_neardup_flags(stream, index)
    sink = str(tmp_path / "phash_sink")
    q = (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "phash_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    pairs_s = {(r["media_id"], r["corpus_id"])
               for r in spark.read.parquet(sink).collect()}
    assert pairs_s == set(rows_b)


def test_stream_bloom_seen_accumulates_and_replay_idempotent(spark, tmp_path):
    """The Bloom seen-set sink folded over micro-batches must equal the
    batch filter built on the UNION of all batches bit-for-bit
    (set-union mergeability through foreachBatch), and a full replay of
    the same source against the stored ledger must leave the bit frame
    unchanged — bit union is idempotent, so the sink carries no batch-id
    guard (the stream_hll discipline)."""
    from otit_swt_spark.pipelines.analytics import bloom_build
    from otit_swt_spark.streaming.ingest import stream_bloom_seen

    src = str(tmp_path / "src")
    led = str(tmp_path / "ledger")
    b1 = pd.DataFrame({"url": [f"http://a.com/{i}" for i in range(300)]})
    b2 = pd.DataFrame({"url": [f"http://b.com/{i}" for i in range(150)]
                       + [f"http://a.com/{i}" for i in range(100, 200)]})
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("url string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = stream_bloom_seen(stream, "url", led, str(tmp_path / "ck1"),
                          n_bits=2048, k=5)
    q.awaitTermination(120)

    full = spark.createDataFrame(pd.concat([b1, b2]))
    want = {r["pos"] for r in
            bloom_build(full, "url", n_bits=2048, k=5).collect()}
    got = {r["pos"] for r in spark.read.parquet(led).collect()}
    assert got == want

    # simulate at-least-once redelivery of EVERYTHING: a fresh
    # checkpoint reprocesses the whole source against the existing
    # ledger; the stored frame must be unchanged
    stream2 = (spark.readStream.schema("url string")
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = stream_bloom_seen(stream2, "url", led, str(tmp_path / "ck2"),
                           n_bits=2048, k=5)
    q2.awaitTermination(120)
    again = {r["pos"] for r in spark.read.parquet(led).collect()}
    assert again == want


def test_stream_frontier_unseen_parity_and_loop(spark, tmp_path):
    """stream_frontier_unseen (stateless word-map probe) must make the
    IDENTICAL per-URL decision as the batch bloom_probe path, both on a
    batch frame and as a real append-mode stream against the ledger the
    stream_bloom_seen sink maintains — the closed streaming crawl loop:
    batch 1's fetched URLs enter the ledger, batch 2's discovery stream
    is filtered against it with no false negatives."""
    from otit_swt_spark.pipelines.analytics import bloom_build, bloom_probe
    from otit_swt_spark.streaming.crawl import stream_frontier_unseen
    from otit_swt_spark.streaming.ingest import stream_bloom_seen

    crawled = pd.DataFrame(
        {"url": [f"http://s.com/p/{i}" for i in range(0, 400, 2)]})
    disc = pd.DataFrame(
        {"url": [f"http://s.com/p/{i}" for i in range(400)],
         "priority": [i % 10 for i in range(400)]})

    # maintain the ledger through the streaming sink
    src = str(tmp_path / "fetched")
    led = str(tmp_path / "ledger")
    spark.createDataFrame(crawled).coalesce(1).write.parquet(src)
    q = stream_bloom_seen(
        (spark.readStream.schema("url string").parquet(src)),
        "url", led, str(tmp_path / "ck"), n_bits=2048, k=5)
    q.awaitTermination(120)
    ledger = spark.read.parquet(led)

    disc_df = spark.createDataFrame(disc)
    # batch parity: stateless probe == bloom_probe decisions
    want_flags = {r["url"]: r["maybe_present"] for r in bloom_probe(
        ledger, disc_df.select("url"), "url", n_bits=2048, k=5).collect()}
    got_batch = {r["url"] for r in stream_frontier_unseen(
        disc_df, ledger, "url", n_bits=2048, k=5).collect()}
    assert got_batch == {u for u, m in want_flags.items() if not m}
    # Bloom ledger == batch filter of the crawled set, so: no crawled
    # URL survives the probe (no false negatives)
    assert not (set(crawled["url"]) & got_batch)
    assert ledger.count() == bloom_build(
        spark.createDataFrame(crawled), "url", n_bits=2048, k=5).count()

    # the SAME operator as a real append-mode stream
    dsrc = str(tmp_path / "disc")
    spark.createDataFrame(disc).coalesce(1).write.parquet(dsrc)
    stream = (spark.readStream
              .schema("url string, priority bigint").parquet(dsrc))
    out = str(tmp_path / "out")
    sq = (stream_frontier_unseen(stream, ledger, "url",
                                 n_bits=2048, k=5)
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", str(tmp_path / "ck_probe"))
          .trigger(availableNow=True).start())
    sq.awaitTermination(120)
    got_stream = {r["url"] for r in spark.read.parquet(out).collect()}
    assert got_stream == got_batch


def test_stream_frontier_schedule_politeness_across_batches(spark, tmp_path):
    """The stateful scheduler keeps per-domain politeness ACROSS micro-
    batch boundaries: batch 2's first slot for a domain is at least
    min_delay after batch 1's LAST assigned slot (carried state), slots
    within a batch are min_delay apart, only the top per_domain_cap by
    (priority DESC, url) are scheduled, and the batch delegation runs
    the identical kernel."""
    from otit_swt_spark.streaming.crawl import stream_frontier_schedule

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    b1 = pd.DataFrame({
        "url": [f"http://a.com/{i}" for i in range(6)]
        + ["http://b.com/0"],
        "domain": ["a.com"] * 6 + ["b.com"],
        "priority": [0.1 * i for i in range(6)] + [0.9],
        "discovered_at": [t0] * 7,
    })
    t1 = pd.Timestamp("2026-01-01 00:00:01")   # inside a.com's delay span
    b2 = pd.DataFrame({
        "url": ["http://a.com/99"],
        "domain": ["a.com"],
        "priority": [1.0],
        "discovered_at": [t1],
    })
    src = str(tmp_path / "src")
    spark.createDataFrame(b1).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("url string, domain string, priority double, "
                      "discovered_at timestamp")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = str(tmp_path / "out")
    q = (stream_frontier_schedule(stream, per_domain_cap=3,
                                  min_delay_s=5.0)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas()

    a = got[got["domain"] == "a.com"].sort_values("fetch_at")
    # cap: 3 from batch 1 + 1 from batch 2
    assert len(a) == 4
    # batch 1 selected the top-3 priorities (urls 5,4,3)
    assert set(a["url"][:3]) == {f"http://a.com/{i}" for i in (5, 4, 3)}
    ts = [x.timestamp() for x in a["fetch_at"]]
    deltas = [round(b - x, 6) for x, b in zip(ts, ts[1:])]
    # consecutive slots always >= min_delay apart, INCLUDING across the
    # batch boundary (slot 3 -> 4), and exactly 5s within batch 1
    assert deltas[:2] == [5.0, 5.0] and deltas[2] >= 5.0
    assert len(got[got["domain"] == "b.com"]) == 1

    # batch delegation: identical kernel from empty state
    bd = stream_frontier_schedule(
        spark.createDataFrame(b1), per_domain_cap=3,
        min_delay_s=5.0).toPandas()
    ba = bd[bd["domain"] == "a.com"].sort_values("fetch_at")
    assert list(ba["url"]) == [f"http://a.com/{i}" for i in (5, 4, 3)]
    bts = [x.timestamp() for x in ba["fetch_at"]]
    assert [round(b - x, 6) for x, b in zip(bts, bts[1:])] == [5.0, 5.0]


def test_stream_gif_frame_split_parity(spark, tmp_path):
    """Container frame extraction is stream-legal by construction (one
    stateless mapInPandas, no shuffle): gif_video_frames over a file
    stream of animated-GIF payloads equals the batch split row-for-row
    — so a streaming media ingest can go payload -> frames -> per-frame
    hashes -> near-dup flags without a batch detour."""
    from otit_swt_spark.pipelines.multimodal import (gif_video_frames,
                                                     image_hashes,
                                                     synth_gray_gif)

    docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    media = synth_gray_gif(docs)
    bset = {(r["media_id"], r["ahash"], r["dhash"]) for r in image_hashes(
        gif_video_frames(media).select(
            (F.col("media_id") * 8 + F.col("frame_idx")).alias("fid"),
            "payload"), id_col="fid").collect()}

    src = str(tmp_path / "gif_src")
    media.where(F.col("media_id") < 12).coalesce(1).write.parquet(src)
    media.where(F.col("media_id") >= 12).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema("media_id long, payload binary")
              .option("maxFilesPerTrigger", "1").parquet(src))
    frames = gif_video_frames(stream).select(
        (F.col("media_id") * 8 + F.col("frame_idx")).alias("fid"),
        "payload")
    sink = str(tmp_path / "gif_sink")
    q = (image_hashes(frames, id_col="fid")
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "gif_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    sset = {(r["media_id"], r["ahash"], r["dhash"])
            for r in spark.read.parquet(sink).collect()}
    assert sset == bset and len(sset) == 24 * 6


def test_stream_frontier_schedule_per_domain_delay(spark):
    """The scheduler's delay_col: a domain carrying a robots Crawl-delay
    spaces its slots by THAT delay while others keep the default — the
    same kernel batch or stream, so the batch delegation proves the
    spacing arithmetic."""
    from otit_swt_spark.streaming.crawl import stream_frontier_schedule

    t0 = pd.Timestamp("2026-01-01 00:00:00")
    df = pd.DataFrame({
        "url": [f"http://slow.com/{i}" for i in range(3)]
        + [f"http://fast.com/{i}" for i in range(3)],
        "domain": ["slow.com"] * 3 + ["fast.com"] * 3,
        "priority": [0.9, 0.8, 0.7] * 2,
        "discovered_at": [t0] * 6,
        "crawl_delay_s": [20.0] * 3 + [None] * 3,
    })
    got = stream_frontier_schedule(
        spark.createDataFrame(df), per_domain_cap=3, min_delay_s=5.0,
        delay_col="crawl_delay_s").toPandas()

    def spacing(dom):
        ts = sorted(x.timestamp()
                    for x in got[got["domain"] == dom]["fetch_at"])
        return [round(b - a, 6) for a, b in zip(ts, ts[1:])]

    assert spacing("slow.com") == [20.0, 20.0]
    assert spacing("fast.com") == [5.0, 5.0]


def test_stream_crawl_cycle_end_to_end(spark, tmp_path):
    """The streaming crawl cycle end-to-end, mirroring the oracle-gated
    crawl_cycle_batch composite: sitemap XML payload stream ->
    parse_sitemap -> canonicalize_urls (both stateless projections,
    stream-legal unchanged) -> stream_frontier_unseen against a ledger
    maintained by stream_bloom_seen -> stream_frontier_schedule. A
    single-batch stream must equal the identical batch composition
    row-for-row (same kernels, empty scheduler state, same event-time
    base)."""
    from otit_swt_spark.pipelines.analytics import bloom_build
    from otit_swt_spark.pipelines.urltools import (canonicalize_urls,
                                                   parse_sitemap)
    from otit_swt_spark.streaming.crawl import (stream_frontier_schedule,
                                                stream_frontier_unseen)
    from otit_swt_spark.streaming.ingest import stream_bloom_seen

    rows = pd.DataFrame({
        "domain": [f"site-{chr(97 + i % 3)}.com" for i in range(30)],
        "sitemap_xml": [
            f"<urlset><url><loc>HTTP://WWW.Site-{chr(97 + i % 3)}"
            f".com:80/item/{i}?utm_source=x&amp;b=2&amp;a=1#f</loc>"
            f"<priority>0.{i % 10}</priority></url></urlset>"
            for i in range(30)],
    })
    crawled = pd.DataFrame({
        "url": [f"http://site-{chr(97 + i % 3)}.com/item/{i}?a=1&b=2"
                for i in range(0, 30, 4)]})

    led = str(tmp_path / "ledger")
    csrc = str(tmp_path / "crawled")
    spark.createDataFrame(crawled).coalesce(1).write.parquet(csrc)
    q = stream_bloom_seen(
        spark.readStream.schema("url string").parquet(csrc),
        "url", led, str(tmp_path / "ckl"), n_bits=2048, k=5)
    q.awaitTermination(120)
    ledger = spark.read.parquet(led)
    # sink ledger == batch bloom of the same keys
    assert ({r["pos"] for r in ledger.collect()}
            == {r["pos"] for r in bloom_build(
                spark.createDataFrame(crawled), "url",
                n_bits=2048, k=5).collect()})

    t0 = pd.Timestamp("2026-01-01 00:00:00")

    def cycle(frame):
        canon = canonicalize_urls(parse_sitemap(frame), url_col="loc")
        disc = canon.select(
            F.col("canonical_url").alias("url"), "domain", "priority",
            F.lit(t0).alias("discovered_at"))
        unseen = stream_frontier_unseen(disc, ledger, "url",
                                        n_bits=2048, k=5)
        return stream_frontier_schedule(unseen, per_domain_cap=4,
                                        min_delay_s=3.0)

    src = str(tmp_path / "sitemaps")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    out = str(tmp_path / "out")
    sq = (cycle(spark.readStream
                .schema("domain string, sitemap_xml string").parquet(src))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", str(tmp_path / "cks"))
          .trigger(availableNow=True).start())
    sq.awaitTermination(120)

    got = {(r["url"], r["domain"], r["priority"], r["fetch_at"])
           for r in spark.read.parquet(out).collect()}
    want = {(r["url"], r["domain"], r["priority"], r["fetch_at"])
            for r in cycle(spark.createDataFrame(rows)).collect()}
    assert got == want and len(got) > 0
    # no crawled URL re-enters
    assert not ({u for u, *_ in got} & set(crawled["url"]))
