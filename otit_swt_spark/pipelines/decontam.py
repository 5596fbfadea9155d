"""Train/test decontamination: flag (or drop) training documents whose
token n-grams overlap a benchmark/eval set.

The standard large-corpus decontamination recipe (used by GPT-3/PaLM-style
data pipelines): normalize text, slide an n-token window, hash each n-gram,
and mark a training document contaminated when at least ``min_hits`` of its
n-gram hashes also occur in the benchmark set.

Scale design (100 TB corpus vs ~MB-scale benchmark):
- the benchmark n-gram set is tiny (eval suites are thousands of docs) →
  ``F.broadcast`` it; the contamination check is then a map-side hash
  lookup on each executor, NO shuffle of the corpus.
- corpus n-grams are produced with pure built-in array functions
  (``regexp_extract_all`` + ``transform`` over a ``sequence``) — whole-stage
  codegen, no Python in the executor path.
- hashes are md5 of the space-joined gram, so an external SQL engine
  (the correctness oracle) computes bit-identical sets.

Reference parity note: the reference engine has no decontamination
operator; this is part of the additive LLM-training-data suite alongside
``pipelines/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Normalization contract is SHARED with textstats (repetition stats) and
# the DuckDB oracles: regexp_extract_all(lower(text), '[a-z0-9]+'). One
# definition — drift between modules would silently change what a token is.
from otit_swt_spark.pipelines.textstats import _word_tokens as _tokens  # noqa: E402


def with_ngram_hashes(df: DataFrame, n: int, text_col: str = "text",
                      out_col: str = "grams") -> DataFrame:
    """``df`` plus an ``out_col`` array of shingle hashes. The token array
    is staged as a real column so the slicing lambda references a bound
    column — tokenization runs once per row, not once per shingle (Spark
    HOF lambdas are interpreted; see repetition_stats for the same
    pattern)."""
    staged = df.withColumn("__toks", _tokens(F.col(text_col)))
    n_starts = F.size(F.col("__toks")) - F.lit(n - 1)
    idx = F.when(n_starts >= 1, F.sequence(F.lit(1), n_starts)) \
           .otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), i, n))))
    return staged.withColumn(out_col, grams).drop("__toks")


def exploded_ngram_hashes(df: DataFrame, n: int, text_col: str = "text",
                          keep: list[str] | None = None) -> DataFrame:
    """``(keep..., gram)`` — one row per shingle hash. Hot path for the
    corpus side: explodes an integer sequence and computes
    ``md5(concat_ws(slice(toks, pos, n)))`` as plain codegen'd expressions
    instead of building the gram array through an interpreted ``transform``
    lambda first (see lm_quality.exploded_char_ngrams for the measured
    gap)."""
    staged = df.withColumn("__toks", _tokens(F.col(text_col)))
    n_starts = F.size(F.col("__toks")) - F.lit(n - 1)
    idx = F.when(n_starts >= 1, F.sequence(F.lit(1), n_starts)) \
           .otherwise(F.array().cast("array<int>"))
    return (staged
            .select(*(keep or []), "__toks", F.explode(idx).alias("__pos"))
            .select(*(keep or []),
                    F.md5(F.concat_ws(
                        " ", F.slice(F.col("__toks"), F.col("__pos"), n))
                    ).alias("gram")))


def benchmark_ngrams(benchmark: DataFrame, n: int = 13,
                     text_col: str = "text") -> DataFrame:
    """Distinct n-gram hash set of the benchmark corpus — the small side of
    the decontamination join. One column ``gram``."""
    return exploded_ngram_hashes(benchmark, n, text_col).distinct()


def contamination_flags(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                        min_hits: int = 1, text_col: str = "text",
                        max_literal_grams: int = 5000) -> DataFrame:
    """Per-ROW decontamination — same semantics as :func:`decontaminate`
    (count of distinct benchmark n-grams per doc + flag) but computed
    without any aggregation or join, so it runs unchanged on a STREAMING
    DataFrame (no watermark, no state store).

    The benchmark gram set is collected to the driver once (eval suites
    are MBs, not TBs — same size assumption the broadcast join makes).
    Small sets become an ``array_intersect`` against a literal array
    (whole-stage codegen); larger sets go through an Arrow-batched
    ``mapInPandas`` doing set membership against a broadcast Python set —
    O(1) per gram, bounded executor memory."""
    from pyspark.sql.types import LongType, StructField, StructType

    bench_grams = sorted(
        r["gram"] for r in benchmark_ngrams(benchmark, n, text_col).collect())
    grams_df = with_ngram_hashes(docs, n, text_col)

    if len(bench_grams) <= max_literal_grams:
        lit_arr = F.array(*[F.lit(g) for g in bench_grams]) if bench_grams \
            else F.array().cast("array<string>")
        hits = F.size(F.array_intersect(F.col("grams"), lit_arr))
        out = grams_df.withColumn("n_contaminated_grams", hits.cast("long"))
    else:
        spark = docs.sparkSession
        bc = spark.sparkContext.broadcast(frozenset(bench_grams))
        # a NEW StructType — StructType.add would mutate the DataFrame's
        # cached schema object in place
        schema = StructType(list(grams_df.schema.fields)
                            + [StructField("n_contaminated_grams", LongType())])

        def count_hits(batches):
            bench_set = bc.value
            for pdf in batches:
                pdf = pdf.copy()
                pdf["n_contaminated_grams"] = [
                    sum(1 for g in set(gs) if g in bench_set)
                    for gs in pdf["grams"]
                ]
                yield pdf

        out = grams_df.mapInPandas(count_hits, schema=schema)
    return (out
            .withColumn("contaminated",
                        F.col("n_contaminated_grams") >= F.lit(min_hits))
            .drop("grams"))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  min_hits: int = 1, text_col: str = "text",
                  id_col: str = "doc_id", keep_flagged: bool = True,
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Annotate ``docs`` with ``n_contaminated_grams`` (count of distinct
    n-gram hashes shared with ``benchmark``) and a ``contaminated`` flag;
    with ``keep_flagged=False`` return only the clean documents.

    Plan shape: corpus explode (map-side) → broadcast-hash join against the
    benchmark gram set → count DISTINCT matching grams per doc → one left
    join back to the corpus on the id. The broadcast join runs BEFORE any
    dedup, so the only corpus shuffle is the per-doc distinct count of
    *matching* grams — empty-to-tiny for a clean corpus (a corpus-wide
    distinct on all grams would shuffle everything).

    ``broadcast_benchmark=False`` switches the gram match to a shuffle
    hash join — for corpus-vs-corpus decontamination where the "benchmark"
    side is itself too large to broadcast (both sides then shuffle on the
    uniformly-distributed gram hash)."""
    bench = benchmark_ngrams(benchmark, n, text_col)
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    grams = exploded_ngram_hashes(docs, n, text_col, keep=[id_col])
    hits = (grams.join(bench, "gram")
            .groupBy(id_col)
            .agg(F.countDistinct("gram").alias("n_contaminated_grams")))
    out = (docs.join(hits, id_col, "left")
           .withColumn("n_contaminated_grams",
                       F.coalesce(F.col("n_contaminated_grams"), F.lit(0)))
           .withColumn("contaminated",
                       F.col("n_contaminated_grams") >= F.lit(min_hits)))
    if not keep_flagged:
        out = out.filter(~F.col("contaminated")).drop(
            "contaminated", "n_contaminated_grams")
    return out


def contamination_report(docs: DataFrame, benchmark: DataFrame,
                         group_col: str = "source", n: int = 13,
                         min_hits: int = 1, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-source contamination summary over :func:`decontaminate` output —
    the report a data-governance pass actually publishes: for each corpus
    slice, how many documents overlap the benchmark, what fraction, and the
    worst offender's hit count. Adds one tiny group-by on top of the
    decontamination plan (whose only corpus shuffle is the per-doc count of
    MATCHING grams)."""
    flagged = decontaminate(docs, benchmark, n=n, min_hits=min_hits,
                            text_col=text_col, id_col=id_col)
    return (flagged.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("contaminated").cast("long")).alias("n_flagged"),
                 F.round(F.sum(F.col("contaminated").cast("long"))
                         / F.count(F.lit(1)), 6).alias("pct_flagged"),
                 F.max("n_contaminated_grams").alias("max_hits")))
