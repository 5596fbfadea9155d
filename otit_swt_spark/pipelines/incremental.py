"""Incremental aggregate maintenance: keep a grouped-aggregate table
up to date from change batches WITHOUT rescanning the fact table — the
materialized-view maintenance primitive for 100 TB stores, built from the
same partition-pruned copy-on-write machinery as pipelines.merge.

The maintained state holds only DECOMPOSABLE partials per group —
``n`` (count) and one ``sum_<col>`` per measure — from which count, sum,
and mean are exact. A delta batch (optionally carrying a ±1 ``weight``
column for CDC retractions) is partially aggregated map-side, combined
with the stored partials for ONLY the groups it touches, and written back
with dynamic partition overwrite: a one-partition delta against a
million-partition aggregate reads and rewrites one partition.

min/max are NOT maintainable under retraction without the full history —
callers needing them recompute affected groups from the base table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from otit_swt_spark import fsutil

_DEC = "decimal(38,6)"


def partial_agg(df: DataFrame, keys: list[str], sum_cols: list[str],
                weight_col: str | None = None,
                dec: str = _DEC) -> DataFrame:
    """Decomposable partials per group: ``n`` plus, per measure, the exact
    decimal ``sum_<col>`` and the NON-NULL value count ``cnt_<col>``
    (means must divide by the non-null count, like SQL AVG — not by the
    row count). ``weight_col`` (+1 insert / -1 retract) turns the same
    pass into a CDC delta aggregate. ``dec`` sets the sum precision —
    default decimal(38,6); a consumer whose batch twin sums at a finer
    scale (e.g. reliability bins at 38,12) must pass the SAME type here
    or the per-row quantization differs."""
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    aggs = [F.sum(w).alias("n")]
    for c in sum_cols:
        aggs.append(F.sum((F.col(c).cast(dec) * w).cast(dec))
                    .cast(dec).alias(f"sum_{c}"))
        aggs.append(F.sum(F.when(F.col(c).isNotNull(), w).otherwise(0))
                    .cast("long").alias(f"cnt_{c}"))
    return df.groupBy(*keys).agg(*aggs)


def combine_partials(stored: DataFrame, delta: DataFrame,
                     keys: list[str]) -> DataFrame:
    """Merge two partial-aggregate frames by group: counts and sums add;
    groups whose count reaches zero disappear (full retraction). Sum
    columns keep the STORED table's decimal type (schema-preserving —
    the table's creation-time precision is authoritative, whatever
    ``dec`` it was built with)."""
    merged = stored.unionByName(delta, allowMissingColumns=False)
    sums = [F.sum("n").alias("n")]
    for c in stored.columns:
        if c.startswith("sum_"):
            sums.append(F.sum(c).cast(stored.schema[c].dataType).alias(c))
        elif c.startswith("cnt_"):
            sums.append(F.sum(c).cast("long").alias(c))
    return (merged.groupBy(*keys).agg(*sums)
            .filter(F.col("n") != 0))


def incremental_agg_upsert(spark: SparkSession, path: str, delta: DataFrame,
                           keys: list[str], sum_cols: list[str],
                           partition_col: str | None = None,
                           weight_col: str | None = None,
                           dec: str = _DEC) -> None:
    """Fold a raw delta batch into the aggregate table at ``path``
    (creating it on first call). With ``partition_col`` (which must be one
    of ``keys``): only the stored partitions the delta touches are read
    (PartitionFilters) and dynamically overwritten — untouched partitions'
    files are never opened. Partitions whose every group fully retracts
    are deleted explicitly."""
    if partition_col is not None and partition_col not in keys:
        raise ValueError("partition_col must be one of the group keys")
    d = partial_agg(delta, keys, sum_cols, weight_col, dec=dec)
    if not fsutil.exists(spark, path):
        # creation only: a first batch whose inserts and retractions cancel
        # must not persist a phantom n=0 group. The UPDATE path must NOT
        # filter the delta — an update-in-place pair (retract old value,
        # insert new) has n=0 with a nonzero sum adjustment, which
        # combine_partials folds into the stored row before ITS n!=0 filter.
        writer = d.filter(F.col("n") != 0).write.mode("overwrite")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return
    from otit_swt_spark.pipelines.merge import (partition_predicate,
                                                 stage_dynamic_overwrite,
                                                 stage_overwrite)

    stored = spark.read.parquet(path)
    if partition_col is None:
        stage_overwrite(spark, path, combine_partials(stored, d, keys))
        return
    parts = [r[0] for r in d.select(partition_col).distinct().collect()]
    # null-safe: isin([None, ...]) never matches the stored NULL
    # partition, which silently replaced its aggregate state
    touched = stored.filter(partition_predicate(F.col(partition_col),
                                                parts))
    combined = combine_partials(touched, d, keys)
    stage_dynamic_overwrite(spark, path, combined, partition_col, parts)


def read_agg(spark: SparkSession, path: str, sum_cols: list[str]) -> DataFrame:
    """The maintained aggregate with derived means: ``n``, exact
    ``sum_<col>`` (as double) and ``avg_<col>`` per measure. The mean
    divides by the measure's NON-NULL count (SQL AVG semantics; NULL when
    every surviving value is null) — not by the group's row count."""
    df = spark.read.parquet(path)
    out = [c for c in df.columns
           if not (c.startswith("sum_") or c.startswith("cnt_"))]
    cols = [F.col(c) for c in out]
    for c in sum_cols:
        cols.append(F.col(f"sum_{c}").cast("double").alias(f"sum_{c}"))
        cols.append(F.round(F.try_divide(F.col(f"sum_{c}").cast("double"),
                                         F.col(f"cnt_{c}")), 6)
                    .alias(f"avg_{c}"))
    return df.select(*cols)


def scd2_intervals(df: DataFrame, key_col: str, ts_col: str,
                   attr_cols: list[str],
                   order_cols: list[str] | None = None,
                   carry_cols: list[str] | None = None) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change log: collapse
    per-key consecutive rows with unchanged attributes into validity
    intervals ``(key, attrs..., valid_from, valid_to, is_current)`` —
    the dimension-versioning primitive (customer moved segment, sensor
    recalibrated) that point-in-time joins (`timeseries.asof_join`)
    consume. ``valid_to`` is NULL on each key's open current version.

    Change detection is null-safe (NULL -> value and value -> NULL are
    changes; NULL -> NULL is not). ``order_cols`` breaks equal-timestamp
    ties deterministically (e.g. an event id). ``carry_cols`` are
    retained from each version-START row (e.g. the order column itself,
    which the streaming sink needs to re-merge deterministically).

    Scale shape: two window passes over the SAME (key, order) partitioning
    — Catalyst plans one Exchange + one sort for both — so cost is one
    shuffle of the change log keyed by the dimension key; no self-joins,
    no state beyond a row's predecessor."""
    from pyspark.sql import Window as W

    order = [F.col(ts_col), *[F.col(c) for c in (order_cols or [])]]
    w = W.partitionBy(key_col).orderBy(*order)
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.lag(ts_col).over(w).isNull()
    versions = (df.withColumn("__new_version", first | changed)
                .filter(F.col("__new_version"))
                .drop("__new_version"))
    w2 = W.partitionBy(key_col).orderBy(*order)
    return (versions
            .select(key_col, *attr_cols, *(carry_cols or []),
                    F.col(ts_col).alias("valid_from"),
                    F.lead(ts_col).over(w2).alias("valid_to"))
            .withColumn("is_current", F.col("valid_to").isNull()))
