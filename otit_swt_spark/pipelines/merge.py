"""Keyed merge/upsert into a parquet dataset (CDC apply, copy-on-write).

The maintenance primitive for datasets that receive change feeds: apply a
batch of upserts + deletes to a keyed table stored as parquet. Spark-first
shape of what table formats (Delta/Iceberg/Hudi) do:

- **Partition-aware rewrite.** When the table is partitioned and the
  change batch carries the partition column, ONLY the partitions present
  in the batch are read (partition-pruned scan) and rewritten (dynamic
  partition overwrite) — a 100 TB table with a 1-partition change batch
  reads and writes one partition, not the table.
- **Anti-join apply**: survivors = target rows whose key is absent from
  the change batch (left anti against the broadcast key set), plus the
  batch's non-deleted rows. One broadcast join, one write.
- Deletes ride the same batch as a boolean column (tombstones), so one
  merge call applies a full CDC micro-batch atomically per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from otit_swt_spark import fsutil

#: sibling dir a table rewrite is staged in (deleted once the rewrite lands)
_STAGE_SUFFIX = ".__stage_tmp__"


def partition_predicate(col, values):
    """Null-safe membership test for partition pruning: ``isin`` with a
    NULL in the list never matches NULL column values (three-valued
    logic), which silently excluded the stored NULL partition from
    merges — a data-loss bug. Splits NULL out explicitly."""
    non_null = [v for v in values if v is not None]
    pred = col.isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        pred = pred | col.isNull()
    return pred


def spark_partition_dirname(value) -> str:
    """Render a partition VALUE exactly as Spark names its directory:
    NULL -> __HIVE_DEFAULT_PARTITION__, booleans lowercase, and Hive
    %XX escaping for path-special characters — Python str() produced
    'True'/'10:00'/'None', which never matches 'true'/'10%3A00'/
    '__HIVE_DEFAULT_PARTITION__' on disk (tombstoned partitions
    resurrected, manifest lookups went empty)."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if value is True:
        return "true"
    if value is False:
        return "false"
    s = str(value)
    # Spark ExternalCatalogUtils.escapePathName char set
    special = '"#%\'*/:=?\\\x7f{[]^'
    out = []
    for ch in s:
        if ch in special or ord(ch) < 32:
            out.append("%%%02X" % ord(ch))
        else:
            out.append(ch)
    return "".join(out)


def stage_overwrite(spark: SparkSession, path: str, frame: DataFrame) -> None:
    """Replace the whole table at ``path`` with ``frame``, which may read
    ``path`` itself: stage ``frame`` to a sibling tmp dir (Spark refuses
    to overwrite a location it is reading), copy the staged rows over
    ``path``, then delete the tmp dir. The staged rows stay on the
    filesystem, so a lost executor re-reads them instead of recomputing
    a merge whose input the overwrite already replaced."""
    tmp = path.rstrip("/") + _STAGE_SUFFIX
    frame.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
    fsutil.delete(spark, tmp)


def stage_dynamic_overwrite(spark: SparkSession, path: str, frame: DataFrame,
                            partition_col: str, touched_parts: list) -> None:
    """Shared copy-on-write tail for partition-scoped dataset mutation:
    stage ``frame`` to a sibling tmp dir (Spark refuses to overwrite a
    location it is reading), dynamic-partition-overwrite the staged rows
    into ``path``, then delete the directories of ``touched_parts`` that
    ended up with zero surviving rows (dynamic overwrite only replaces
    partitions present in the written data). Partition values compare AS
    STRINGS — the staged read re-infers the partition column's type
    (date-like strings come back as dates), and a raw set test would
    mark every just-written partition as emptied and delete it."""
    tmp = path.rstrip("/") + _STAGE_SUFFIX
    frame.write.mode("overwrite").parquet(tmp)
    staged = spark.read.parquet(tmp)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        staged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    surviving = {spark_partition_dirname(r[0])
                 for r in staged.select(partition_col).distinct().collect()}
    for p in touched_parts:
        d = spark_partition_dirname(p)
        if d not in surviving:
            fsutil.delete(spark, f"{path.rstrip('/')}/{partition_col}={d}")
    fsutil.delete(spark, tmp)


def apply_changes(target: DataFrame, changes: DataFrame, key: str,
                  deleted_col: str | None = None,
                  precombine_col: str | None = None,
                  identity_cols: list[str] | None = None) -> DataFrame:
    """Pure-DataFrame merge: rows of ``target`` not keyed in ``changes``,
    plus the non-tombstone rows of ``changes`` (which win on key clash).

    A batch carrying SEVERAL rows for one RECORD (an uncompacted CDC
    feed) is precombined to one row per ``identity_cols`` (default
    ``[key]``; merge_upsert passes ``[partition_col, key]`` so a
    cross-partition MOVE — tombstone in the old partition + insert in
    the new — keeps both rows) — by the greatest ``precombine_col``
    (the Hudi-style event-sequence rule) when given, else by an
    arbitrary-but-single winner (exact duplicates collapse either
    way). Without precombining, duplicate records would land in the
    keyed table and double-count forever."""
    from pyspark.sql import Window as W

    ident = identity_cols or [key]
    if precombine_col is not None:
        w = W.partitionBy(*ident).orderBy(F.col(precombine_col).desc())
        changes = (changes.withColumn("__pc_rn", F.row_number().over(w))
                   .where(F.col("__pc_rn") == 1).drop("__pc_rn"))
    else:
        changes = changes.dropDuplicates(ident)
    keys = F.broadcast(changes.select(key).distinct())
    survivors = target.join(keys, key, "left_anti")
    incoming = changes
    if deleted_col is not None:
        incoming = incoming.filter(
            ~F.coalesce(F.col(deleted_col), F.lit(False))).drop(deleted_col)
    return survivors.unionByName(incoming)


def merge_upsert(spark: SparkSession, path: str, changes: DataFrame,
                 key: str, partition_col: str | None = None,
                 deleted_col: str | None = None) -> None:
    """Apply ``changes`` to the parquet dataset at ``path`` in place.

    With ``partition_col``: the target scan filters to the partitions the
    batch touches (PartitionFilters prune the rest) and the write uses
    dynamic partition overwrite, so untouched partitions' files are never
    read or replaced; partitions whose every row was tombstoned are
    removed explicitly (dynamic overwrite only replaces partitions that
    appear in the written data). Without it: full-table copy-on-write
    (document the cost; partition your table).

    CONTRACT (Hudi/Hive-ACID-style): under ``partition_col`` the record
    identity is ``(partition_col, key)`` — only the batch's partitions are
    scanned, so a key is updated/deleted in the partitions the batch
    names. Moving a key between partitions must ship TWO rows: a tombstone
    in the old partition and the insert in the new one; a bare insert with
    a new partition value leaves the old row in place."""
    target = spark.read.parquet(path)
    if partition_col is not None:
        parts = [r[0] for r in changes.select(partition_col).distinct().collect()]
        target = target.filter(partition_predicate(F.col(partition_col),
                                                   parts))
        merged = apply_changes(target, changes, key, deleted_col,
                               identity_cols=[partition_col, key])
        stage_dynamic_overwrite(spark, path, merged, partition_col, parts)
        return
    stage_overwrite(spark, path,
                    apply_changes(target, changes, key, deleted_col))
