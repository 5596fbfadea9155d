"""SparkSession factory with the configuration this engine assumes.

Local mode is the test harness; the same settings (AQE, UTC session
timezone, Arrow) are what you would set on a real cluster. Shuffle
partitions default to the local core count — on a 1000-executor cluster set
``spark.sql.shuffle.partitions`` to ~2-3x total cores (or rely on AQE
coalescing, which is enabled here).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "otit_swt_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: build a bloom filter on the small
        # side of a shuffle join and push it into the big side's scan —
        # free IO reduction for the fact-fact joins (wedges, band buckets,
        # TS bridges) that stay SortMerge at cluster scale
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # let the planner pick shuffled-hash join when its size conditions
        # hold (no sort of either side); sort-merge remains the fallback
        # for large symmetric joins, and AQE can still rewrite at runtime.
        # Measured: the 3-way synchronized TS join drops ~15% wall with
        # the 622k-row sort eliminated (optimization guide §3.1/§9)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures the user call site (a Python stack walk) on
        # EVERY DataFrame API call for error enrichment — ~25% of plan-build
        # time for expression-heavy plans. Disable it; errors still carry
        # the JVM-side plan context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def job_description(spark: SparkSession, name: str):
    """Name the Spark jobs started inside the block (the AppStatusStore
    and the UI show ``name`` instead of the disabled call site), then
    restore the previous description. Job groups are left untouched."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
