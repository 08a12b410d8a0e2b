"""SparkSession factory with the engine's standard configuration.

Settings chosen for the execution model this engine targets (SURVEY §4):
AQE with skew-join handling for the conv_id skew path, Arrow for the
mapInArrow extraction operator, UTC session timezone so DuckDB oracle
comparisons are stable, shuffle partitions sized to cores (local mode)
instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Bounds per-batch UDF memory (north-rule T3 analog).  64k rows of ~0.5 KB
# transcript text ≈ 32 MB in flight per core — measured faster than 10k
# (fewer Arrow flushes + fewer Python-side loop iterations) and still far
# inside executor memory at 32 concurrent tasks.
ARROW_BATCH_ROWS = 65_536
# ... and by bytes, so a few oversized turns (tens of MB each) are not
# sent to Python in one batch with 65k others: Spark cuts a mapInArrow
# batch at whichever bound it reaches first.  Far above the ~16 MB of a
# 64k-row batch of ordinary turns, so those batches do not change.  A
# batch closes at the first row that takes it past this size, so one
# oversized row still gets through.  Any value but the default also
# makes Spark check the batch size per row.
ARROW_BATCH_BYTES = 128 << 20


def _default_driver_memory() -> str:
    """Half the host's physical memory, capped at 24g: in local mode the
    driver JVM is the only executor, and a heap sized past the host is
    never pressed to collect.  ``SPARK_DRIVER_MEM`` overrides it."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2 >> 20, 24 << 10)}m"


def get_spark(app_name: str = "frogocr_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH_ROWS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(ARROW_BATCH_BYTES))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # storage-partitioned joins over conv_id-bucketed tables: allow a
        # join on (conv_id, turn_idx) to reuse hash co-location on the
        # conv_id bucket key alone (sources/catalog.BucketedTable, whose
        # files the extraction tasks write — the shuffle-free resume
        # anti-join at 10^12-row scale)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
