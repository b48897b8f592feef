"""SparkSession factory.

Defaults are chosen for the 100 TB design point but work unchanged on
local[N]: AQE on (runtime coalescing, broadcast-join conversion, skew
splitting), Arrow on for any pandas interchange, and a shuffle
partition count that AQE can shrink at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "medical-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: coalesce post-shuffle partitions, convert
        # sort-merge to broadcast when runtime stats allow, split skewed
        # partitions. Essential at 100 TB, harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        # Deterministic wall-clock semantics: NTZ<->Timestamp casts are
        # value-preserving and match DuckDB's naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas_udf / toPandas interchange (vector ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep non-ANSI coercion semantics: cast/to_date yield null on
        # failure, matching the reference's errors='coerce' everywhere.
        .config("spark.sql.ansi.enabled", "false")
        # Tolerate TIMESTAMP(NANOS) parquet columns (read as long).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reasonable split size so huge parquet files parallelize.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # keep catalog tables (bucketed writes) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # Generated-class cache. One pipeline day compiles ~98 distinct
        # classes, and the query registry needs more; at the default of
        # 100 entries the LRU evicts a day's classes before the next
        # day asks for the same source again, so every warm day
        # recompiled dozens of them with Janino (and the JIT then
        # compiled the new bytecode). At 1000 a warm day compiles only
        # the classes whose source inlines the day's
        # current_timestamp() literal. Static conf: it takes effect in
        # the first session of a JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
