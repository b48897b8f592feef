"""SparkSession factory.

Defaults are chosen for the 100 TB design point but work unchanged on
local[N]: AQE on (runtime coalescing, broadcast-join conversion, skew
splitting), Arrow on for any pandas interchange, and a shuffle
partition count that AQE can shrink at runtime.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Driver JIT budget: one C1 and one C2 compiler thread. On 4 CPUs HotSpot
# starts 1 C1 + 2 C2; a cold ETL day queues more hot methods (Janino,
# Java serialization, py4j) than C2 can drain, so both C2 threads stay
# busy to the end of a run and JIT CPU grows with C2 threads x wall
# time. On a 4-CPU VM one C2 thread cut the JIT's CPU per warm ETL day
# from 9.6 to 6.0 s and raised `etl_day_large` rows per CPU second by
# 21 % (BASELINE.md, "Driver JIT budget"); the cost is that hot query
# code reaches C2 later (the bench.py headline total got ~5 % slower).
# On 2 CPUs this is already HotSpot's default. Not C1-only
# (-XX:TieredStopAtLevel=1): in local mode tasks run in the driver JVM,
# and the headline queries got 59 % slower.
DRIVER_JIT_OPTIONS = "-XX:CICompilerCount=2"

# Driver heap collector: the parallel (throughput) collector. G1, the
# JVM's default, grows its old generation with garbage up to its
# marking threshold instead of collecting it: after five ETL days a
# 2 GB driver had 760 MB of old generation committed for 308 MB in
# use. The parallel collector runs a full collection when the old
# generation fills and kept it at 178 MB. How much of that reaches RSS
# depends on the young generation. Fixed at 256 MB (perfbench's
# -Xmn256m), the driver's peak RSS on `etl_day_large` fell from 1624 to
# 1037 MB in median (-36 %, 10 of 10 pairs on a 4-CPU VM). Left to the
# collector's adaptive sizing, as in a 2-CPU driver pod with a 2 GB
# heap, eden grows to ~630 MB and peak RSS fell only from 1243 to
# 1163 MB (-6 %). CPU and wall time per day did not get worse. Not the
# serial collector, though in that pod shape it held half the memory
# at equal wall time: both stop the tasks for every collection, and the
# serial one collects on one thread. At the product's 8 GB heap on
# local[4] its pauses summed to 9.4 s against 3.8 s over a bench.py run
# (BASELINE.md, "Driver heap collector").
DRIVER_COLLECTOR = "-XX:+UseParallelGC"

# The JVM reads these variables itself. A collector named there and a
# second one on the command line make it refuse to start ("Multiple
# garbage collectors selected"), so the environment's collector wins.
_JVM_ENV_OPTIONS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
_COLLECTOR_FLAG = re.compile(r"-XX:[+-]Use\w+GC\b")


def driver_java_options(environ=os.environ) -> str:
    """The driver's JIT budget and collector, without the collector when
    one of the JVM's own option variables in ``environ`` already names
    one."""
    if any(_COLLECTOR_FLAG.search(environ.get(name, "")) for name in _JVM_ENV_OPTIONS):
        return DRIVER_JIT_OPTIONS
    return f"{DRIVER_JIT_OPTIONS} {DRIVER_COLLECTOR}"


def get_spark(
    app_name: str = "medical-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS or *]``.

    ``driver_java_options()`` go in as ``spark.driver.extraJavaOptions``.
    Builder conf only shapes a driver JVM that this call starts itself
    (plain ``python``/``pytest``): once a JVM is running, as under
    ``spark-submit`` or a Kubernetes driver pod, it is too late, and the
    deployment must pass the same flags with
    ``--driver-java-options "-XX:CICompilerCount=2 -XX:+UseParallelGC"``.
    An ``extra_conf`` that sets ``spark.driver.extraJavaOptions``
    replaces the default, so it must repeat the flags to keep them.
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
        # Let AQE size cached frames too. Off (Spark's default), a
        # persist() keeps the width of its last shuffle,
        # spark.sql.shuffle.partitions, whatever its bytes: every stage
        # that reads it runs that many tasks, and an ETL day's three
        # caches (both transforms, the enriched frame) wrote that many
        # files into each day partition. On, a warm `etl_day_large`
        # day ran 23 tasks instead of 68, wrote one file per partition
        # and gained 20 % rows per CPU second on a 4-CPU VM
        # (BASELINE.md, "AQE sizes a day's cached frames"). A consumer
        # that relied on a cache's hash partitioning may now need one
        # more exchange. REPARTITION_BY_NUM caches (dedup's
        # rebalance_for_cpu) are never coalesced.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
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
        .config("spark.driver.extraJavaOptions", driver_java_options())
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
        # Case mapping on the JVM, not ICU. The ICU path of
        # upper/lower/initcap first builds a title-case table by
        # ICU-title-casing all 1,114,112 code points
        # (CollationAwareUTF8String's static initialiser): ~1 s of
        # CPU and ~0.7 s of JIT in a bare JVM, paid once per process
        # inside a task of the first upper stage, so a fresh pod's
        # cold ETL day paid all of it. Off, and with the day-path
        # modules casting to type instances (no SQL parser), a cold
        # `etl_day_large` day fell from 15.5 to 13.9 CPU s on a 4-CPU
        # VM (BASELINE.md, "A cold day without Spark's one-time ICU
        # table and SQL parser"). ASCII strings map to the same bytes
        # on both paths, which share one ASCII fast path; other text
        # follows the JVM's Unicode tables (README.md, "Session SQL
        # settings"). A session conf, so it holds under spark-submit.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
