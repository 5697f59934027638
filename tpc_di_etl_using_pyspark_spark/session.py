"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
chosen so that the same declarative plans scale to a multi-executor
cluster: AQE handles partition coalescing / skew splitting / join
strategy switches at runtime, Arrow keeps any pandas exchange
vectorized, and shuffle partitions stay modest for local mode (a real
cluster deployment would raise ``spark.sql.shuffle.partitions`` or rely
on AQE's coalescing from a higher initial number). AQE coalesces the
shuffles inside cached plans too, but only because get_spark sets
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``; Spark's
default keeps a cached plan at the static partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's cache of compiled generated classes
# (spark.sql.codegen.cache.maxEntries, default 100). The cache is an
# LRU keyed by (class loader, generated source); in local mode each
# whole-stage class is compiled for the driver's loader and again for
# the executor's. One cold pass compiles 146 classes on the perfbench
# tpcdi_load workload, 107 on llm_curation and 711 on bench.py's 27
# headline ops at sf0.01 (128, 93 and 599 without stage numbers in
# class names, below). With 100 entries the cache evicted each class
# before the pass needed it again, so every warm pass recompiled its
# classes with Janino and the JIT compiled them again. Guava splits
# the cache into 4 LRU segments of 250 that evict on their own, so it
# needs headroom above the largest working set: at 1000, as at 2000, a
# warm pass of the headline ops compiles nothing. A static conf: only
# the session that starts the JVM sets it.
CODEGEN_CACHE_ENTRIES = 1000

# Spark's holder of its Unicode case-mapping tables. Its static
# initializer title-cases every one of the 1.1M code points with ICU,
# the first time any case mapping (lower, upper, initcap) runs in the
# JVM: about 3 GB of short-lived objects in about 1.5 s on one task
# thread. Inside a query that burst meets the query's live objects, and
# G1 takes the GC time it costs as a reason to grow the heap, which
# then stays resident for the life of the JVM. get_spark initializes
# the class while the heap is nearly empty.
_CASE_MAPPING_CLASS = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"


# Local-mode sizes bench.py's recorded numbers were measured with; a
# cluster deployment sets its own (the two SQL confs stay settable with
# spark.conf.set on a running session).
# Shuffle partitions: about one reducer per core; AQE coalescing trims
# small stages. Production: ~2-3x total executor cores, or high enough
# that partitions land in the 100MB-1GB band — AQE coalesces the
# excess, so erring high is safe. For a cached plan that holds only
# with canChangeCachedPlanOutputPartitioning set (in get_spark).
SHUFFLE_PARTITIONS = 32
# Broadcast threshold: the reference dims and 1-row aggregates always
# broadcast. Production: keep it at most a few hundred MB — executors
# hold the built relation per task slot.
BROADCAST_THRESHOLD = 32 * 1024 * 1024
# Shuffle/spill/broadcast compression codec: Spark's lz4. On an idle
# host zstd measured a wash to slightly slower at fixture scale
# (BASELINE.md), since shuffle payloads are KB-scale and codec CPU
# outweighs the bytes saved. Production: zstd usually wins once
# shuffle partitions carry 100MB+; measure before switching.
IO_CODEC = "lz4"


def get_spark(app_name: str = "tpcdi-spark-engine", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    AQE on (runtime re-planning: partition coalescing, skew-join
    splitting, broadcast switch), Arrow on (vectorized pandas-UDF and
    toPandas exchange), timestamps truncated to microseconds on parquet
    read (events.ts is ns — FIXTURES.md).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark keeps AQE from changing a cached plan's output
        # partitioning by default, so a cache() over a shuffle
        # materializes all spark.sql.shuffle.partitions partitions and
        # every stage that writes or reads it runs that many tasks.
        # With it on, AQE sizes those partitions like any other stage's.
        # tpcdi_batch_e2e caches its DimCustomer: at sf0.01 its stages
        # ran 263 tasks in all, largest stage 32, on local[4]; now 67,
        # largest 3-5 (269 -> 73 on local[8]). Same jobs, same
        # exchanges before execution, same output; the perfbench
        # tpcdi_load pass fell 2.89 -> 2.38 s (median, 4 cores).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(BROADCAST_THRESHOLD))
        .config("spark.io.compression.codec", IO_CODEC)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers a query's codegen stages in the order its query
        # stages are created, which follows stage completion and so
        # varies call to call; with the number in the class name,
        # identical stage code under a new number is new source and
        # compiles again. Left out, a rerun of tpcdi_batch_e2e and
        # tpcdi_fact_holdings at sf0.01 compiles 0-4 classes instead
        # of 0-12. explain() still shows the stage numbers; stack
        # traces show GeneratedIterator.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark wraps every Column method and F.* function in a
        # call-site capture: per call it reads
        # spark.sql.stackTracesInDataFrameContext and sets and clears
        # the JVM's PySparkCurrentOrigin, about ten py4j round trips
        # (F.col("id") + 1 makes 24 with it, 4 without). Off, a warm
        # build of tpcdi_batch_e2e at sf0.01 makes 1,242 round trips
        # instead of 3,212. The trade-off: a runtime error (an ANSI
        # DIVIDE_BY_ZERO, say) keeps its exception class, condition
        # and SQLSTATE, and its DataFrame context still names the
        # function (as the JVM's "divide", not "__truediv__"), but the
        # call site reads as a JVM reflection frame instead of
        # file.py:line. PySpark reads the flag once per Python process,
        # from the first active session, so it holds for sessions this
        # function starts; a session built elsewhere keeps its own.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    # a no-op once the class is initialized
    spark._jvm.java.lang.Class.forName(_CASE_MAPPING_CLASS)
    return spark
