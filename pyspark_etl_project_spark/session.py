"""SparkSession factory.

Replaces the reference's per-pipeline session builders
(/root/reference/ETL/CSV_Batch_Processing.py:355 and siblings) with one
shared, scale-tuned factory.

Local-mode testing defaults; on a real cluster the same configs hold
(AQE, adaptive skew join, Arrow) while master/memory come from
spark-submit.

Generated-class cache. Spark compiles each whole-stage-codegen stage and
each generated projection/ordering with Janino and keeps the compiled
classes in a Guava LRU cache keyed by the generated source, so a plan
that repeats (every load of a recurring ETL job, every refresh of an
analyst's query) reuses its classes. Spark's default of 100 entries is
smaller than one pass of such a workload: the 15 perfbench query_mix
queries compile about 424 distinct classes, so under the default each
is evicted before its next use and every warm pass recompiles about
438, with the JVM's JIT threads spending more CPU on those fresh
classes than the executor tasks spend on rows. All 209 registered queries at sf0.01 plus the ETL
spine's seed loads and two rounds of CSV/JSON/XML loads compile 2558
distinct classes in one session (2935 when class names carry the
codegen stage id, see get_spark), so CODEGEN_CACHE_ENTRIES = 4000
holds the whole working set with headroom; the LRU bound caps the
metaspace it can take. The conf is static: the JVM reads it once, when
it first builds the cache, so it must be set on the builder before
getOrCreate.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache; measured working set and
# why it is static in the module docstring.
CODEGEN_CACHE_ENTRIES = 4000


def get_spark(app_name: str = "pyspark_etl_project_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    - UTC session timezone: deterministic timestamps, comparable with the
      DuckDB oracle (UTC-naive).
    - AQE on: runtime shuffle-partition coalescing + skew-join splitting,
      which is what makes the same plan survive a 100x scale-up.
    - Arrow on: fast pandas interchange for the Pandas-UDF extensions.
    - Generated-class cache sized to the engine's working set (see
      CODEGEN_CACHE_ENTRIES): a repeated plan reuses its compiled
      classes instead of recompiling them.
    """
    # One env read drives BOTH master parallelism and shuffle width —
    # an import-time snapshot could silently disagree with a caller
    # that sets SPARK_GRAFT_CPUS after import.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts = str(cpus if shuffle_partitions is None
                else shuffle_partitions)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The cache key is the generated source, and by default a
        # whole-stage class is named after its codegen stage id. Under
        # AQE that id follows the order in which concurrent query stages
        # finish, so the same stage of the same plan gets a new name (and
        # a recompile) on some runs: partial_stats_merge recompiles 14-22
        # identical classes per warm pass with ids, 0 without. The only
        # cost is the stage id missing from generated class names in
        # stack traces; the plan's *(N) markers still carry it.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark 4's DataFrame-debugging hook wraps EVERY DataFrame
        # API call with call-site capture: getActiveSession + a conf
        # read + PySparkCurrentOrigin.set/clear = 3-4 extra py4j round
        # trips per call. Off, plan construction of the ETL pipeline
        # queries drops ~2x (1.8 s -> 0.9 s measured warm) — pure
        # driver-side latency at ANY cluster scale; the only cost is
        # losing Python call-site lines inside JVM error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The driver's events table stores TIMESTAMP(NANOS) which Spark
        # rejects; read as long and convert in plans.tables.load_events.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # zstd for data at rest: ~30-40% smaller than snappy at parquet
        # scan-speed parity — at 100 TB that is tens of TB less I/O.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # NB: runtime bloom-filter/semi-join-reduction injection was
        # measured to blow up driver-side planning on this engine's
        # bushy multi-join plans (the optimizer's subtree search, not
        # execution) — left at Spark's defaults deliberately.
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
