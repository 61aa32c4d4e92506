"""SparkSession factory and session tuning.

The reference opens a MySQL connection per call
(fetch_and_store_multi.py:30-38); here one SparkSession serves every
operator and the "connection" cost disappears (SURVEY.md §3 EP1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "finance-data-pipeline-spark"

# Entries in Spark's codegen cache (spark.sql.codegen.cache.maxEntries,
# default 100), sized in get_spark's docstring. The cache is a Guava
# cache that evicts per segment (4 segments, each holding a quarter of
# the entries), so the size leaves headroom over the measured census.
CODEGEN_CACHE_ENTRIES = 2000


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = APP_NAME, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for the test harness.

    On a real cluster the same confs apply; only ``master`` changes.

    The codegen cache holds ``CODEGEN_CACHE_ENTRIES`` (2,000) generated
    classes instead of Spark's 100. One session running bench.py's 52
    headline queries, the 14 market chart queries and the 4 corpus
    stages compiles 1,224 distinct classes; the market queries alone
    compile 159, so at 100 entries each warm pass over them recompiled
    120-133 classes, and at 2,000 it compiles none. Every executor JVM
    keeps its own cache, so on a cluster the setting saves the same
    recompiles on each one. The conf is static: it only takes effect when this call creates the
    SparkContext, and ``tune_session`` cannot set it on a session built
    elsewhere (the driver harness's session behind
    ``__spark_entry__.py`` keeps Spark's 100).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-planning — coalesces post-shuffle partitions,
        # converts to broadcast join when a side turns out small,
        # splits skewed shuffle partitions. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-level filtering (Bloom filter from the selective
        # join side pushed into the probe scan) is ON by Spark 4
        # default and prunes fact row groups at 100 TB; asserted here
        # so a downgraded cluster default doesn't silently lose it.
        # Do NOT enable runtimeFilter.semiJoinReduction: measured to
        # hang the optimizer (InjectRuntimeFilter) on wide bitwise
        # projections (write_zordered's 48-term interleave).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Arrow for every pandas boundary (applyInPandas, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    The driver harness hands ``queries()`` a session we did not build;
    these settings are all runtime-mutable and make behavior
    deterministic (UTC date extraction must match the DuckDB oracle,
    which is timezone-naive). Static confs such as the codegen cache
    size (see ``get_spark``) cannot be set here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    return spark
