"""Counters of one block of Spark work that host load cannot move.

``spark_counts`` runs a callable in its own Spark job group and reports
how many jobs that group ran and how many generated classes Janino
compiled meanwhile. Unlike wall time, neither count changes with
co-tenant load, so both are regression signals a busy host cannot fake.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import SparkSession


class Counts(NamedTuple):
    out: Any  # what the callable returned
    jobs: int  # Spark jobs its job group ran
    compiles: int  # generated classes Janino compiled while it ran


def compile_count(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far; a
    codegen cache hit compiles nothing and does not count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def spark_counts(spark: SparkSession, name: str, fn) -> Counts:
    """Run ``fn()`` in the job group ``job-count-<name>`` and count its
    jobs and the classes compiled meanwhile. The compile counter is
    JVM-wide, so work run concurrently from other threads counts too."""
    sc = spark.sparkContext
    group = f"job-count-{name}"
    compiled = compile_count(spark)
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        sc.setJobGroup("job-count-idle", "")
    compiled = compile_count(spark) - compiled
    # The status store is filled from the listener bus asynchronously,
    # after the action has returned.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return Counts(out, len(sc.statusTracker().getJobIdsForGroup(group)), compiled)
