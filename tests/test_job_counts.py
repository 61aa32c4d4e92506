"""Job-count guard for the iterative kernels and the decontamination
operators.

Spark jobs are counted by job group (``statusTracker().getJobIdsForGroup``)
while each kernel is built and collected at sf0.001. Unlike wall time,
a job count does not move with host load, so it is a regression signal
that co-tenant load cannot fake. Each bound is the count measured on
the code before that kernel's latest refactor, the highest of three
runs: before the rank loop and the Lloyd trainer were each folded into
one implementation, and before the decontamination operators moved onto
the shared shingle-hash and benchmark-split definitions. A change that
adds an eager job or an AQE query stage to one of these kernels fails
here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions import dedup, graph, similarity
from finance_data_pipeline_spark.io import table
from tests.conftest import SF_SMALL as SF_DIR

_MAX_JOBS = {
    "pagerank": 30,
    "personalized_pagerank": 41,
    "kmeans_centroids": 13,
    "pq_codebooks": 15,
    "bloom_decontaminate": 11,
    "decontaminate": 8,
}


def _edges(spark):
    """The symmetrized supplier↔customer trade graph of the registry's
    pagerank queries."""
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    return e0.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _personalized(spark):
    edges = _edges(spark)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .filter((F.col("node") % 2 == 0) & (F.expr("node div 2") <= 3))
        .distinct()
    )
    return graph.personalized_pagerank(edges, seeds)


_KERNELS = {
    "pagerank": lambda spark: graph.pagerank(_edges(spark)),
    "personalized_pagerank": _personalized,
    "kmeans_centroids": lambda spark: similarity.kmeans_centroids(
        table(spark, SF_DIR, "embeddings")
    ),
    "pq_codebooks": lambda spark: similarity.pq_codebooks(
        table(spark, SF_DIR, "embeddings")
    ),
    "bloom_decontaminate": lambda spark: dedup.bloom_decontaminate(
        table(spark, SF_DIR, "documents")
    ),
    "decontaminate": lambda spark: dedup.decontaminate(
        table(spark, SF_DIR, "documents")
    ),
}


@pytest.mark.parametrize("name", sorted(_MAX_JOBS))
def test_kernel_job_count_does_not_grow(spark, name):
    sc = spark.sparkContext
    group = f"job-count-{name}"
    sc.setJobGroup(group, name)
    try:
        rows = _KERNELS[name](spark).collect()
    finally:
        sc.setJobGroup("job-count-idle", "")
    assert rows
    # The status store is filled from the listener bus asynchronously,
    # after the action has returned.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= _MAX_JOBS[name], (
        f"{name}: {jobs} Spark jobs to build and collect, bound {_MAX_JOBS[name]}"
    )
