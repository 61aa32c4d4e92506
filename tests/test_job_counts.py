"""Job-count guard for the iterative kernels, the decontamination
operators and the registry queries over the bar fixtures.

Spark jobs are counted by job group (``statusTracker().getJobIdsForGroup``)
while each kernel is built and collected at sf0.001. Unlike wall time,
a job count does not move with host load, so it is a regression signal
that co-tenant load cannot fake. Each bound is the count measured on
the code before that kernel's latest refactor, the highest of three
runs: before the rank loop and the Lloyd trainer were each folded into
one implementation, before the decontamination operators moved onto
the shared shingle-hash and benchmark-split definitions, before the
bar fixtures were memoized, before the return-based queries moved onto
the shared returns owners, before the graph loops moved onto one
symmetrization and one gated vertex-vector join (the graph kernels run
on the sf0.001 near-dup pair set, collected once into a local frame),
and, for ``ivf_topk`` (8 cells, 2 probes, 2 Lloyd rounds), the count of
``ivf_topk_deterministic`` with the same arguments before the two IVF
paths were merged into one. A change that adds an eager job or an AQE
query stage to one of these kernels fails here.

The same reader counts the classes Janino compiles: a warm pass over
the market chart queries must find its generated code in the codegen
cache that ``session.get_spark`` sizes.
"""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions import dedup, graph, similarity
from finance_data_pipeline_spark.io import table
from finance_data_pipeline_spark.profile import spark_counts
from finance_data_pipeline_spark.registry import QUERIES, _trade_edges
from tests.conftest import SF_SMALL as SF_DIR

_MAX_JOBS = {
    "pagerank": 30,
    "personalized_pagerank": 41,
    "kmeans_centroids": 13,
    "ivf_topk": 20,
    "pq_codebooks": 15,
    "bloom_decontaminate": 11,
    "decontaminate": 8,
    "connected_components": 23,
    "label_propagation": 16,
    "kcore": 25,
    "triangles": 13,
}

# Registry queries: over the daily and hourly bar fixtures, ma_warmup
# and sma measured before the fixtures were memoized, the return-based
# queries before their returns, exact sums and market return moved onto
# one owner each; the near-dup graph queries before the graph loops
# moved onto one symmetrization and one gated join (highest of 3 runs).
_MAX_QUERY_JOBS = {
    "ma_warmup": 4,
    "sma": 4,
    "pairwise_correlation": 6,
    "perf_summary": 2,
    "rolling_beta_30": 5,
    "var_cvar_95": 8,
    "volatility_30": 2,
    "dup_clusters": 34,
    "label_prop_communities": 28,
}


@functools.cache
def _dup_pairs(spark):
    """The sf0.001 near-dup pair set as a local frame, so a graph
    kernel's count holds only its own jobs."""
    rows = (
        dedup.near_dup_pairs(table(spark, SF_DIR, "documents"), threshold=0.7)
        .select("id_a", "id_b")
        .collect()
    )
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _personalized(spark):
    edges = _trade_edges(spark, SF_DIR)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .filter((F.col("node") % 2 == 0) & (F.expr("node div 2") <= 3))
        .distinct()
    )
    return graph.personalized_pagerank(edges, seeds)


def _ivf(spark):
    vecs = table(spark, SF_DIR, "embeddings")
    queries = vecs.filter(F.col("vec_id") < 5)
    return similarity.ivf_topk(
        vecs, queries, k=10, n_cells=8, n_probe=2, train_iters=2
    )


_KERNELS = {
    "pagerank": lambda spark: graph.pagerank(_trade_edges(spark, SF_DIR)),
    "personalized_pagerank": _personalized,
    "kmeans_centroids": lambda spark: similarity.kmeans_centroids(
        table(spark, SF_DIR, "embeddings")
    ),
    "pq_codebooks": lambda spark: similarity.pq_codebooks(
        table(spark, SF_DIR, "embeddings")
    ),
    "ivf_topk": _ivf,
    "bloom_decontaminate": lambda spark: dedup.bloom_decontaminate(
        table(spark, SF_DIR, "documents")
    ),
    "decontaminate": lambda spark: dedup.decontaminate(
        table(spark, SF_DIR, "documents")
    ),
    "connected_components": lambda spark: graph.connected_components(
        _dup_pairs(spark)
    ),
    "label_propagation": lambda spark: graph.label_propagation(_dup_pairs(spark)),
    "kcore": lambda spark: graph.kcore(_dup_pairs(spark)),
    "triangles": lambda spark: graph.triangles(_dup_pairs(spark)),
}


@pytest.mark.parametrize("name", sorted(_MAX_JOBS))
def test_kernel_job_count_does_not_grow(spark, name):
    _dup_pairs(spark)  # collected before the count starts
    rows, jobs, _ = spark_counts(spark, name, lambda: _KERNELS[name](spark).collect())
    assert rows
    assert jobs <= _MAX_JOBS[name], (
        f"{name}: {jobs} Spark jobs to build and collect, bound {_MAX_JOBS[name]}"
    )


@pytest.mark.parametrize("name", sorted(_MAX_QUERY_JOBS))
def test_fixture_query_job_count_does_not_grow(spark, name):
    """A registry query built and collected a second time: for the
    queries over the memoized bar fixtures, once the memo is warm, as
    on a dashboard's second chart."""
    QUERIES[name](spark, SF_DIR).collect()
    rows, jobs, _ = spark_counts(spark, name, lambda: QUERIES[name](spark, SF_DIR).collect())
    assert rows
    assert jobs <= _MAX_QUERY_JOBS[name], (
        f"{name}: {jobs} Spark jobs to build and collect, bound {_MAX_QUERY_JOBS[name]}"
    )


# The market workload's chart queries (perfbench/workloads.py
# MARKET_QUERIES), spelled out so the tests do not import the benchmark.
_MARKET_QUERIES = (
    "stocks_fixture",
    "sma",
    "rsi_14",
    "bollinger",
    "ma_warmup",
    "perf_summary",
    "dashboard_frame",
    "latest_close_per_symbol",
    "vwap_daily",
    "volatility_30",
    "ema_macd",
    "pairwise_correlation",
    "max_drawdown",
    "continuity_check",
)
_MAX_WARM_COMPILES = 2


def test_warm_market_pass_compiles_at_most_two_classes(spark):
    """The market queries built and sunk to ``noop`` twice back to back:
    the second pass finds its generated classes in the codegen cache.
    sf0.001 builds the same plans as sf0.1; at Spark's default of 100
    cache entries the second pass recompiles most of them."""

    def market_pass():
        for name in _MARKET_QUERIES:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    market_pass()
    _, _, compiles = spark_counts(spark, "market-warm", market_pass)
    assert compiles <= _MAX_WARM_COMPILES, (
        f"a warm pass over {len(_MARKET_QUERIES)} market queries compiled "
        f"{compiles} classes, bound {_MAX_WARM_COMPILES}"
    )
