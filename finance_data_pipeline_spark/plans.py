"""Physical-plan audit utilities.

The reference has no optimizer to inspect (SURVEY.md §4) — on Spark the
optimizer is Catalyst, and the scale guarantees this engine makes
(filters reach the Parquet scan, dimensions broadcast, aggregates go
partial, no row-wise Python, no Cartesian products) are *plan
properties*. These helpers make those properties assertable, both in
the test suite (tests/test_scale_patterns.py) and interactively while
developing a query:

    from finance_data_pipeline_spark import plans
    plans.audit(df)          # dict of the key plan facts
    plans.assert_scalable(df)  # raises if a 100 TB hazard is present
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Operators that must never appear in a scalable batch plan:
# BatchEvalPython = row-at-a-time Python UDF (Arrow-batched pandas UDFs
# surface as ArrowEvalPython / FlatMapGroupsInPandas and are allowed);
# CartesianProduct = unpartitioned all-pairs join (broadcast
# nested-loop is the sanctioned non-equi form).
HAZARDS = ("BatchEvalPython", "CartesianProduct")


def physical_plan(df: DataFrame) -> str:
    """The physical plan freshly planned from the frame's logical plan
    under the session's current conf, so every counter reads the same
    text whether or not the frame has run: once it has, its own
    ``executedPlan`` is the final adaptive plan, which repeats
    query-stage subtrees."""
    spark = df.sparkSession
    fresh = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().logical()
    )
    return fresh.queryExecution().executedPlan().toString()


def count_op(df: DataFrame, op: str) -> int:
    """Occurrences of a physical operator substring in the plan."""
    return physical_plan(df).count(op)


def shuffle_count(df: DataFrame) -> int:
    """Hash-partitioning exchanges — each is a full shuffle of its
    input. The first number to check when a query is slow at scale."""
    return count_op(df, "Exchange hashpartitioning")


def broadcast_count(df: DataFrame) -> int:
    return count_op(df, "BroadcastExchange")


def has_partial_aggregation(df: DataFrame) -> bool:
    """True when aggregation runs map-side before the shuffle (raw rows
    never cross the wire)."""
    plan = physical_plan(df)
    return "partial_" in plan and plan.count("HashAggregate") >= 2


def pushed_filters(df: DataFrame) -> list[str]:
    """The PushedFilters lists of every file scan in the plan."""
    out = []
    for line in physical_plan(df).splitlines():
        marker = "PushedFilters: ["
        if marker in line:
            inner = line.split(marker, 1)[1].rsplit("]", 1)[0]
            out.append(inner)
    return out


def hazards(df: DataFrame) -> list[str]:
    """100 TB hazards present in the plan (empty list = clean)."""
    plan = physical_plan(df)
    return [h for h in HAZARDS if h in plan]


def codegen_span_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans — the ``*(id)`` prefixes in
    the plan tree (one id per fused span). Wider spans = fewer
    virtual-call boundaries between operators.

    Under AQE the lazy executedPlan is an unexecuted AdaptiveSparkPlan
    with no codegen stages inserted yet, so the query is re-planned
    with AQE off — codegen fusion is a static plan property; AQE only
    re-partitions between stages."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plan = physical_plan(df)
    finally:
        spark.conf.set(key, old)
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def assert_scalable(df: DataFrame) -> None:
    """Raise AssertionError if the plan contains a scale hazard."""
    found = hazards(df)
    if found:
        raise AssertionError(
            f"plan contains scale hazards {found}:\n{physical_plan(df)}"
        )


def audit(df: DataFrame) -> dict:
    """One-call summary of the plan facts that matter at scale."""
    return {
        "shuffles": shuffle_count(df),
        "broadcasts": broadcast_count(df),
        "partial_aggregation": has_partial_aggregation(df),
        "pushed_filters": pushed_filters(df),
        "hazards": hazards(df),
        "whole_stage_codegen_spans": codegen_span_count(df),
    }
