"""Scale-pattern tests (SURVEY.md §4 / BASELINE north star): the
mechanisms that keep operators valid at 100 TB — salting for skew,
bucketed co-located joins, broadcast plans — verified for semantic
equivalence and for the physical plan shape they promise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark import plans
from finance_data_pipeline_spark.io import table
from finance_data_pipeline_spark.operators import relational as rel

SF_DIR = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark):
    """Salting must never change results — only the shuffle layout."""
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = o.join(c, "o_custkey").select("o_orderkey", "c_mktsegment")
    salted = rel.salted_join(o, c, "o_custkey", salt=4).select("o_orderkey", "c_mktsegment")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_distributes_hot_key(spark):
    """A single hot key must land in `salt` distinct join partitions:
    the salted left side carries every salt value for the hot key."""
    hot = spark.range(10_000).select(F.lit("HOT").alias("k"), F.col("id"))
    dim = spark.createDataFrame([("HOT", "v")], "k string, payload string")
    out = rel.salted_join(hot, dim, "k", salt=8)
    assert out.count() == 10_000
    salts = (
        hot.withColumn("_salt", (F.rand(seed=42) * 8).cast("int"))
        .select("_salt").distinct().count()
    )
    assert salts == 8


@pytest.mark.filterwarnings("ignore::UserWarning")
def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing both sides by the join key co-locates matching rows at
    write time: the join plan contains NO shuffle exchange — at 100 TB
    this converts every repeated fact-fact join into a map-side merge."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_plan_counters_match_before_and_after_the_frame_runs(spark):
    """The counters read a freshly planned plan: after an adaptive run
    the frame's own executedPlan repeats query-stage subtrees, which
    would double every count."""
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    df = o.join(c, "o_custkey").groupBy("c_mktsegment").count()
    fresh = plans.audit(df)
    df.collect()
    assert plans.audit(df) == fresh
    assert fresh["shuffles"] >= 1 and fresh["broadcasts"] >= 1, fresh


def test_broadcast_dim_join_shuffles_only_fact_aggregate(spark):
    """revenue_by_nation's plan: every dim join is a BroadcastExchange;
    the only hash shuffle is the final aggregate."""
    from finance_data_pipeline_spark.registry import QUERIES

    df = QUERIES["revenue_by_nation"](spark, SF_DIR)
    assert plans.broadcast_count(df) >= 2
    assert plans.shuffle_count(df) <= 1, plans.physical_plan(df)


def test_shipping_priority_broadcasts_dims_and_pushes_filters(spark):
    """Q3 shape: customer-side joins broadcast (fact never shuffles for
    the dims) and the selective predicates reach the Parquet scans as
    PushedFilters."""
    from finance_data_pipeline_spark.registry import QUERIES

    df = QUERIES["shipping_priority"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_scalar_subquery_is_broadcast_not_shuffle(spark):
    """parts_above_avg_size: the one-row aggregate crosses as a
    BroadcastExchange; the part scan itself never hash-shuffles."""
    from finance_data_pipeline_spark.registry import QUERIES

    df = QUERIES["parts_above_avg_size"](spark, SF_DIR)
    assert plans.broadcast_count(df) >= 1
    assert plans.shuffle_count(df) == 0, plans.physical_plan(df)


def test_grouping_sets_single_expand_single_shuffle(spark):
    """GROUPING SETS compiles to one Expand node + one shuffle — not a
    union of per-set aggregates."""
    from finance_data_pipeline_spark.registry import QUERIES

    df = QUERIES["segment_nation_grouping_sets"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan
    assert plan.count("Union") == 0, plan


def test_pricing_summary_partial_aggregation(spark):
    """Map-side partial aggregation: two HashAggregate phases around one
    shuffle, so raw lineitem rows never cross the wire."""
    from finance_data_pipeline_spark.registry import QUERIES

    df = QUERIES["pricing_summary"](spark, SF_DIR)
    plan = plans.physical_plan(df)
    assert plans.has_partial_aggregation(df), plan
    # Projection pruning: only the 7 needed lineitem columns are read.
    assert "ReadSchema: struct<l_quantity:double" in plan, plan


def test_no_query_uses_rowwise_python_or_cartesian_product(spark):
    """Sweep every registered batch query's physical plan: row-at-a-time
    Python UDFs (BatchEvalPython) are banned everywhere (Arrow-batched
    pandas UDFs show as ArrowEvalPython/FlatMapGroupsInPandas and are
    allowed); CartesianProduct is banned (broadcast nested-loop joins
    are the sanctioned non-equi form).

    The same sweep enforces a static shuffle ceiling: no query's plan
    may contain more than MAX_SHUFFLES hash-partitioning exchanges.
    Every legitimate plan in the registry sits at <= 15; an uncached
    multi-branch reuse of an expensive pipeline (dup_triangles before
    its localCheckpoint seam: 265 exchanges, 27 s for 3 rows at sf0.01)
    blows straight through the ceiling, so that class of plan explosion
    fails CI instead of waiting for a wall-clock regression."""
    from finance_data_pipeline_spark.registry import QUERIES

    MAX_SHUFFLES = 40
    skip = {name for name in QUERIES if name.startswith("streaming_")}
    offenders = {}
    for name, fn in QUERIES.items():
        if name in skip:
            continue
        plan = plans.physical_plan(fn(spark, SF_DIR))
        bad = [h for h in plans.HAZARDS if h in plan]
        n_shuffles = plan.count("Exchange hashpartitioning")
        if n_shuffles > MAX_SHUFFLES:
            bad.append(f"shuffle_explosion:{n_shuffles}>{MAX_SHUFFLES}")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_ks_and_mw_have_no_rowgrain_global_window(spark):
    """Regression guard for VERDICT r4 item 5: ks_value_drift,
    mann_whitney_u and quality_score_auc must keep the binned
    formulation — every window over the ranked value/score column
    partitions by _bin; the only unpartitioned pieces are the
    <= bins-row offsets window and the final 1-row aggregate."""
    from finance_data_pipeline_spark.registry import QUERIES

    for name in ("ks_value_drift", "mann_whitney_u", "quality_score_auc"):
        plan = plans.physical_plan(QUERIES[name](spark, SF_DIR))
        specs = [
            seg
            for seg in plan.split("windowspecdefinition(")[1:]
            if "value#" in seg.split(")")[0] or "score#" in seg.split(")")[0]
        ]
        assert specs, f"{name}: expected a binned window\n{plan}"
        assert all("_bin" in seg.split(")")[0] for seg in specs), (
            f"{name}: raw-value window without _bin partition\n{plan}"
        )
