"""Mini-driver: run every registered query on Spark AND its DuckDB
oracle on the same parquet, compare order-insensitively — the same
check the real driver performs at sf0.01 (run here at sf0.001 for
speed; set PARITY_SF_DIR to widen). The compare is
tools/parity_compare.mismatch, shared with tools/mini_driver.py.

This is the primary correctness gate (SURVEY.md §5.1).
"""

from __future__ import annotations

import os

import pytest

from tools.parity_compare import mismatch, oracle_connection

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def _names():
    from finance_data_pipeline_spark.registry import ORACLES

    return sorted(ORACLES)


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, name):
    from finance_data_pipeline_spark.registry import ORACLES, QUERIES

    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    con = oracle_connection(SF_DIR)
    errs = mismatch(spark_pdf, con.sql(ORACLES[name]).df())
    assert not errs, f"{name} (spark vs oracle): {errs}"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert "symbol" in out.columns


def _rows_only_names():
    from finance_data_pipeline_spark.registry import ORACLES, QUERIES

    return sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", _rows_only_names())
def test_rows_only_query_runs_with_stable_schema(spark, name):
    """Queries without a SQL oracle still face the driver's rows-only
    check: they must execute, return a non-empty deterministic schema,
    and be re-runnable (same row count twice)."""
    from finance_data_pipeline_spark.registry import QUERIES

    df = QUERIES[name](spark, SF_DIR)
    assert df.columns
    schema1 = df.schema.simpleString()
    n1 = df.count()
    df2 = QUERIES[name](spark, SF_DIR)
    assert df2.schema.simpleString() == schema1
    assert df2.count() == n1
