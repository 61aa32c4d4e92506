"""Property tests for the merge/dedup family (SURVEY.md §5.3):
idempotence, key uniqueness, new-wins resolution (J4/J5/A10) — the
invariants behind the reference's ON DUPLICATE KEY UPDATE
(fetch_and_store.py:306-314) and INSERT IGNORE (fetch_yfinance.py:24).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark import fixtures, ingest
from finance_data_pipeline_spark.extensions import dedup

SF_DIR = "/root/testdata/sf0.001"
KEY = ["symbol", "date"]


@pytest.fixture(scope="module")
def stocks(spark):
    return fixtures.stocks(spark, SF_DIR)


def _split(stocks):
    old = stocks.filter(F.col("date") <= F.lit("2024-01-20").cast("date"))
    new = stocks.filter(F.col("date") >= F.lit("2024-01-15").cast("date")).withColumn(
        "close", F.col("close") * 2
    )
    return old, new


def test_upsert_key_uniqueness(stocks):
    old, new = _split(stocks)
    merged = ingest.upsert(old, new, key=KEY)
    assert merged.groupBy(*KEY).count().filter("count > 1").count() == 0


def test_upsert_new_wins(stocks):
    old, new = _split(stocks)
    merged = ingest.upsert(old, new, key=KEY)
    overlap = merged.join(new.select(*KEY, F.col("close").alias("new_close")), KEY)
    assert overlap.filter(F.col("close") != F.col("new_close")).count() == 0


def test_upsert_idempotent(stocks):
    old, new = _split(stocks)
    once = ingest.upsert(old, new, key=KEY)
    twice = ingest.upsert(once, new, key=KEY)
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_upsert_preserves_all_keys(stocks):
    old, new = _split(stocks)
    merged = ingest.upsert(old, new, key=KEY)
    want = old.select(*KEY).union(new.select(*KEY)).distinct().count()
    assert merged.count() == want


def test_insert_ignore_never_overwrites(stocks):
    old, new = _split(stocks)
    appended = ingest.insert_ignore(new, old)
    # No appended key already exists in old.
    assert appended.join(old, KEY, "left_semi").count() == 0
    # Union with old is key-unique and covers all keys.
    full = old.unionByName(appended)
    assert full.groupBy(*KEY).count().filter("count > 1").count() == 0
    assert full.count() == old.select(*KEY).union(new.select(*KEY)).distinct().count()


def test_incremental_boundary_strictly_newer(stocks):
    old, new = _split(stocks)
    out = ingest.incremental_boundary(new, old)
    maxd = old.groupBy("symbol").agg(F.max("date").alias("max_date"))
    joined = out.join(maxd, "symbol", "left")
    assert joined.filter(
        F.col("max_date").isNotNull() & (F.col("date") <= F.col("max_date"))
    ).count() == 0


def test_exact_dedup_idempotent_and_unique(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # Duplicate the corpus with shifted ids: every text now appears ≥2×.
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    doubled = docs.unionByName(shifted)
    out = dedup.exact_dedup(doubled)
    assert out.groupBy("text_hash").count().filter("count > 1").count() == 0
    # Keeps the lowest id → original ids win over shifted ones.
    assert out.filter(F.col("doc_id") >= 1_000_000).count() == 0
    again = dedup.exact_dedup(out.drop("text_hash"))
    assert again.count() == out.count()
