"""Deterministic sampling/splitting invariants (extensions/sampling.py)
plus decontamination correctness (dedup.decontaminate) — the properties
the oracle hash-compare can't state directly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions import dedup, sampling

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    yield docs
    docs.unpersist()


def test_split_is_total_and_deterministic(spark, docs):
    out = sampling.hash_split(docs).select("doc_id", "split")
    n = docs.count()
    assert out.count() == n
    assert out.filter(~F.col("split").isin("train", "test")).count() == 0
    again = sampling.hash_split(docs.repartition(7)).select("doc_id", "split")
    assert out.exceptAll(again).count() == 0  # layout-independent


def test_split_fraction_near_target(spark, docs):
    out = sampling.hash_split(docs, test_sixteenths=2)
    frac = out.filter(F.col("split") == "test").count() / docs.count()
    assert 0.04 <= frac <= 0.22  # 2/16 = 12.5% expected, small-N tolerance


def test_keep_fraction_bounds(spark, docs):
    assert docs.filter(sampling.keep_fraction("doc_id", 16)).count() == docs.count()
    assert docs.filter(sampling.keep_fraction("doc_id", 0)).count() == 0
    with pytest.raises(ValueError):
        sampling.keep_fraction("doc_id", 17)


def test_stratified_sample_keeps_unlisted_strata_whole(spark, docs):
    out = sampling.stratified_hash_sample(docs, "lang", {"en": 4})
    by_lang_in = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    by_lang_out = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in by_lang_in.items():
        if lang == "en":
            assert by_lang_out.get(lang, 0) < n
        else:
            assert by_lang_out.get(lang, 0) == n


def test_stratified_sample_is_subset_of_split_sample(spark, docs):
    """The same key+rate always selects the same rows, whatever the API
    entry point: stratified en@2/16 rows ⊆ hash_split test rows (both
    are nibble < '2' on the same key)."""
    strat = sampling.stratified_hash_sample(
        docs, "lang", {"en": 2}, default_sixteenths=0
    ).select("doc_id")
    split_test = (
        sampling.hash_split(docs, test_sixteenths=2)
        .filter((F.col("split") == "test") & (F.col("lang") == "en"))
        .select("doc_id")
    )
    assert strat.exceptAll(split_test).count() == 0
    assert split_test.exceptAll(strat).count() == 0


def test_decontaminate_removes_all_shingle_overlap(spark, docs):
    """Property the oracle also checks, stated directly: no surviving
    doc shares any 3-shingle with the benchmark slice."""
    clean = dedup.decontaminate(docs)
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    sh = docs.select(
        "doc_id", nib.alias("_nib"), F.explode(dedup.word_shingles("text")).alias("sh")
    )
    bench_sh = sh.filter(F.col("_nib") == "f").select("sh").distinct()
    surviving_sh = sh.join(clean, "doc_id", "left_semi")
    assert surviving_sh.join(bench_sh, "sh", "left_semi").count() == 0
    # and no benchmark doc leaks into the output
    assert clean.filter(nib == "f").count() == 0


def test_decontaminate_plan_is_scalable(spark, docs):
    from finance_data_pipeline_spark import plans

    plans.assert_scalable(dedup.decontaminate(docs))
