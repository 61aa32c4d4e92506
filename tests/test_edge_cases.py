"""Edge-case behavior: empty inputs, single rows, degenerate groups.
Operators must degrade to empty/identity results, never raise — at
100 TB some partition, symbol, or day is always empty.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark import indicators, ingest, quality
from finance_data_pipeline_spark.extensions import dedup, similarity

STOCK_SCHEMA = (
    "symbol string, date date, open double, high double, low double, "
    "close double, volume bigint"
)


@pytest.fixture(scope="module")
def empty_stocks(spark):
    return spark.createDataFrame([], STOCK_SCHEMA)


@pytest.fixture(scope="module")
def one_row(spark):
    return spark.createDataFrame(
        [("A", "2024-01-02", 10.0, 11.0, 9.0, 10.5, 100)],
        "symbol string, date string, open double, high double, low double, close double, volume long",
    ).withColumn("date", F.col("date").cast("date"))


def test_indicators_on_empty(empty_stocks):
    out = indicators.with_indicators(empty_stocks, include_ema=True)
    assert out.count() == 0
    assert "macd" in out.columns and "rsi" in out.columns


def test_indicators_single_row(one_row):
    row = indicators.with_indicators(one_row, include_ema=True).collect()[0]
    assert row["sma_5"] == pytest.approx(10.5)  # min_periods=1
    assert row["rsi"] is None  # warm-up
    assert row["daily_return"] is None  # no lag
    assert row["ema_12"] == pytest.approx(10.5)  # ewm of one obs = obs


def test_upsert_with_empty_sides(empty_stocks, one_row):
    assert ingest.upsert(empty_stocks, one_row).count() == 1
    assert ingest.upsert(one_row, empty_stocks).count() == 1
    assert ingest.upsert(empty_stocks, empty_stocks).count() == 0
    assert ingest.insert_ignore(one_row, empty_stocks).count() == 1
    assert ingest.incremental_boundary(one_row, empty_stocks).count() == 1


def test_quality_on_empty_and_valid(empty_stocks, one_row):
    assert quality.clean(empty_stocks).count() == 0
    assert quality.summary(empty_stocks).count() == 0
    assert quality.flag(one_row).collect()[0]["violations"] == []


def test_dedup_on_empty_documents(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.near_dup_pairs(docs).count() == 0
    assert dedup.simhash_near_dups(docs).count() == 0


def test_single_word_document_shingles(spark):
    """Docs shorter than the shingle width fall back to whole-text
    shingles (dedup.word_shingles) — no empty arrays, no crash."""
    docs = spark.createDataFrame([(1, "hello"), (2, "hello"), (3, "bye")], "doc_id long, text string")
    pairs = dedup.near_dup_pairs(docs, threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard == 1.0


def test_similarity_empty_vectors(spark):
    vecs = spark.createDataFrame([], "vec_id long, embedding array<double>, label string")
    assert similarity.cosine_dup_pairs(vecs).count() == 0
    assert similarity.cosine_dup_pairs_blocked(vecs).count() == 0
    assert similarity.brute_force_topk(vecs, vecs).count() == 0


def test_continuity_check_first_ever_batch(empty_stocks, one_row):
    out = quality.continuity_check(one_row, empty_stocks).collect()[0]
    assert out["discontinuous"] is False
    assert out["last_close"] is None


class TestSketchAccuracy:
    """Sketch aggregates must stay within their advertised error of the
    exact answers (the contract that justifies them at 100 TB)."""

    def test_hll_within_rsd(self, spark):
        from finance_data_pipeline_spark.registry import QUERIES
        from finance_data_pipeline_spark.io import table as _t

        approx = {
            r.event_type: r.approx_users
            for r in QUERIES["approx_user_counts"](spark, "/root/testdata/sf0.001").collect()
        }
        exact = {
            r.event_type: r.n
            for r in _t(spark, "/root/testdata/sf0.001", "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert set(approx) == set(exact)
        for k, n in exact.items():
            assert abs(approx[k] - n) <= max(3, 0.05 * n), (k, approx[k], n)

    def test_approx_percentile_rank_error_bound(self, spark):
        """approx_percentile guarantees RANK error ≤ 1/accuracy — check
        that the empirical quantile of each returned value brackets the
        requested one (value-distance is meaningless in a heavy tail)."""
        from finance_data_pipeline_spark.io import table as _t
        from finance_data_pipeline_spark.registry import QUERIES

        approx = {
            r.event_type: (r.p50, r.p90, r.p99)
            for r in QUERIES["approx_value_percentiles"](spark, "/root/testdata/sf0.001").collect()
        }
        vals = (
            _t(spark, "/root/testdata/sf0.001", "events")
            .select("event_type", "value")
            .toPandas()
            .groupby("event_type")["value"]
        )
        for k, series in vals:
            n = len(series)
            for q, a in zip((0.5, 0.9, 0.99), approx[k]):
                emp = (series <= a).mean()
                # ±1 rank slack plus the sketch's rank-error budget.
                assert abs(emp - q) <= 1.0 / 10000 + 2.0 / n, (k, q, a, emp)


def test_change_islands_runs_and_boundaries(spark):
    """change_islands must produce non-overlapping, gapless, ordered
    validity ranges per key, and re-concatenating runs reproduces the
    input length."""
    from pyspark.sql import functions as F

    from finance_data_pipeline_spark.operators.relational import change_islands

    rows = [("A", i, v) for i, v in enumerate([1, 1, 2, 2, 2, 1, 3])] + [
        ("B", i, v) for i, v in enumerate([5, 5, 5])
    ]
    df = spark.createDataFrame(rows, "key string, ord int, val int")
    out = change_islands(df, "key", "ord", F.col("val"), "val").orderBy("key", "valid_from")
    got = [(r["key"], r["val"], r["valid_from"], r["valid_to"], r["n_rows"]) for r in out.collect()]
    assert got == [
        ("A", 1, 0, 1, 2),
        ("A", 2, 2, 4, 3),
        ("A", 1, 5, 5, 1),
        ("A", 3, 6, 6, 1),
        ("B", 5, 0, 2, 3),
    ]


def test_fetch_adapter_seam_ingests_like_batch(spark):
    """ParquetFixtureAdapter through fetch_and_ingest equals calling
    ingest_batch on the equivalent raw frame — the seam adds no
    semantics."""
    from pyspark.sql import functions as F

    from finance_data_pipeline_spark import fixtures
    from finance_data_pipeline_spark.ingest import ingest_batch
    from finance_data_pipeline_spark.sources import ParquetFixtureAdapter, fetch_and_ingest

    sf = "/root/testdata/sf0.001"
    adapter = ParquetFixtureAdapter(sf)
    got = fetch_and_ingest(spark, adapter, ["S1", "S2"], "2024-01-05", "2024-01-15")
    raw = (
        fixtures.stocks(spark, sf)
        .filter(F.col("symbol").isin("S1", "S2"))
        .filter(F.col("date").between("2024-01-05", "2024-01-15"))
    )
    want = ingest_batch(raw, None)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_salted_join_equals_plain_join(spark):
    """salted_join must produce exactly the plain join's rows while
    spreading each key across `salt` partitions of the shuffle."""
    from pyspark.sql import functions as F

    from finance_data_pipeline_spark.io import table
    from finance_data_pipeline_spark.operators.relational import salted_join

    SF = "/root/testdata/sf0.001"
    lineitem = table(spark, SF, "lineitem").select("l_orderkey", "l_quantity", "l_linenumber")
    orders = table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = lineitem.join(orders, "l_orderkey")
    salted = salted_join(lineitem, orders, "l_orderkey", salt=4)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_session4_operators_handle_empty_inputs(spark):
    """Every session-4 operator returns an empty (or trivially-zero)
    frame on empty input instead of raising — the robustness bar set
    for pagerank/profile in earlier rounds."""
    from finance_data_pipeline_spark import quality
    from finance_data_pipeline_spark.extensions import (
        dedup,
        graph,
        multimodal,
        sampling,
        similarity,
        text,
        winnow,
    )
    from finance_data_pipeline_spark.operators import relational as rel

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    vecs = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    ev = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert winnow.winnowing_fingerprints(docs).count() == 0
    assert winnow.winnowing_shared_spans(docs).count() == 0
    assert sampling.temperature_mix(docs).count() == 0
    assert sampling.mixture_epoch_plan(docs).count() == 0
    assert dedup.soft_dedup_weights(docs).count() == 0
    assert dedup.source_ngram_overlap(docs).count() == 0
    assert text.bm25_topk(docs).count() == 0
    assert text.quality_percentile_by_lang(docs).count() == 0
    assert text.bpe_encode(docs).count() == 0
    assert text.cms_term_counts(docs).count() == 0
    assert similarity.embedding_standardize(vecs).count() == 0
    assert rel.key_skew_profile(ev, "user_id").count() == 0
    assert graph.triangles(pairs).count() == 0
    assert (
        multimodal.media_phash_pairs(multimodal.synthetic_media(docs)).count() == 0
    )
    r = quality.hll_distinct(ev, "user_id").first()
    assert r.present_buckets == 0 and r.est_distinct == 0.0 and r.exact_distinct == 0


def test_new_ops_degrade_on_empty_inputs(spark):
    """The session's new operators must return empty frames (never
    raise) on empty inputs: canonical dedup, split leakage, k-core,
    epoch shuffle, contrastive pairs, SQ8 report."""
    from finance_data_pipeline_spark.extensions import graph, sampling
    from finance_data_pipeline_spark.extensions.similarity import sq8_error_report

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )
    assert dedup.canonical_dedup_stats(empty_docs).count() == 0
    assert dedup.split_leakage(empty_docs).count() == 0
    assert sampling.contrastive_pairs(empty_docs).count() == 0
    assert sampling.epoch_shuffle(empty_docs).count() == 0

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert graph.kcore(empty_pairs).count() == 0

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label string"
    )
    assert sq8_error_report(empty_emb).count() == 0


def test_sq8_single_element_vector(spark):
    """A 1-dim vector is degenerate (min == max) — defined as zero
    error, not NaN/divide-by-zero."""
    from finance_data_pipeline_spark.extensions.similarity import sq8_error_report

    emb = spark.createDataFrame(
        [(1, [3.5], "x")], "vec_id long, embedding array<double>, label string"
    )
    [r] = sq8_error_report(emb).collect()
    assert r.avg_rmse_q8 == 0.0 and r.max_abs_err_q8 == 0.0


def test_hll_deep_rank_rest_zero(spark):
    """VERDICT r4 item 7: the rest == 0 deep-rank edge (probability
    ~2^(p-60) per row — unreachable by key search, injected via the
    hash_col seam). With scale `field` the harmonic-term shift went
    NEGATIVE here (Spark masks, DuckDB throws); the field+1 rescale
    makes the deepest rank contribute the integer 1 in BOTH engines.
    Asserts Spark runs, stays finite, and matches a DuckDB replay of
    the same formula on the same injected hashes bit-for-bit."""
    import duckdb

    p, field = 9, 51  # m = 512
    # h = 0 → bucket 0, rest 0 → mj = field+1 = 52 (the deep rank);
    # plus ordinary hashes that land in other buckets with small ranks
    hs = [0, 513, 1025, 7 * 512 + 3, (1 << 59) + 11]
    df = spark.createDataFrame([(i, h) for i, h in enumerate(hs)], "k long, h60 long")
    [row] = quality.hll_distinct(df, "k", p=p, hash_col="h60").collect()
    assert row.est_distinct == row.est_distinct  # not NaN
    assert row.est_distinct > 0
    con = duckdb.connect()
    vals = ", ".join(f"({h})" for h in hs)
    [(duck_est,)] = con.sql(
        f"""WITH b AS (
  SELECT h % 512 AS bucket, h // 512 AS rest FROM (VALUES {vals}) t(h)),
r AS (SELECT bucket,
             max(CASE WHEN rest = 0 THEN {field + 1}
                      ELSE {field} - length(bin(rest)) + 1 END) AS mj
      FROM b GROUP BY bucket),
agg AS (SELECT CAST(count(*) AS BIGINT) AS present,
               CAST(sum(CAST(1 AS BIGINT) << CAST({field + 1} - mj AS INTEGER))
                    AS BIGINT) AS s
        FROM r),
est AS (SELECT present,
  (0.7213 / (1.0 + 1.079 / 512)) * 262144.0
    * CAST(CAST(1 AS BIGINT) << {field + 1} AS DOUBLE)
    / CAST(s + (512 - present) * (CAST(1 AS BIGINT) << {field + 1}) AS DOUBLE)
    AS raw,
  512 - present AS zeros FROM agg)
SELECT round(CASE WHEN raw <= 2.5 * 512 AND zeros > 0
             THEN 512.0 * ln(512.0 / CAST(zeros AS DOUBLE))
             ELSE raw END, 4) FROM est"""
    ).fetchall()
    assert row.est_distinct == duck_est


def test_quantile_bins_constant_values(spark, tmp_path):
    """VERDICT r4 item 7: vmax == vmin (every event value identical).
    The raw bin expression is 0.0/0.0 — NaN in Spark, NULL in DuckDB —
    so the nullif/coalesce guard pins the defined behavior: all rows in
    bin 0, every quantile estimate = the constant (bin-midpoint formula
    collapses to vmin since vmax - vmin = 0)."""
    import duckdb

    from finance_data_pipeline_spark.registry import ORACLES, QUERIES

    pdf_rows = [(i, 42.5) for i in range(100)]
    spark.createDataFrame(pdf_rows, "user_id long, value double").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/events.parquet")
    out = (
        QUERIES["value_quantile_bins"](spark, str(tmp_path))
        .orderBy("quantile")
        .collect()
    )
    assert len(out) == 5
    assert all(abs(r.est - 42.5) < 1e-9 for r in out)
    con = duckdb.connect()
    con.sql(
        # Spark writes a parquet DIRECTORY; DuckDB needs the part-file glob
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    oracle = con.sql(ORACLES["value_quantile_bins"]).df().sort_values("quantile")
    assert [round(r.est, 6) for r in out] == [
        round(v, 6) for v in oracle["est"].tolist()
    ]


# Per k: (word_shingles, raw_word_ngrams, _sliding_grams) for each row of
# _KGRAM_ROWS, then for a text of exactly k tokens. A doc shorter than k
# keeps its whole text as its one shingle/raw gram and has no sliding
# gram; the tab/newline row tokenizes to x y x y x.
_KGRAM_ROWS = [None, "", "   ", "Hello", "X\tY\nx\ty  X"]
_KGRAM_EXPECTED = {
    1: [
        ([None], [None], []),
        ([""], [""], [""]),
        ([""], [""], [""]),
        (["hello"], ["hello"], ["hello"]),
        (["x", "y"], ["x", "y", "x", "y", "x"], ["x", "y", "x", "y", "x"]),
        (["a"], ["a"], ["a"]),
    ],
    3: [
        ([None], [None], []),
        ([""], [""], []),
        ([""], [""], []),
        (["hello"], ["hello"], []),
        (
            ["x y x", "y x y"],
            ["x y x", "y x y", "x y x"],
            ["x y x", "y x y", "x y x"],
        ),
        (["a b c"], ["a b c"], ["a b c"]),
    ],
    7: [
        ([None], [None], []),
        ([""], [""], []),
        ([""], [""], []),
        (["hello"], ["hello"], []),
        (["x y x y x"], ["x y x y x"], []),
        (["a b c d e f g"], ["a b c d e f g"], ["a b c d e f g"]),
    ],
}


@pytest.mark.parametrize("k", sorted(_KGRAM_EXPECTED))
def test_kgram_short_doc_rules(spark, k):
    """word_shingles, raw_word_ngrams and _sliding_grams all come from
    one window builder; pin how each treats null, empty, whitespace-only,
    one-token, tab/newline-separated and exactly-k text."""
    texts = _KGRAM_ROWS + [" ".join("abcdefg"[:k])]
    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    got = [
        (r.s, r.r, r.g)
        for r in df.select(
            "id",
            dedup.word_shingles("text", k).alias("s"),
            dedup.raw_word_ngrams("text", k).alias("r"),
            dedup._sliding_grams("text", k).alias("g"),
        )
        .orderBy("id")
        .collect()
    ]
    assert got == _KGRAM_EXPECTED[k]
