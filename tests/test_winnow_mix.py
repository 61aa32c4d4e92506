"""Semantic invariants for the winnowing / soft-dedup / source-mixing
operators (this session's additions), beyond the oracle parity the
mini-driver enforces: the winnowing shared-substring guarantee and
density bound from Schleimer et al. 2003, temperature-mix quota
accounting, epoch-plan identities, and soft-dedup weight semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions import dedup, sampling, winnow
from finance_data_pipeline_spark.io import table

SF_DIR = "/root/testdata/sf0.001"

K, W = 3, 4


@pytest.fixture(scope="module")
def docs(spark):
    docs = table(spark, SF_DIR, "documents").cache()
    yield docs
    docs.unpersist()


# --- winnowing ------------------------------------------------------------


def test_winnowing_guarantee_shared_run(spark):
    """Two docs sharing a run of >= w + k - 1 tokens must share at
    least one selected fingerprint — the paper's core guarantee."""
    run = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w + k - 1
    rows = [
        (1, f"completely different lead in words {run} tail one here"),
        (2, f"{run} and then some other unrelated continuation text"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow.winnowing_fingerprints(d, k=K, w=W)
    a = {r.gram_hash for r in fp.filter("doc_id = 1").collect()}
    b = {r.gram_hash for r in fp.filter("doc_id = 2").collect()}
    assert a & b, "guaranteed shared fingerprint missing"


def test_winnowing_selected_are_real_grams(spark, docs):
    """Every selected (pos, hash) is the hash of the gram actually at
    that position, and every doc yields at least one fingerprint."""
    fp = winnow.winnowing_fingerprints(docs, k=K, w=W)
    grams = winnow._grams_with_pos(docs, "doc_id", "text", K).withColumnRenamed(
        "gram_hash", "true_hash"
    )
    joined = fp.join(grams, ["doc_id", "pos"], "left")
    assert joined.filter(F.col("true_hash").isNull()).count() == 0
    assert joined.filter(F.col("gram_hash") != F.col("true_hash")).count() == 0
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    assert fp.select("doc_id").distinct().count() == n_docs


def test_winnowing_density_bound(spark, docs):
    """Selected fingerprints are a strict subset of grams: expected
    density ~ 2/(w+1); assert the much weaker <= 60% bound to stay
    robust to repeated-gram corpora."""
    fp_n = winnow.winnowing_fingerprints(docs, k=K, w=W).count()
    gram_n = winnow._grams_with_pos(docs, "doc_id", "text", K).count()
    assert 0 < fp_n <= 0.6 * gram_n


def test_winnowing_shared_spans_matches_bruteforce_threshold(spark):
    """Pairs from shared fingerprints: planted near-identical docs
    appear; unrelated docs don't."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " with a tiny suffix change"),
        (3, "entirely disjoint vocabulary sentence about spark physical plans"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow.winnowing_shared_spans(d, k=K, w=W, min_shared=2).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


# --- temperature mix ------------------------------------------------------


def test_temperature_mix_quota_accounting(spark, docs):
    out = sampling.temperature_mix(docs, alpha=0.5, budget_docs=250).cache()
    per = (
        out.groupBy("source")
        .agg(F.count("*").alias("kept"), F.first("quota").alias("quota"))
        .collect()
    )
    counts = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for r in per:
        # each source fills exactly its quota (capped at source size)
        assert r.kept == min(r.quota, counts[r["source"]])
    # alpha < 1 upsamples the tail: the smallest source's kept/count
    # ratio must be >= the largest source's.
    smallest = min(counts, key=counts.get)
    largest = max(counts, key=counts.get)
    ratios = {r["source"]: r.kept / counts[r["source"]] for r in per}
    if smallest in ratios and largest in ratios:
        assert ratios[smallest] >= ratios[largest]
    out.unpersist()


def test_temperature_mix_alpha_one_is_proportional(spark, docs):
    """alpha=1 degenerates to proportional allocation: weight equals
    each source's share of documents (up to quantization)."""
    out = sampling.temperature_mix(docs, alpha=1.0, budget_docs=160)
    total = docs.count()
    for r in out.select("source", "weight").distinct().collect():
        n = docs.filter(F.col("source") == r["source"]).count()
        assert abs(r.weight - n / total) < 1e-4


def test_temperature_mix_deterministic_across_layout(spark, docs):
    a = sampling.temperature_mix(docs).select("doc_id").collect()
    b = sampling.temperature_mix(docs.repartition(7)).select("doc_id").collect()
    assert {r.doc_id for r in a} == {r.doc_id for r in b}


# --- mixture epoch plan ---------------------------------------------------


def test_mixture_epoch_plan_identities(spark, docs):
    rows = sampling.mixture_epoch_plan(docs, alpha=0.5).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    ttok = sum(r.n_tokens for r in rows)
    for r in rows:
        # epochs * tokens ~ weight * total budget (one corpus worth)
        assert abs(r.epochs * r.n_tokens - r.weight * ttok) / (r.weight * ttok) < 1e-3
    # alpha<1: smaller sources get epochs >= larger sources
    by_tok = sorted(rows, key=lambda r: r.n_tokens)
    eps = [r.epochs for r in by_tok]
    assert eps == sorted(eps, reverse=True)


# --- soft dedup weights ---------------------------------------------------


def test_soft_dedup_weights_cluster_semantics(spark, docs):
    clusters = dedup.dup_clusters(docs, threshold=0.7).cache()
    out = dedup.soft_dedup_weights(docs, clusters=clusters).cache()
    # every doc appears exactly once
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    # members of a cluster carry weight 1/size; singletons weight 1
    sizes = {
        r.cluster_id: r.n
        for r in clusters.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    member = {r.doc_id: r.cluster_id for r in clusters.collect()}
    for r in out.collect():
        if r.doc_id in member:
            assert r.cluster_size == sizes[member[r.doc_id]]
        else:
            assert r.cluster_size == 1 and r.weight == 1.0
        assert abs(r.weight - round(1.0 / r.cluster_size, 6)) < 1e-9
    # total effective mass <= corpus token mass, >= deduped mass
    eff = out.select(F.sum(F.col("weight") * F.col("n_tokens"))).first()[0]
    tot = out.select(F.sum("n_tokens")).first()[0]
    assert eff <= tot
    out.unpersist()
    clusters.unpersist()


# --- source n-gram overlap ------------------------------------------------


def test_source_ngram_overlap_planted_recrawl(spark):
    """A source that is a verbatim re-crawl of another must show
    jaccard 1.0 against it; disjoint sources show 0 rows."""
    rows = [
        (1, "one two three four five six", "crawl_a"),
        (2, "seven eight nine ten eleven twelve", "crawl_a"),
        (3, "one two three four five six", "crawl_b"),  # re-crawl of doc 1
        (4, "seven eight nine ten eleven twelve", "crawl_b"),
        (5, "totally disjoint words nothing shared here at all", "crawl_c"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.source_a, r.source_b): r.jaccard
        for r in dedup.source_ngram_overlap(d).collect()
    }
    assert got[("crawl_a", "crawl_b")] == 1.0
    assert all("crawl_c" not in k for k in got)


def test_source_ngram_overlap_bounds(spark, docs):
    for r in dedup.source_ngram_overlap(docs).collect():
        assert r.source_a < r.source_b
        assert 0.0 <= r.jaccard <= 1.0
        assert r.common >= 1


# --- bm25 -----------------------------------------------------------------


def test_bm25_planted_relevant_doc_ranks_first(spark):
    from finance_data_pipeline_spark.extensions import text as tx

    rows = [
        (0, "zebra quagga okapi"),                        # query doc
        (5, "zebra quagga okapi zebra quagga extra"),     # heavy overlap
        (6, "zebra filler filler filler filler filler"),  # light overlap
        (7, "nothing related at all here whatsoever"),
        (8, "common filler words common filler words"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.bm25_topk(d, n_queries=1, k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: -r.score)]
    assert ranked[0] == 5
    assert 6 in ranked
    assert all(r.neighbor_id != 0 for r in out)  # self excluded
    assert all(r.score > 0 for r in out)


def test_bm25_topk_shape_on_corpus(spark, docs):
    from finance_data_pipeline_spark.extensions import text as tx

    out = tx.bm25_topk(docs, n_queries=3, k=5).cache()
    per = out.groupBy("query_id").count().collect()
    assert {r.query_id for r in per} <= {0, 1, 2}
    assert all(r["count"] <= 5 for r in per)
    out.unpersist()


# --- quality percentile ---------------------------------------------------


def test_quality_percentile_bounds_and_order(spark, docs):
    from finance_data_pipeline_spark.extensions import text as tx

    rows = tx.quality_percentile_by_lang(docs).collect()
    assert len(rows) == docs.count()
    by_lang = {}
    for r in rows:
        assert 0.0 <= r.pct_rank <= 1.0
        by_lang.setdefault(r.lang, []).append((r.quality_score, r.doc_id, r.pct_rank))
    for lang, xs in by_lang.items():
        xs.sort()
        ranks = [p for _, _, p in xs]
        assert ranks == sorted(ranks)        # monotone in (score, id)
        assert ranks[0] == 0.0
        if len(ranks) > 1:
            assert ranks[-1] == 1.0


# --- embedding standardization --------------------------------------------


def test_embedding_standardize_moments(spark):
    """Standardized output has per-dim mean ~0 and std ~1."""
    from finance_data_pipeline_spark.extensions import similarity as sim

    vecs = table(spark, SF_DIR, "embeddings")
    z = sim.embedding_standardize(vecs)
    stats = (
        z.groupBy("dim")
        .agg(F.avg("z").alias("m"), F.stddev_pop("z").alias("s"))
        .collect()
    )
    for r in stats:
        assert abs(r.m) < 1e-4
        assert abs(r.s - 1.0) < 1e-3


def test_embedding_standardize_constant_dim_is_null(spark):
    from finance_data_pipeline_spark.extensions import similarity as sim

    rows = [(1, [1.0, 5.0]), (2, [1.0, 7.0]), (3, [1.0, 9.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim.embedding_standardize(vecs)
    d1 = out.filter("dim = 1").collect()
    assert all(r.z is None for r in d1)
    d2 = {r.vec_id: r.z for r in out.filter("dim = 2").collect()}
    assert d2[2] == 0.0 and d2[1] < 0 < d2[3]


# --- snapshot diff --------------------------------------------------------


def test_snapshot_diff_labels(spark):
    from finance_data_pipeline_spark.operators import relational as rel

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 31.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    got = {r.k: r.change_type for r in rel.snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged


def test_snapshot_diff_null_safe(spark):
    """A null column value compares equal to itself (no phantom
    'changed' rows) and null→value is a change."""
    from finance_data_pipeline_spark.operators import relational as rel

    old = spark.createDataFrame([(1, None), (2, None)], "k long, v string")
    new = spark.createDataFrame([(1, None), (2, "x")], "k long, v string")
    got = {r.k: r.change_type for r in rel.snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "changed"}


def test_snapshot_diff_schema_mismatch_raises(spark):
    from finance_data_pipeline_spark.operators import relational as rel

    old = spark.createDataFrame([(1, "a")], "k long, v string")
    new = spark.createDataFrame([(1, 2.0)], "k long, w double")
    with pytest.raises(ValueError):
        rel.snapshot_diff(old, new, ["k"])


# --- key skew profile -----------------------------------------------------


def test_key_skew_profile_planted_hot_key(spark):
    from finance_data_pipeline_spark.operators import relational as rel

    rows = [(1,)] * 80 + [(2,)] * 15 + [(3,)] * 5
    df = spark.createDataFrame(rows, "k long")
    out = rel.key_skew_profile(df, "k", top=2).collect()
    assert [r.key for r in out] == [1, 2]
    assert out[0].cnt == 80 and abs(out[0].share - 0.8) < 1e-9
    # 3 keys, 100 rows -> avg 33.33; hot key ratio = 80/33.33 = 2.4
    assert abs(out[0].ratio_to_avg - 2.4) < 1e-6


def test_key_skew_profile_share_sums_below_one(spark, docs):
    from finance_data_pipeline_spark.operators import relational as rel

    out = rel.key_skew_profile(docs, "lang", top=10).collect()
    assert abs(sum(r.share for r in out) - 1.0) < 1e-6  # <=10 langs: all keys
    assert all(r.ratio_to_avg > 0 for r in out)


# --- stateful running totals ---------------------------------------------


def test_stateful_running_totals_accumulates_across_batches(spark):
    from finance_data_pipeline_spark.streaming import pipeline as sp

    b1 = spark.createDataFrame(
        [("click", "2024-01-01 00:00:00", 1.5), ("click", "2024-01-01 01:00:00", 2.5),
         ("view", "2024-01-01 02:00:00", 10.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [("click", "2024-01-02 00:00:00", 4.0)],
        "event_type string, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sdf = sp.stage_batches(spark, [b1, b2], "src_")
    rows = sp.drain_to_memory(sp.stateful_running_totals(sdf), "append").collect()
    click = sorted(
        [r for r in rows if r.event_type == "click"], key=lambda r: r.cum_rows
    )
    assert [r.batch_rows for r in click] == [2, 1]
    assert [r.cum_rows for r in click] == [2, 3]
    assert [r.cum_value_micros for r in click] == [4_000_000, 8_000_000]
    view = [r for r in rows if r.event_type == "view"]
    assert len(view) == 1 and view[0].cum_value_micros == 10_000_000


# --- bpe encode -------------------------------------------------------------


def test_bpe_encode_merges_reduce_units(spark, docs):
    from finance_data_pipeline_spark.extensions import text as tx

    out = tx.bpe_encode(docs, n_merges=5).cache()
    rows = out.collect()
    assert rows, "corpus must encode"
    for r in rows:
        # merges only ever reduce symbol counts, floor = n_words
        assert r.n_words <= r.n_units <= r.n_chars
        assert 0 < r.compression <= 1.0
    # 5 merges on a real corpus must compress SOMETHING
    assert any(r.n_units < r.n_chars for r in rows)
    out.unpersist()


def test_bpe_encode_hand_example(spark):
    """On a corpus where 'ab' dominates, the first merge is (a,b) and
    'ababab' (6 chars) encodes to 3 units after merge 1."""
    from finance_data_pipeline_spark.extensions import text as tx

    d = spark.createDataFrame(
        [(1, "ababab ababab ababab"), (2, "ababab xy")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in tx.bpe_encode(d, n_merges=1).collect()}
    assert out[1].n_chars == 18 and out[1].n_units == 9
    assert out[2].n_chars == 8 and out[2].n_units == 5  # (ab)(ab)(ab) + x y


# --- triangle counting ------------------------------------------------------


def test_triangles_counts_known_graph(spark):
    """K4 has 4 triangles: every node participates in C(3,2)=3; a
    pendant node participates in none."""
    from finance_data_pipeline_spark.extensions import graph

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    pairs = spark.createDataFrame(k4, "id_a long, id_b long")
    got = {r.node: r.n_triangles for r in graph.triangles(pairs).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_triangle_free_graph_is_empty(spark):
    from finance_data_pipeline_spark.extensions import graph

    star = [(1, 2), (1, 3), (1, 4), (1, 5)]
    pairs = spark.createDataFrame(star, "id_a long, id_b long")
    assert graph.triangles(pairs).count() == 0


def test_triangles_matches_bruteforce_on_dup_graph(spark, docs):
    from itertools import combinations

    from finance_data_pipeline_spark.extensions import dedup as dd
    from finance_data_pipeline_spark.extensions import graph

    pairs = dd.near_dup_pairs(docs, threshold=0.7).select("id_a", "id_b")
    edges = {(r.id_a, r.id_b) for r in pairs.collect()}
    und = {frozenset(e) for e in edges}
    nodes = {n for e in und for n in e}
    brute = {}
    for x, y, z in combinations(sorted(nodes), 3):
        if (
            frozenset((x, y)) in und
            and frozenset((x, z)) in und
            and frozenset((y, z)) in und
        ):
            for n in (x, y, z):
                brute[n] = brute.get(n, 0) + 1
    got = {r.node: r.n_triangles for r in graph.triangles(pairs).collect()}
    assert got == brute


# --- deterministic HLL ------------------------------------------------------


def test_hll_estimate_within_theoretical_error(spark):
    """p=9 -> sigma ~ 1.04/sqrt(512) ~ 4.6%; assert within 4 sigma on
    three cardinalities, and determinism across layouts."""
    from finance_data_pipeline_spark.quality import hll_distinct

    for n in [50, 500, 5000]:
        df = spark.range(n).select((F.col("id") * 7 + 13).alias("k"))
        r = hll_distinct(df, "k", p=9).first()
        assert r.exact_distinct == n
        assert abs(r.est_distinct - n) / n < 4 * 1.04 / (512 ** 0.5)
        r2 = hll_distinct(df.repartition(17), "k", p=9).first()
        assert r2.est_distinct == r.est_distinct  # layout-independent


def test_hll_duplicates_do_not_move_estimate(spark):
    from finance_data_pipeline_spark.quality import hll_distinct

    base = spark.range(300).select(F.col("id").alias("k"))
    dup = base.union(base).union(base)
    assert (
        hll_distinct(dup, "k").first().est_distinct
        == hll_distinct(base, "k").first().est_distinct
    )


def test_hll_p_bounds(spark):
    from finance_data_pipeline_spark.quality import hll_distinct

    df = spark.range(10)
    with pytest.raises(ValueError):
        hll_distinct(df, "id", p=3)


# --- count-min sketch -------------------------------------------------------


def test_cms_overestimates_never_under(spark, docs):
    from finance_data_pipeline_spark.extensions import text as tx

    out = tx.cms_term_counts(docs, top=20).collect()
    assert len(out) == 20
    for r in out:
        assert r.est_cnt >= r.exact_cnt


def test_cms_wide_sketch_is_exact_on_small_vocab(spark):
    """With vocabulary << width, collisions are absent and the sketch
    returns exact counts."""
    from finance_data_pipeline_spark.extensions import text as tx

    d = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry cherry cherry")],
        "doc_id long, text string",
    )
    got = {r.term: (r.exact_cnt, r.est_cnt) for r in tx.cms_term_counts(d, top=3).collect()}
    assert got == {"apple": (3, 3), "cherry": (3, 3), "banana": (1, 1)}


# --- event analytics additions ---------------------------------------------


def test_event_sequence_match_hand_case(spark, tmp_path):
    from finance_data_pipeline_spark.registry import QUERIES
    import pandas as pd

    rows = [
        # user 1: view -> click -> purchase within 7d  (match)
        (1, 1, "view", "2024-01-01 00:00:00"),
        (2, 1, "click", "2024-01-02 00:00:00"),
        (3, 1, "purchase", "2024-01-03 00:00:00"),
        # user 2: purchase precedes click              (no match)
        (4, 2, "view", "2024-01-01 00:00:00"),
        (5, 2, "purchase", "2024-01-02 00:00:00"),
        (6, 2, "click", "2024-01-03 00:00:00"),
        # user 3: completes too late                   (no match)
        (7, 3, "view", "2024-01-01 00:00:00"),
        (8, 3, "click", "2024-01-02 00:00:00"),
        (9, 3, "purchase", "2024-01-20 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = QUERIES["event_sequence_match"](spark, d).collect()
    assert [r.user_id for r in out] == [1]


def test_ab_ttest_zero_when_groups_identical(spark, tmp_path):
    """If both split halves carry identical value multisets the t-stat
    is ~0; sanity on the real events table: finite and |t| modest."""
    from finance_data_pipeline_spark.registry import QUERIES

    r = QUERIES["ab_value_ttest"](spark, "/root/testdata/sf0.001").first()
    assert r.n_a + r.n_b == 1000
    assert abs(r.t_stat) < 5


def test_quantile_bins_error_bound(spark):
    """Binned estimate within half a bin width of the exact quantile."""
    from finance_data_pipeline_spark.registry import QUERIES

    import math

    sf = "/root/testdata/sf0.001"
    ev = table(spark, sf, "events")
    stats = ev.agg(F.min("value"), F.max("value")).first()
    half_bin = (stats[1] - stats[0]) / 4096 / 2
    vals = sorted(r.value for r in ev.select("value").collect())
    # the estimate brackets the k-th ORDER STATISTIC (percentile_disc),
    # not the interpolated percentile
    exact = {
        q: vals[math.ceil(q * len(vals)) - 1] for q in (0.25, 0.5, 0.75, 0.9, 0.99)
    }
    for r in QUERIES["value_quantile_bins"](spark, sf).collect():
        assert abs(r.est - exact[r.quantile]) <= half_bin + 1e-9


def test_lang_entropy_bounds(spark):
    from finance_data_pipeline_spark.registry import QUERIES
    import math

    docs = table(spark, SF_DIR, "documents")
    n_langs = docs.select("lang").distinct().count()
    for r in QUERIES["source_lang_entropy"](spark, SF_DIR).collect():
        assert 0.0 <= r.lang_entropy <= math.log(n_langs) + 1e-9


def test_zipf_slope_is_negative_and_sane(spark):
    """Frequency is non-increasing in rank, so the fitted slope must be
    ≤ 0 (the synthetic corpus is near-uniform — far from a natural
    −1 — which is exactly what the diagnostic is meant to flag)."""
    from finance_data_pipeline_spark.registry import QUERIES

    r = QUERIES["gram_zipf_fit"](spark, SF_DIR).first()
    assert 1 < r.n_terms <= 100
    assert -3.0 < r.zipf_slope <= 0.0


def test_zipf_slope_on_true_zipf_corpus(spark, tmp_path):
    """A corpus with freq(rank) ∝ rank^-1 fits slope ~ -1."""
    from finance_data_pipeline_spark.registry import QUERIES

    words = []
    for rank in range(1, 51):
        words += [f"w{rank:03d}"] * max(1, round(1000 / rank))
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    r = QUERIES["gram_zipf_fit"](spark, d).first()
    assert abs(r.zipf_slope - (-1.0)) < 0.05


def test_salting_plan_identifies_only_hot_keys(spark):
    from finance_data_pipeline_spark.operators import relational as rel

    rows = [(1,)] * 90 + [(2,)] * 5 + [(3,)] * 5
    df = spark.createDataFrame(rows, "k long")
    out = rel.salting_plan(df, "k", hot_ratio=1.5).collect()
    assert len(out) == 1 and out[0].key == 1
    # 3 keys, 100 rows: ratio 2.7 -> salt 3 shards of ~avg size
    assert out[0].salt_factor == 3


def test_lsh_recall_is_perfect_at_textbook_params(spark, docs):
    from finance_data_pipeline_spark.registry import QUERIES

    r = QUERIES["lsh_recall_report"](spark, SF_DIR).first()
    assert r.n_exact == r.n_lsh and r.recall == 1.0
