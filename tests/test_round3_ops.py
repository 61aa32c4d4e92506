"""Semantic invariants for the round-3 operators (beyond the oracle
parity the mini-driver already enforces): SemDeDup greedy policy,
keep-best dedup policy, positioned n-gram duplication, and scored
contamination — each checked on constructed inputs where the expected
answer is known by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions import dedup, similarity, text
from finance_data_pipeline_spark.io import table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    docs = table(spark, SF_DIR, "documents").cache()
    yield docs
    docs.unpersist()


# --- semantic_dedup -------------------------------------------------------


def test_semantic_dedup_drops_exact_clones_keeps_lowest_id(spark):
    """Two identical vectors in the same bucket → the higher id drops;
    an orthogonal vector survives regardless of bucket."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (10, [1.0, 0.0, 0.0, 0.0]),  # clone of 0 → same bucket, dropped
        (11, [0.0, 0.0, 1.0, 0.0]),  # orthogonal → kept
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = similarity.semantic_dedup(vecs, k_centroids=2, threshold=0.9)
    got = {r.vec_id: r.cluster_id for r in kept.collect()}
    assert 10 not in got
    assert set(got) == {0, 1, 11}
    assert got[0] == 0 and got[1] == 1


def test_semantic_dedup_never_compares_across_buckets(spark):
    """Clones assigned to different buckets both survive (the documented
    SemDeDup approximation): vectors equal to distinct centroids are
    clones of nothing in their own bucket."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (5, [0.8, 0.2]),  # bucket 0; cos(0,5)=0.97 < 0.99
        (6, [0.2, 0.8]),  # bucket 1; cos(5,6)=0.47
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = similarity.semantic_dedup(vecs, k_centroids=2, threshold=0.99)
    assert kept.count() == 4


def test_semantic_dedup_accepts_trained_centroids(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.99])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(100, [0.0, 1.0])], "cid long, vector array<double>"
    )
    kept = similarity.semantic_dedup(vecs, threshold=0.999, centroids=cents)
    got = {r.vec_id: r.cluster_id for r in kept.collect()}
    # All assigned to the single trained centroid; 2 is a near-clone of 1.
    assert got == {0: 100, 1: 100}


# --- dedup_keep_best ------------------------------------------------------


def test_dedup_keep_best_prefers_quality_over_id(spark):
    """Within one near-dup cluster the higher-quality doc wins even
    with the larger id; singletons keep themselves."""
    base = (
        "the quick data row filter join merge sort window batch stream "
        "spark table scan key value group agg part line"
    )
    rows = [
        (1, base + " !!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!"),  # punct-heavy twin
        (2, base),  # clean twin → higher quality, larger id
        (9, "completely unrelated text about nothing shared at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = dedup.dup_clusters(docs, threshold=0.5)
    kept = dedup.dedup_keep_best(docs, clusters=clusters)
    got = {r.doc_id: r.cluster_id for r in kept.collect()}
    assert 2 in got and 1 not in got, got
    assert got[9] == 9
    q = {r.doc_id: r.quality_score for r in text.quality_score(docs).collect()}
    assert q[2] > q[1]


def test_dedup_keep_best_partitions_corpus(spark, docs):
    """Kept set has exactly one representative per cluster plus every
    singleton — total = clusters + singletons."""
    clusters = dedup.dup_clusters(docs, threshold=0.7).cache()
    kept = dedup.dedup_keep_best(docs, clusters=clusters)
    n_clusters = clusters.select("cluster_id").distinct().count()
    n_clustered = clusters.count()
    n_docs = docs.count()
    assert kept.count() == n_docs - n_clustered + n_clusters
    # Every kept clustered doc is a member of the cluster it represents;
    # every kept singleton represents itself.
    reps = kept.join(clusters.select("doc_id").distinct(), "doc_id", "left_semi")
    assert reps.join(clusters, ["doc_id", "cluster_id"], "left_anti").count() == 0
    singles = kept.join(clusters.select("doc_id"), "doc_id", "left_anti")
    assert singles.filter(F.col("doc_id") != F.col("cluster_id")).count() == 0


# --- repeated_ngram_stats -------------------------------------------------


def test_repeated_ngram_stats_counts_positions_with_multiplicity(spark):
    """'a b c d a b c d a b c d' with n=4: 9 windows, the repeated ones
    duplicated; a short doc gets (0, 0, 0.0); a cross-doc repeat of the
    same 4-gram marks both docs."""
    rows = [
        (1, "a b c d " * 3),            # 12 tokens → 9 windows, all dup
        (2, "x y z"),                    # < 4 tokens → no windows
        (3, "p q r s unique tail here"), # 4 windows, 'p q r s' shared w/ 4
        (4, "p q r s other words differ"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.repeated_ngram_stats(docs, n=4).collect()}
    assert out[2].n_grams == 0 and out[2].dup_grams == 0 and out[2].dup_fraction == 0.0
    assert out[1].n_grams == 9
    # every window of doc 1 recurs within the doc (period-4 repetition)
    assert out[1].dup_grams == 9 and out[1].dup_fraction == 1.0
    assert out[3].n_grams == 4 and out[3].dup_grams == 1
    assert out[4].dup_grams == 1
    assert out[3].dup_fraction == 0.25


def test_repeated_ngram_stats_covers_all_docs(spark, docs):
    out = dedup.repeated_ngram_stats(docs, n=8)
    assert out.count() == docs.count()
    assert out.filter("dup_fraction < 0 or dup_fraction > 1").count() == 0


# --- contamination_scores -------------------------------------------------


def test_contamination_scores_bounds_and_consistency(spark, docs):
    """Scores sit in [0,1]; docs the binary decontaminate keeps are
    exactly the docs with overlap_frac = 0 (same shingle machinery)."""
    scores = dedup.contamination_scores(docs).cache()
    assert scores.filter("overlap_frac < 0 or overlap_frac > 1").count() == 0
    zero = {r.doc_id for r in scores.filter("overlap_shingles = 0").collect()}
    kept = {r.doc_id for r in dedup.decontaminate(docs).collect()}
    assert zero == kept
    # covers every training (non-bench) doc
    n_train = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) != "f"
    ).count()
    assert scores.count() == n_train


# --- kmeans_clusters ------------------------------------------------------


def test_kmeans_converges_on_separable_data(spark):
    """Three tight groups around orthogonal axes with k=3 seeds drawn
    one from each group: every vector must land with its group's seed
    after 2 iterations."""
    rows = []
    for g, axis in enumerate([(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]):
        for j in range(4):
            eps = 0.01 * j
            vec = [c + (eps if i == (g + 1) % 3 else 0.0) for i, c in enumerate(axis)]
            rows.append((g + 3 * j, vec))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r.cluster_id for r in
           similarity.kmeans_clusters(vecs, k=3, iters=2).collect()}
    assert len(out) == 12
    for vid, cid in out.items():
        assert cid == vid % 3, (vid, cid, out)


def test_kmeans_total_assignment_on_real_embeddings(spark):
    """On the real embeddings, 2 Lloyd iterations must produce a valid
    total assignment (every vector exactly once, cluster ids from the
    seed set)."""
    emb = table(spark, SF_DIR, "embeddings")
    out = similarity.kmeans_clusters(emb, k=8, iters=2).cache()
    assert out.count() == emb.count()
    assert out.select("vec_id").distinct().count() == emb.count()
    cids = {r.cluster_id for r in out.select("cluster_id").distinct().collect()}
    assert cids <= set(range(8))


# --- token_budget_sample --------------------------------------------------


def test_token_budget_sample_respects_budget_and_order(spark, docs):
    from finance_data_pipeline_spark.extensions import sampling, text as tx

    out = sampling.token_budget_sample(docs, budget_tokens=500).cache()
    assert out.count() > 0
    assert out.filter("cum_tokens > 500").count() == 0
    # kept set = the greedy (quality desc, doc_id) prefix per language:
    # recompute in pandas and compare exactly.
    q = tx.quality_score(docs)
    pdf = (
        docs.select("doc_id", "lang", tx.token_count("text").cast("long").alias("n_tokens"))
        .join(q, "doc_id")
        .toPandas()
        .sort_values(["lang", "quality_score", "doc_id"], ascending=[True, False, True])
    )
    expect = set()
    for lang, grp in pdf.groupby("lang"):
        total = 0
        for r in grp.itertuples():
            total += r.n_tokens
            if total > 500:
                break
            expect.add(r.doc_id)
    assert {r.doc_id for r in out.collect()} == expect


def test_kmeans_matches_pure_python_replay(spark):
    """Independent algorithm check (different k/iters than the registry
    oracle): replay Lloyd's with the identical deterministic rules —
    sequential-fold cosine rounded to 6 dp, argmax ties to lowest cid,
    fixed-point centroid means — in plain Python and require the exact
    same final assignment."""
    import math
    import random

    rng = random.Random(7)
    vecs = {
        vid: [rng.uniform(-1, 1) for _ in range(8)] for vid in range(60)
    }
    k, iters, scale = 4, 3, 1_000_000

    def fold_cos(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        return num / (math.sqrt(na) * math.sqrt(nb))

    def r6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6 if v >= 0 else -math.floor(-v * 1e6 + 0.5) / 1e6

    def half_up(x):
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

    def assign(cents):
        out = {}
        for vid, e in vecs.items():
            best = max(cents, key=lambda c: (r6(fold_cos(e, cents[c])), -c))
            out[vid] = best
        return out

    cents = {cid: vecs[cid] for cid in range(k)}
    for _ in range(iters):
        a = assign(cents)
        new = {}
        for cid in set(a.values()):
            members = [vecs[v] for v in a if a[v] == cid]
            dim = len(members[0])
            new[cid] = [
                sum(half_up(m[i] * scale) for m in members) / (float(scale) * len(members))
                for i in range(dim)
            ]
        cents = new
    expect = assign(cents)

    df = spark.createDataFrame(
        [(vid, e) for vid, e in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.vec_id: r.cluster_id
        for r in similarity.kmeans_clusters(df, k=k, iters=iters).collect()
    }
    assert got == expect


# --- unigram_logprob ------------------------------------------------------


def test_unigram_logprob_ranks_common_above_rare(spark):
    """A doc of corpus-frequent tokens must outscore a doc of hapaxes;
    token counts come out right and scores are negative."""
    rows = [
        (1, "alpha alpha alpha alpha"),
        (2, "alpha alpha beta beta"),
        (3, "zeta omega theta sigma"),  # four hapaxes
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.unigram_logprob(docs).collect()}
    assert all(out[d].n_tokens == 4 for d in (1, 2, 3))
    assert out[1].avg_logprob > out[2].avg_logprob > out[3].avg_logprob
    assert out[3].avg_logprob < 0
    # hand-check doc 1: p(alpha) = 6/12 → mean log p = ln(0.5)
    import math
    assert out[1].avg_logprob == pytest.approx(math.log(0.5), abs=1e-5)


# --- remove_duplicate_spans -----------------------------------------------


def test_remove_dup_spans_keeps_canonical_copy_only(spark):
    """Doc 1 and doc 2 share an 8-token span: doc 1 (lower occ key)
    keeps it, doc 2 loses exactly those 8 tokens; an untouched doc
    passes through with its md5 intact."""
    import hashlib

    span = "one two three four five six seven eight"
    rows = [
        (1, span + " tail1 tail2 tail3"),
        (2, "lead1 lead2 " + span),
        (3, "totally different words with no shared span here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.remove_duplicate_spans(docs, n=8).collect()}

    assert out[1].n_removed == 0
    assert out[1].cleaned_md5 == hashlib.md5(rows[0][1].encode()).hexdigest()
    # doc 2: only the window starting at the span start is duplicated →
    # 8 tokens removed, the two lead tokens survive
    assert out[2].n_tokens == 10 and out[2].n_removed == 8
    assert out[2].cleaned_md5 == hashlib.md5(b"lead1 lead2").hexdigest()
    assert out[3].n_removed == 0
    assert out[3].cleaned_md5 == hashlib.md5(rows[2][1].encode()).hexdigest()


def test_remove_dup_spans_fully_removed_doc(spark):
    """An exact duplicate of an 8-token doc is removed entirely →
    md5('') and n_removed = n_tokens."""
    import hashlib

    t = "a1 a2 a3 a4 a5 a6 a7 a8"
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in dedup.remove_duplicate_spans(docs, n=8).collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 8 and out[2].n_tokens == 8
    assert out[2].cleaned_md5 == hashlib.md5(b"").hexdigest()


# --- line_dedup -----------------------------------------------------------


def test_line_dedup_removes_cross_doc_boilerplate_everywhere(spark):
    """A 10-token banner shared by two docs disappears from BOTH; the
    unique remainder survives with order preserved."""
    banner = " ".join(f"b{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"c{i}" for i in range(10))
    rows = [
        (1, f"{banner} {uniq_a}"),
        (2, f"{banner} {uniq_b}"),
        (3, uniq_a.upper()),  # normalizes to uniq_a → dupes doc 1's tail
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(docs).collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1].n_segments == 2 and out[1].n_removed == 2
    assert out[1].cleaned_md5 == md5("")
    assert out[2].n_segments == 2 and out[2].n_removed == 1
    assert out[2].cleaned_md5 == md5(uniq_b)
    assert out[3].n_removed == 1 and out[3].cleaned_md5 == md5("")


def test_line_dedup_unique_doc_is_untouched(spark):
    """A doc sharing no segment with any other rebuilds to its own
    normalized text."""
    rows = [(1, "alpha beta gamma delta"), (2, "zeta eta theta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(docs).collect()}
    import hashlib

    assert out[1].n_removed == 0
    assert out[1].cleaned_md5 == hashlib.md5(b"alpha beta gamma delta").hexdigest()


def test_line_dedup_invariants_on_corpus(spark, docs):
    """0 <= n_removed <= n_segments on every real doc; untouched docs
    rebuild to their normalized text's md5."""
    out = dedup.line_dedup(docs).collect()
    assert len(out) == docs.count()
    assert all(0 <= r.n_removed <= r.n_segments for r in out)
    clean = {r.doc_id: r.cleaned_md5 for r in out if r.n_removed == 0}
    norm = {
        r.doc_id: r.h
        for r in docs.select(
            "doc_id", F.md5(F.array_join(dedup.tokens("text"), " ")).alias("h")
        ).collect()
        if r.doc_id in clean
    }
    assert clean == norm


# --- bloom_decontaminate --------------------------------------------------


def test_bloom_has_no_false_negatives_and_matches_exact_path(spark, docs):
    """bloom_hit >= exact_hit row-wise (a Bloom filter can only err
    toward flagging), and the exact_hit column reproduces
    dedup.decontaminate's survivor set."""
    out = dedup.bloom_decontaminate(docs).collect()
    assert all(r.bloom_hit >= r.exact_hit for r in out)
    survivors_exact = {r.doc_id for r in dedup.decontaminate(docs).collect()}
    assert {r.doc_id for r in out if r.exact_hit == 0} == survivors_exact


def test_bloom_flags_planted_contamination(spark):
    """A training doc sharing a 3-gram with the bench slice is flagged
    by both paths; a disjoint-vocabulary doc is flagged by neither
    (vocabularies chosen so no hash coincidence matters: exact_hit is
    semantics, bloom_hit false-positive odds here ~(3*3/129024)^3)."""
    # doc_id 4 hashes to bench nibble 'f'? Find ids deterministically.
    import hashlib

    bench_id = next(
        i for i in range(1000) if hashlib.md5(str(i).encode()).hexdigest()[0] == "f"
    )
    train_ids = [
        i for i in range(1000) if hashlib.md5(str(i).encode()).hexdigest()[0] != "f"
    ][:2]
    rows = [
        (bench_id, "secret leak phrase plus padding words"),
        (train_ids[0], "contains the secret leak phrase too"),
        (train_ids[1], "totally unrelated clean content here"),
    ]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.bloom_decontaminate(docs2).collect()}
    assert out[train_ids[0]].exact_hit == 1 and out[train_ids[0]].bloom_hit == 1
    assert out[train_ids[1]].exact_hit == 0 and out[train_ids[1]].bloom_hit == 0


@pytest.mark.parametrize("n_words", [1, 2])
def test_bloom_false_positives_replay_md5_slices(spark, n_words):
    """With a 63- or 126-bit filter, false positives are common. Each
    doc's bloom_hit must equal a pure-Python replay of the filter: the
    three 10-hex-digit md5 slices of a shingle, mod m, must all be
    positions set by some bench shingle."""
    import hashlib
    import random

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def shingles(text):
        tk = text.split(" ")
        return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}

    m = 63 * n_words
    bench_ids = [i for i in range(10_000) if md5(str(i))[0] == "f"][:2]
    train_ids = [i for i in range(10_000) if md5(str(i))[0] != "f"][:60]
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    bench = [(i, " ".join(rng.sample(vocab, 12 * n_words))) for i in bench_ids]
    train = [(i, " ".join(rng.choice(vocab) for _ in range(4))) for i in train_ids]
    docs2 = spark.createDataFrame(bench + train, "doc_id long, text string")

    def positions(sh):
        d = md5(sh)
        return {int(d[10 * j : 10 * j + 10], 16) % m for j in range(3)}

    bench_sh = set().union(*(shingles(t) for _, t in bench))
    bits = set().union(*(positions(sh) for sh in bench_sh))
    want = {
        i: (
            int(any(positions(sh) <= bits for sh in shingles(t))),
            int(bool(shingles(t) & bench_sh)),
        )
        for i, t in train
    }
    out = dedup.bloom_decontaminate(docs2, n_words=n_words).collect()
    got = {r.doc_id: (r.bloom_hit, r.exact_hit) for r in out}
    assert got == want
    # The case is only meaningful with false positives AND misses.
    assert any(b > e for b, e in want.values())
    assert any(b == 0 for b, _ in want.values())


def test_bloom_probe_rejects_bitmap_past_exact_float_division(spark):
    """The probe side's floor(pos / 63) is exact only below 2^53, so a
    bitmap wider than 2^52 bits must raise — a ValueError, which unlike
    an assert survives ``python -O``."""
    dedup._bloom_wb(F.lit("a b c"), 1 << 52)
    with pytest.raises(ValueError, match="exact float-div range"):
        dedup._bloom_wb(F.lit("a b c"), (1 << 52) + 1)


# --- label_outliers -------------------------------------------------------


def test_label_outliers_flags_the_planted_outlier(spark):
    """Three near-identical vectors plus one anti-aligned vector in a
    label: the anti-aligned one ranks first (furthest from centroid)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),
        (1, [0.9, 0.1, 0.0, 0.0], 7),
        (2, [1.0, 0.1, 0.0, 0.0], 7),
        (3, [-1.0, 0.0, 0.0, 0.0], 7),  # planted outlier
        (4, [0.0, 1.0, 0.0, 0.0], 8),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.label_outliers(vecs, per_label=2)
    by_label = {}
    for r in out.collect():
        by_label.setdefault(r.label, []).append((r.outlier_rank, r.vec_id))
    assert sorted(by_label[7])[0] == (1, 3)
    assert by_label[8] == [(1, 4)]  # singleton label: its own centroid


def test_label_outliers_rank_bounds_on_real_embeddings(spark):
    """Each label emits min(per_label, label size) rows with ranks
    1..n and cosines within [-1, 1]."""
    from finance_data_pipeline_spark.io import table as _t

    vecs = _t(spark, SF_DIR, "embeddings")
    out = similarity.label_outliers(vecs, per_label=5).collect()
    sizes = {r.label: r.n for r in vecs.groupBy("label").count().withColumnRenamed("count", "n").collect()}
    per = {}
    for r in out:
        per.setdefault(r.label, []).append(r.outlier_rank)
        assert -1.000001 <= r.cos_centroid <= 1.000001
    for lbl, ranks in per.items():
        assert sorted(ranks) == list(range(1, min(5, sizes[lbl]) + 1))


# --- profile_columns ------------------------------------------------------


def test_profile_columns_counts_nulls_distincts_and_extremes(spark):
    from finance_data_pipeline_spark import quality

    rows = [(1, None, 10.5), (2, "b", 2.25), (3, "b", None), (4, "a", 99.0)]
    df = spark.createDataFrame(rows, "id long, cat string, price double")
    out = {
        r.column_name: r
        for r in quality.profile_columns(
            df, [("id", "raw"), ("cat", "raw"), ("price", "money")]
        ).collect()
    }
    assert out["id"].n_rows == 4 and out["id"].n_nulls == 0
    assert out["id"].n_distinct == 4 and out["id"].min_value == "1"
    assert out["cat"].n_nulls == 1 and out["cat"].n_distinct == 2
    assert out["cat"].min_value == "a" and out["cat"].max_value == "b"
    assert out["price"].n_nulls == 1 and out["price"].min_value == "2.25"
    assert out["price"].max_value == "99.00"  # decimal(18,2) formatting


def test_profile_columns_approx_path_runs_without_expand(spark):
    """exact=False swaps countDistinct for HLL: same schema, distinct
    counts within the sketch's tolerance, and no Expand in the plan."""
    from finance_data_pipeline_spark import quality
    from finance_data_pipeline_spark.io import table as _t

    orders = _t(spark, SF_DIR, "orders")
    cols = [("o_orderkey", "raw"), ("o_orderstatus", "raw")]
    approx = quality.profile_columns(orders, cols, exact=False)
    assert "Expand" not in approx._jdf.queryExecution().executedPlan().toString()
    got = {r.column_name: r.n_distinct for r in approx.collect()}
    exact = {
        r.column_name: r.n_distinct
        for r in quality.profile_columns(orders, cols).collect()
    }
    for c in got:
        assert abs(got[c] - exact[c]) <= max(2, 0.1 * exact[c])


# --- product quantization -------------------------------------------------


def test_pq_codes_cover_corpus_with_bounded_codewords(spark):
    from finance_data_pipeline_spark.io import table as _t

    vecs = _t(spark, SF_DIR, "embeddings")
    books = similarity.pq_codebooks(vecs)
    codes = similarity.pq_encode(vecs, books).collect()
    assert len(codes) == vecs.count()
    for r in codes:
        assert len(r.codes) == 8
        assert all(0 <= c < 16 for c in r.codes)
    # codebooks: 8 blocks × ≤16 codewords × 8-dim sub-vectors
    b = books.collect()
    assert {r._b for r in b} == set(range(8))
    assert all(len(r._ce) == 8 for r in b)


def test_pq_bounded_training_sample(spark):
    """train_n — the 100 TB deployment form (bounded-sample Lloyd,
    mirroring ivf_topk's trainer): a bound >= the corpus must be
    output-IDENTICAL to the full-corpus default, and a real bound must
    still emit well-formed codebooks/top-k (trained on the train_n
    lowest ids only)."""
    from finance_data_pipeline_spark.io import table as _t

    vecs = _t(spark, SF_DIR, "embeddings")
    n = vecs.count()

    full = {(r._b, r._cid): r._ce for r in similarity.pq_codebooks(vecs).collect()}
    wide = {
        (r._b, r._cid): r._ce
        for r in similarity.pq_codebooks(vecs, train_n=n + 1).collect()
    }
    assert wide == full  # bound beyond the corpus is the identity

    books = similarity.pq_codebooks(vecs, train_n=64)
    b = books.collect()
    assert {r._b for r in b} == set(range(8))
    assert all(len(r._ce) == 8 for r in b)
    out = similarity.ann_topk_pq(
        vecs, vecs.filter(F.col("vec_id") < 3), k=5, train_n=64
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert set(per_q) == {0, 1, 2}
    assert all(len(v) == 5 for v in per_q.values())


def test_kmeans_bounded_training_sample(spark):
    """kmeans_centroids' train_n mirrors pq_codebooks': a bound >= the
    corpus is the identity; a real bound still assigns the FULL corpus
    (only training is sampled)."""
    from finance_data_pipeline_spark.io import table as _t

    vecs = _t(spark, SF_DIR, "embeddings")
    n = vecs.count()
    full = {r._cid: r._ce for r in similarity.kmeans_centroids(vecs).collect()}
    wide = {
        r._cid: r._ce
        for r in similarity.kmeans_centroids(vecs, train_n=n + 1).collect()
    }
    assert wide == full
    assigned = similarity.kmeans_clusters(vecs, train_n=32).collect()
    assert len(assigned) == n  # assignment sweeps the whole corpus
    assert all(0 <= r.cluster_id < 8 for r in assigned)


def test_train_n_fails_fast_on_sparse_or_offset_ids(spark):
    """The train_n bound is the id-value predicate `id < train_n`,
    which selects train_n vectors only for dense 0-based ids; on an
    offset id space it can select zero, and an empty training set used
    to silently yield empty codebooks and an empty top-k (ADVICE r6).
    Now it raises with the assumption in the message."""
    import pytest as _pt

    rows = [
        (1000 + i, [float((i * 7 + j) % 5) for j in range(16)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pt.raises(ValueError, match="dense 0-based ids"):
        similarity.kmeans_centroids(vecs, k=8, train_n=32)
    with _pt.raises(ValueError, match="dense 0-based ids"):
        similarity.pq_codebooks(vecs, n_blocks=2, sub_dim=8, train_n=32)


def test_pq_codebooks_rejects_k_past_adc_packing_stride(spark):
    """ann_topk_pq packs (block, code) as block·256 + code, so the k
    actually passed to pq_codebooks (not its default) must be ≤ 256 —
    checked with a ValueError that survives ``python -O``."""
    vecs = spark.createDataFrame(
        [(i, [float(i % 3 + 1)] * 16) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="exceeds 256"):
        similarity.pq_codebooks(vecs, n_blocks=2, sub_dim=8, k=257)


def test_pq_adc_score_is_the_quantized_inner_product(spark):
    """adc_score(q, v) must equal the sum over blocks of the (6 dp
    rounded) dot of q's sub-vector with v's ASSIGNED codeword — i.e.
    the inner product against the quantized reconstruction, which is
    what ADC promises."""
    from decimal import Decimal

    from finance_data_pipeline_spark.io import table as _t

    vecs = _t(spark, SF_DIR, "embeddings")
    books = similarity.pq_codebooks(vecs)
    codes = {r.vec_id: r.codes for r in similarity.pq_encode(vecs, books).collect()}
    ce = {(r._b, r._cid): r._ce for r in books.collect()}
    emb = {r.vec_id: [float(x) for x in r.embedding] for r in vecs.collect()}
    out = similarity.ann_topk_pq(vecs, vecs.filter(F.col("vec_id") < 5)).collect()
    assert out, "PQ top-k returned nothing"
    for r in out[:5]:
        q = emb[r.query_id]
        expect = sum(
            Decimal(
                str(
                    round(
                        sum(
                            q[b * 8 + i] * ce[(b, codes[r.neighbor_id][b])][i]
                            for i in range(8)
                        ),
                        6,
                    )
                )
            )
            for b in range(8)
        )
        assert abs(float(expect) - r.adc_score) < 1e-9, (r, float(expect))


# --- pagerank -------------------------------------------------------------


def test_pagerank_ranks_the_star_hub_first(spark):
    """Symmetric star: the hub (node 0) out-ranks every leaf, leaves
    tie exactly (integer arithmetic ⇒ bit-equal ranks)."""
    from finance_data_pipeline_spark.extensions import graph

    leaves = list(range(1, 6))
    rows = [(0, l) for l in leaves] + [(l, 0) for l in leaves]
    edges = spark.createDataFrame(rows, "src long, dst long")
    pr = {r.node: r.rank_scaled for r in graph.pagerank(edges).collect()}
    assert pr[0] > max(pr[l] for l in leaves)
    assert len({pr[l] for l in leaves}) == 1


def test_pagerank_mass_bounds(spark):
    """Every node keeps at least the teleport mass; floor divisions only
    ever LOSE mass, so the total never exceeds the scale."""
    from finance_data_pipeline_spark.extensions import graph

    rows = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 3)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    out = graph.pagerank(edges).collect()
    scale, n = 1_000_000_000, len(out)
    teleport = ((100 - 85) * scale // 100) // n
    assert all(r.rank_scaled >= teleport for r in out)
    assert sum(r.rank_scaled for r in out) <= scale


def test_pagerank_broadcast_gate_open_and_closed(spark, monkeypatch):
    """Both sides of the vertex-vector broadcast gate for every kernel
    whose rounds join through graph._vector_join — pagerank,
    personalized_pagerank, label_propagation and connected_components:
    under the session default every such join broadcasts its vector,
    with spark.sql.autoBroadcastJoinThreshold=-1 none does and the
    rounds run the planner's shuffle join — and both sides return the
    same rows."""
    from finance_data_pipeline_spark import plans
    from finance_data_pipeline_spark.extensions import graph

    # Node 5 is a sink (no out-edge).
    rows = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 3), (4, 5)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    # Two triangles bridged by 3-4, and a disjoint pair.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (7, 8)],
        "id_a long, id_b long",
    )
    # The broadcasts the returned frame's plan holds with the gate open:
    # per pagerank round the (src, q) vector and the at most N sums, per
    # label-propagation round the label vector. connected_components
    # returns a localCheckpoint()ed frame, whose plan holds none.
    kernels = {
        "pagerank": (lambda: graph.pagerank(edges), 10),
        "personalized_pagerank": (
            lambda: graph.personalized_pagerank(edges, seeds),
            10,
        ),
        "label_propagation": (lambda: graph.label_propagation(pairs, rounds=3), 3),
        "connected_components": (lambda: graph.connected_components(pairs), 0),
    }
    joins = []
    vector_join = graph._vector_join

    def spy(*args, **kwargs):
        out = vector_join(*args, **kwargs)
        joins.append("BroadcastExchange" in plans.physical_plan(out))
        return out

    monkeypatch.setattr(graph, "_vector_join", spy)

    def run(build):
        joins.clear()
        # Count on the built frame: once it has run, the adaptive plan
        # repeats query-stage subtrees.
        df = build()
        return list(joins), plans.broadcast_count(df), sorted(df.collect())

    key = "spark.sql.autoBroadcastJoinThreshold"
    opened = {name: run(build) for name, (build, _) in kernels.items()}
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        closed = {name: run(build) for name, (build, _) in kernels.items()}
    finally:
        spark.conf.set(key, old)
    for name, (_, want_open) in kernels.items():
        assert opened[name][0] and all(opened[name][0]), name
        assert closed[name][0] and not any(closed[name][0]), name
        assert opened[name][1] == want_open, name
        assert closed[name][1] == 0, name
        assert opened[name][2] == closed[name][2], name


# --- weighted sampling / feature hashing ----------------------------------


def test_weighted_hash_sample_respects_weight_extremes(spark, docs):
    """weight=1 keeps everything, weight=0 keeps nothing, and a
    fractional weight keeps a deterministic in-between subset."""
    from finance_data_pipeline_spark.extensions import sampling

    n = docs.count()
    assert sampling.weighted_hash_sample(docs, F.lit(1.0)).count() == n
    assert sampling.weighted_hash_sample(docs, F.lit(0.0)).count() == 0
    half1 = {r.doc_id for r in sampling.weighted_hash_sample(docs, F.lit(0.5)).collect()}
    half2 = {r.doc_id for r in sampling.weighted_hash_sample(docs, F.lit(0.5)).collect()}
    assert half1 == half2  # deterministic
    assert 0.3 * n < len(half1) < 0.7 * n


def test_weighted_hash_sample_monotone_in_weight(spark, docs):
    """A row kept at weight w is kept at every w' > w (threshold
    monotonicity — the property that makes weighted samples nest)."""
    from finance_data_pipeline_spark.extensions import sampling

    s30 = {r.doc_id for r in sampling.weighted_hash_sample(docs, F.lit(0.3)).collect()}
    s60 = {r.doc_id for r in sampling.weighted_hash_sample(docs, F.lit(0.6)).collect()}
    assert s30 <= s60


def test_hashed_tf_sparse_counts(spark):
    """Unsigned TF sums to the token count; buckets stay in range; the
    signed variant matches the unsigned on magnitude-sum parity."""
    rows = [(1, "a b a c"), (2, "d d d")]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    unsigned = text.hashed_tf(docs2, signed=False).collect()
    per_doc = {}
    for r in unsigned:
        assert 0 <= r.bucket < 64
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tf
    assert per_doc == {1: 4, 2: 3}
    signed = text.hashed_tf(docs2).collect()
    # same tokens land in the same buckets; sign only flips contributions
    assert {(r.doc_id, r.bucket) for r in signed} == {
        (r.doc_id, r.bucket) for r in unsigned
    }


# --- bpe_train ------------------------------------------------------------


def test_bpe_train_learns_the_planted_pair_and_greedy_nonoverlap(spark):
    """'ab' dominates → merge 1 = (a,b) with weight = occurrences; the
    'aaa' word merges greedily left-to-right ((a,a) then (aa,a))."""
    rows = [(1, "abab abab cd"), (2, "abab xy cd")]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.bpe_train(docs2, n_merges=2).collect()
    r1 = out[0]
    # 'abab' freq 3 → pair (a,b) appears 2× per word = 6; beats (b,a)=3
    assert (r1.merge_rank, r1.left_sym, r1.right_sym, r1.pair_weight) == (1, "a", "b", 6)
    r2 = out[1]
    assert (r2.left_sym, r2.right_sym) == ("ab", "ab")  # second merge joins the halves


def test_bpe_train_runs_of_equal_symbols_merge_nonoverlapping(spark):
    docs2 = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    out = text.bpe_train(docs2, n_merges=1).collect()
    # 'aaa' freq 2 → pairs (a,a) at positions 1-2 and 2-3 → weight 4,
    # but the merge rewrite must produce (aa)(a), not (aa)(aa).
    assert (out[0].left_sym, out[0].right_sym, out[0].pair_weight) == ("a", "a", 4)


def test_bpe_train_deep_merges_cross_checkpoint_boundary(spark):
    """n_merges=25 crosses the every-20-merges lineage checkpoint
    (text._bpe_learn) — the registry's n_merges=5 never exercises that
    path. Verified against a pure-python replay so the checkpoint is
    proven output-transparent."""
    from collections import Counter

    rows = [(1, "abcdefghijklmnopqrstuvwxyz zyx zyx")]
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_weight)
        for r in text.bpe_train(docs2, n_merges=25).collect()
    ]

    vocab = Counter()
    for _, t in rows:
        for w in t.split():
            vocab[w] += 1
    syms = {w: list(w) for w in vocab}
    want = []
    for rank in range(1, 26):
        counts = Counter()
        for w, f in vocab.items():
            s = syms[w]
            for j in range(len(s) - 1):
                counts[(s[j], s[j + 1])] += f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, a, b, cnt))
        for w in syms:
            s, out, j = syms[w], [], 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == a and s[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[w] = out
    assert got == want


def test_pagerank_empty_edges_and_profile_empty_cols(spark):
    from finance_data_pipeline_spark import quality
    from finance_data_pipeline_spark.extensions import graph

    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(empty).count() == 0
    with pytest.raises(ValueError):
        quality.profile_columns(spark.range(1), [])


def test_label_outliers_ignores_zero_vectors(spark):
    """A zero embedding can't produce a NULL-ranked row; it is excluded
    and the remaining members rank normally."""
    rows = [
        (0, [1.0, 0.0], 7),
        (1, [0.9, 0.1], 7),
        (2, [0.0, 0.0], 7),  # zero-norm: excluded, not rank 1
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.label_outliers(vecs, per_label=3).collect()
    assert {r.vec_id for r in out} == {0, 1}
    assert all(r.cos_centroid is not None for r in out)


def test_profile_columns_quotes_awkward_names(spark):
    from finance_data_pipeline_spark import quality

    df = spark.range(3).selectExpr("id AS `order key`")
    out = quality.profile_columns(df, [("order key", "raw")]).collect()
    assert out[0].column_name == "order key" and out[0].n_distinct == 3
