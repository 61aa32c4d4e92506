"""Similarity-search invariants: the blocked-GEMM scale path must agree
with the exact HOF formulation; LSH candidates must be a subset-recall
approximation of brute force with high overlap on this data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions import similarity
from finance_data_pipeline_spark.io import table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def vectors(spark):
    vectors = table(spark, SF_DIR, "embeddings").cache()
    yield vectors
    vectors.unpersist()


def test_blocked_gemm_matches_exact_pairs(spark, vectors):
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in similarity.cosine_dup_pairs(vectors, threshold=0.45).collect()
    }
    blocked = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in similarity.cosine_dup_pairs_blocked(vectors, threshold=0.45).collect()
    }
    assert set(exact) == set(blocked)
    for k in exact:
        assert blocked[k] == pytest.approx(exact[k], abs=2e-6)


def test_blocked_gemm_no_duplicate_or_self_pairs(spark, vectors):
    out = similarity.cosine_dup_pairs_blocked(vectors, threshold=0.3)
    assert out.filter(F.col("id_a") >= F.col("id_b")).count() == 0
    assert out.groupBy("id_a", "id_b").count().filter("count > 1").count() == 0


def test_lsh_results_are_true_cosines_from_brute_force(spark, vectors):
    """Every LSH hit must carry the exact cosine the brute-force path
    computes for that (query, neighbor) pair (LSH prunes; never rescores
    differently)."""
    queries = vectors.filter(F.col("vec_id") < 3)
    bf = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in similarity.brute_force_topk(vectors, queries, k=50).collect()
    }
    lsh = similarity.hyperplane_lsh_topk(vectors, queries, k=10).collect()
    assert len(lsh) > 0
    hits = sum((r.query_id, r.neighbor_id) in bf for r in lsh)
    for r in lsh:
        if (r.query_id, r.neighbor_id) in bf:
            assert bf[(r.query_id, r.neighbor_id)] == pytest.approx(r.cosine_sim, abs=1e-9)
    # Recall proxy: most LSH top-10 should appear in brute-force top-50.
    assert hits / len(lsh) >= 0.5


def test_ivf_recall_and_exact_rescore(spark, vectors):
    """IVF top-10 against brute-force top-10: the probed-cell re-rank
    must carry exact cosines, and recall@10 should be high on this
    clustered synthetic data."""
    queries = vectors.filter(F.col("vec_id") < 3)
    bf = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in similarity.brute_force_topk(vectors, queries, k=10).collect()
    }
    ivf = similarity.ivf_topk(vectors, queries, k=10).collect()
    assert len(ivf) > 0
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf:
            assert bf[(r.query_id, r.neighbor_id)] == pytest.approx(r.cosine_sim, abs=1e-9)
    hits = sum((r.query_id, r.neighbor_id) in bf for r in ivf)
    assert hits / len(bf) >= 0.6


def test_ivf_full_probe_is_exact(spark, vectors):
    """n_probe = n_cells degrades gracefully to exact brute force."""
    queries = vectors.filter(F.col("vec_id") < 2)
    bf = similarity.brute_force_topk(vectors, queries, k=5).collect()
    ivf = similarity.ivf_topk(vectors, queries, k=5, n_cells=8, n_probe=8).collect()
    assert {(r.query_id, r.neighbor_id, r.cosine_sim) for r in ivf} == {
        (r.query_id, r.neighbor_id, r.cosine_sim) for r in bf
    }


def _string_sim_corpus(spark, n_vocab: int, n_docs: int = 30):
    """Deterministic corpus with `n_vocab` distinct tokens and a
    near-duplicate (one token swapped) for every third doc."""
    words = [f"w{i:04d}" for i in range(n_vocab)]
    rows = []
    for d in range(n_docs):
        base = [words[(d * 7 + j) % n_vocab] for j in range(12)]
        rows.append((d, " ".join(base)))
        if d % 3 == 0:  # near-duplicate: one token swapped
            rows.append((100 + d, " ".join(base[:-1] + [words[(d + 53) % n_vocab]])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _string_sim_vs_bruteforce(docs, threshold=0.7):
    from finance_data_pipeline_spark.extensions import dedup

    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.string_sim_join(docs, threshold=threshold).collect()
    }
    truth = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.shingle_pairs_jaccard(docs, k=1)
        .filter(f"jaccard >= {threshold}")
        .collect()
    }
    assert out.keys() == truth.keys()
    for k in truth:
        assert out[k] == pytest.approx(truth[k], abs=1e-12)
    return out


def test_string_sim_join_multiword_mask_matches_bruteforce(spark):
    """120 distinct tokens — above one 64-bit word, below _MASK_VOCAB_CAP
    — pins the MULTI-WORD bitmask assembly (bit→word grouping, zero-fill,
    popcount sum across words) against brute-force exact Jaccard."""
    from finance_data_pipeline_spark.extensions import dedup

    assert 64 < 120 <= dedup._MASK_VOCAB_CAP  # corpus rides the mask path
    _string_sim_vs_bruteforce(_string_sim_corpus(spark, 120))


def test_string_sim_join_prefix_path_matches_bruteforce(spark):
    """>_MASK_VOCAB_CAP distinct tokens forces the general prefix-filter
    + array-intersect branch (ADVICE r7: the cap raise to 1024 left this
    path without forced unit coverage); check it against brute force."""
    from finance_data_pipeline_spark.extensions import dedup

    n_vocab = dedup._MASK_VOCAB_CAP + 76  # 1100 with the current cap
    # 12 tokens/doc over an 1100-word rotating window: every token is
    # rare, which is exactly the regime the prefix filter prunes on.
    _string_sim_vs_bruteforce(_string_sim_corpus(spark, n_vocab, n_docs=40))


def test_string_sim_join_dispatch_invariant_under_caps(spark, monkeypatch):
    """The three dispatches (bitmask; vocab-cap fall-through to prefix;
    sets-cap fall-through to prefix) must agree pair-for-pair on one
    corpus — the dispatch is a performance choice, never a semantic one.
    The sets-cap case also covers the early fall-through that skips the
    mask build entirely (ADVICE r7 restructure)."""
    from finance_data_pipeline_spark.extensions import dedup

    docs = _string_sim_corpus(spark, 120)
    orig_vocab_cap = dedup._MASK_VOCAB_CAP  # ADVICE r8: not a literal,
    via_mask = _string_sim_vs_bruteforce(docs)  # so a cap change can't
    monkeypatch.setattr(dedup, "_MASK_VOCAB_CAP", 0)  # stale this leg
    via_prefix = _string_sim_vs_bruteforce(docs)
    monkeypatch.setattr(dedup, "_MASK_VOCAB_CAP", orig_vocab_cap)
    monkeypatch.setattr(dedup, "_MASK_SETS_CAP", 1)
    via_sets_fallthrough = _string_sim_vs_bruteforce(docs)
    assert via_mask == via_prefix == via_sets_fallthrough


def test_string_sim_join_vocab_hint_never_changes_results(spark):
    """VERDICT r8 item 7: vocab_size_hint is a planning hint only. A
    WRONG above-cap hint on a mask-eligible corpus forces the prefix
    path — results must still match the counted dispatch exactly; a
    below-cap hint must be ignored (exact count still taken)."""
    from finance_data_pipeline_spark.extensions import dedup

    docs = _string_sim_corpus(spark, 120)
    counted = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.string_sim_join(docs, threshold=0.5).collect()
    }
    hinted_wrong = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.string_sim_join(
            docs, threshold=0.5, vocab_size_hint=10**6
        ).collect()
    }
    hinted_low = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.string_sim_join(
            docs, threshold=0.5, vocab_size_hint=1
        ).collect()
    }
    assert counted == hinted_wrong == hinted_low
    assert len(counted) > 0


def test_connected_components_chain_cliques_and_isolated_pair(spark):
    """Min-label propagation: a 4-node chain (diameter forces multiple
    rounds), a triangle clique, and a disjoint 2-node component must
    each collapse to their min-id label."""
    from finance_data_pipeline_spark.extensions.graph import connected_components

    pairs = spark.createDataFrame(
        # chain 10-11-12-13; triangle 20-21-22; pair 30-31
        [(10, 11), (11, 12), (12, 13), (20, 21), (21, 22), (20, 22), (30, 31)],
        "id_a long, id_b long",
    )
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    want = {(10, 10), (11, 10), (12, 10), (13, 10),
            (20, 20), (21, 20), (22, 20), (30, 30), (31, 30)}
    assert got == want


def test_connected_components_long_chain_converges(spark):
    """A 12-node path needs ~diameter rounds; the label of the far end
    must still reach the min id within the iteration cap."""
    from finance_data_pipeline_spark.extensions.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_a long, id_b long"
    )
    out = connected_components(pairs).collect()
    assert {r.cluster_id for r in out} == {100}
    assert len(out) == 13


def _path_pairs(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )


def test_connected_components_raises_when_max_iter_runs_out(spark):
    """An 8-node path needs more than 2 propagation rounds: stopping
    there would leave node 7 outside cluster 0, so it must raise."""
    from finance_data_pipeline_spark.extensions.graph import connected_components

    with pytest.raises(ValueError, match="max_iter=2"):
        connected_components(_path_pairs(spark, 8), max_iter=2)


def test_connected_components_star_raises_when_max_iter_runs_out(spark):
    """One large-star/small-star round leaves an 8-node path's middle
    nodes in two clusters each, so it must raise."""
    from finance_data_pipeline_spark.extensions.graph import (
        connected_components_star,
    )

    with pytest.raises(ValueError, match="max_iter=1"):
        connected_components_star(_path_pairs(spark, 8), max_iter=1)


def test_ivf_deterministic_rescores_exactly_and_recalls(spark, vectors):
    """Every IVF-exact hit must carry the identical cosine brute force
    computes for that pair (the quantizer prunes, never rescores), and
    top-10 recall against brute-force top-10 should be substantial even
    at n_probe=2 of 8 cells."""
    queries = vectors.filter(F.col("vec_id") < 5)
    bf = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in similarity.brute_force_topk(vectors, queries, k=10).collect()
    }
    ivf = similarity.ivf_topk(
        vectors, queries, k=10, n_cells=8, n_probe=2, train_iters=2
    ).collect()
    assert len(ivf) > 0
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf:
            assert bf[(r.query_id, r.neighbor_id)] == pytest.approx(
                r.cosine_sim, abs=1e-9
            )
    hits = sum((r.query_id, r.neighbor_id) in bf for r in ivf)
    assert hits / len(bf) >= 0.3


def test_kmeans_cluster_quality_invariants(spark):
    """Margins are non-negative (own centroid is the argmax by
    construction), cohesion is within [-1, 1], and member counts sum
    to the full vector count — every vector lands in exactly one
    cluster row."""
    from finance_data_pipeline_spark.extensions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = similarity.kmeans_cluster_quality(emb, k=8, iters=2).collect()
    assert rows
    assert sum(r.n_vectors for r in rows) == emb.count()
    for r in rows:
        assert r.mean_margin >= 0, r
        assert -1.0 <= r.mean_cohesion <= 1.0, r


def test_power_iteration_pc_unit_norm_and_dominance(spark):
    """The returned direction is unit-norm (up to micro-quantization)
    and captures at least as much uncentered second-moment energy as
    any coordinate axis — the defining property of the dominant
    direction power iteration converges to."""
    from finance_data_pipeline_spark.extensions import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pc = {r.dim_idx: r.loading
          for r in similarity.power_iteration_pc(emb, iters=3).collect()}
    assert len(pc) == 64
    norm = sum(x * x for x in pc.values()) ** 0.5
    assert abs(norm - 1.0) < 1e-3
    rows = [list(r.embedding) for r in emb.collect()]
    v = [pc[j] for j in range(64)]
    energy_pc = sum(sum(x[j] * v[j] for j in range(64)) ** 2 for x in rows)
    for axis in range(64):
        energy_axis = sum(x[axis] ** 2 for x in rows)
        assert energy_pc >= energy_axis * 0.999, axis
