"""Similarity search over embedding columns (SURVEY.md X3).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed
variant (random hyperplanes) is the scale path: at 100 TB the
brute-force crossJoin is O(Q×N) — fine for small query sets against a
broadcast, wrong for all-pairs — while LSH buckets cut the candidate
space to colliding buckets.

All vector math is JVM-side higher-order functions (zip_with +
aggregate fold, sequential in array order) — no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions.dedup import _spread
from finance_data_pipeline_spark.functions import cosine, dot, l2_norm, let_, micro_avg


def valid_vectors(vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Corpus-ingestion contract shared by every vector operator
    (similarity search, clustering, dedup, MMR, outlier ranking): a
    usable vector is non-NULL with at least one nonzero component.
    NULL embeddings are missing data (a failed encoder) and zero-norm
    vectors have no direction, so cosine against them is undefined —
    both are excluded from the candidate corpus rather than scored as
    0 or propagated as NULL/NaN through windows and argmaxes.

    The predicate is pure boolean (no float accumulation), so it is
    exactly order-independent and every oracle mirrors it verbatim as
    ``WHERE embedding IS NOT NULL AND
    len(list_filter(embedding, x -> x <> 0)) > 0``.
    """
    c = F.col(vec_col)
    return vectors.filter(
        c.isNotNull() & F.exists(c, lambda x: x != F.lit(0.0))
    )


def _vectors(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_id, _e array<double>) spread to full parallelism — the input
    shape of every Lloyd/assignment pass below (per-row scoring is
    interpreted HOF math, and small files scan as one partition)."""
    return _spread(
        vectors.select(
            F.col(id_col).alias("_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_e"),
        )
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` (few rows) is broadcast and crossJoined against the
    corpus — each executor scans its corpus partition once per batch of
    queries; top-k via per-query window. Excludes self-matches.
    NULL / zero-norm vectors are excluded on both sides (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    queries = valid_vectors(queries, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    v = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("q_vec", "v_vec"), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def knn_label_vote(
    vectors: DataFrame,
    n_queries: int = 20,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN classification by majority vote — similarity search APPLIED:
    each query vector's label is predicted from its ``k`` nearest
    neighbors' labels (ties → lowest label id), the standard
    embedding-quality probe (a high kNN accuracy means the embedding
    space separates the classes; run before trusting cluster- or
    similarity-based curation on it).

    Queries are the ``n_queries`` lowest-id vectors (the registry's
    deterministic query-set convention); neighbors come from
    brute_force_topk's broadcast scan — the corpus shuffles only for
    the per-query top-k window, votes aggregate map-side on ≤ k rows
    per query. Returns (query_id, true_label, predicted_label, votes).
    NULL / zero-norm vectors are excluded up front (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    q = vectors.filter(F.col(id_col) < n_queries).select(id_col, vec_col)
    top = brute_force_topk(vectors, q, k=k, id_col=id_col, vec_col=vec_col)
    lab = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nl")
    )
    votes = (
        top.join(lab, "neighbor_id")
        .groupBy("query_id", "_nl")
        .agg(F.count("*").alias("_v"))
        .groupBy("query_id")
        .agg(
            F.max_by(
                "_nl", F.struct(F.col("_v"), (-F.col("_nl")).alias("_neg"))
            ).alias("predicted_label"),
            F.max("_v").alias("votes"),
        )
    )
    truth = vectors.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return votes.join(truth, "query_id").select(
        "query_id", "true_label", "predicted_label", "votes"
    )


def lsh_plane(seed: int, t: int, p: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5 of the (seed, table, plane, dim) coordinate — reproducible in
    ANY engine/language (the oracle bakes the identical values), unlike
    a JVM-seeded RNG."""
    import hashlib

    h = int(hashlib.md5(f"{seed}:{t}:{p}:{i}".encode()).hexdigest()[:15], 16)
    return (h % 10_000_000) / 5_000_000.0 - 1.0


def hyperplane_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH (sign of dot with
    deterministic pseudo-random planes) → candidates share a bucket in
    ≥1 table → exact cosine re-rank within candidates.

    Planes are md5-derived constants (lsh_plane) embedded in the plan
    as literals — the whole operator is a pure function of its inputs,
    reproducible across engines (full SQL oracle) and cluster layouts.
    The bucket id is the plain bit integer Σ(sign(dot)·2^p) — no
    engine-specific hash. Scale path: the corpus is bucketed once
    (narrow map), the join shuffles only (table, bucket) keys.
    NULL / zero-norm vectors are excluded on both sides (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    queries = valid_vectors(queries, vec_col)
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])  # one-row probe

    def bucket_of(col_vec, t: int):
        bucket = F.lit(0).cast("long")
        for p in range(num_planes):
            plane = F.array(*[F.lit(lsh_plane(seed, t, p, i)) for i in range(dim)])
            d = F.aggregate(
                F.zip_with(col_vec, plane, lambda x, c: x * c),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        return bucket

    def with_buckets(df, prefix):
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
            F.posexplode(
                F.array(*[bucket_of(F.col(vec_col), t) for t in range(num_tables)])
            ).alias("table_idx", "bucket"),
        )

    # The per-vector plane dots are interpreted HOF math — spread the
    # corpus to full parallelism first (small files scan as 1 partition).
    v = with_buckets(_spread(vectors), "neighbor")
    q = with_buckets(queries, "query")
    cands = (
        v.join(F.broadcast(q), ["table_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "query_vec", "neighbor_id", "neighbor_vec")
        .distinct()
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine("query_vec", "neighbor_vec"), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def _blocked_gemm_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    part_col: str | None = None,
) -> DataFrame:
    """Shared blocked all-pairs GEMM kernel: (id_a < id_b, cosine_sim)
    for every pair with BLAS-computed cosine ≥ threshold. See
    cosine_dup_pairs_blocked for the scale contract.

    ``part_col`` restricts pairing to rows sharing that column's value
    (the partition joins the group key, so each (partition, block-pair)
    is one kernel task) — semantic_dedup uses it to score only
    intra-cluster pairs without a per-cluster plan fan-out."""
    parts = [F.col(part_col)] if part_col else []
    v = vectors.select(
        *parts,
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("_b"),
    )
    # Side A serves block pairs (b, j≥b); side B serves (i≤b, b).
    a_rep = v.select(
        *parts, "_id", "_v",
        F.col("_b").alias("ba"),
        F.explode(F.sequence(F.col("_b"), F.lit(n_blocks - 1))).alias("bb"),
        F.lit(0).alias("_role"),
    )
    b_rep = v.select(
        *parts, "_id", "_v",
        F.explode(F.sequence(F.lit(0), F.col("_b"))).alias("ba"),
        F.col("_b").alias("bb"),
        F.lit(1).alias("_role"),
    )
    rep = a_rep.unionByName(b_rep)

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key[-2], key[-1]
        A = pdf[pdf["_role"] == 0]
        B = pdf[pdf["_role"] == 1]
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cosine_sim": pd.Series(dtype="float64")})
        if not len(A) or not len(B):
            return empty
        ma = np.stack(A["_v"].to_numpy())
        mb = np.stack(B["_v"].to_numpy())
        ma = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        mb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        sim = ma @ mb.T
        ia, ib = np.nonzero(sim >= threshold)
        if not len(ia):
            return empty
        ids_a = A["_id"].to_numpy()[ia]
        ids_b = B["_id"].to_numpy()[ib]
        cs = sim[ia, ib]
        if ba == bb:  # diagonal block holds both orientations once each
            keep = ids_a < ids_b
            ids_a, ids_b, cs = ids_a[keep], ids_b[keep], cs[keep]
        lo = np.minimum(ids_a, ids_b)
        hi = np.maximum(ids_a, ids_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine_sim": np.round(cs, 6)})

    keys = ([part_col] if part_col else []) + ["ba", "bb"]
    return rep.groupBy(*keys).applyInPandas(
        kernel, "id_a long, id_b long, cosine_sim double"
    )


def cosine_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (X2e): all (id_a < id_b)
    pairs with cosine ≥ threshold — semantic dedup over an embedding
    column. Exact and oracle-checkable, with no naive pair join:

    1. *Candidates*: blocked all-pairs GEMM (BLAS) at threshold − 1e-4.
       The margin covers GEMM-vs-sequential-fold summation-order noise
       (~1e-12 relative), so candidate recall is exact; the O(N²)
       arithmetic runs inside numpy kernels with √-bounded replication,
       never as a quadratic joined-row stream through interpreted
       expressions.
    2. *Verify*: candidates join their vectors back and re-score with
       the JVM sequential fold — the same operation order as the SQL
       oracle — so emitted values are bit-identical to the naive
       all-pairs formulation.

    This is the verify-exact pattern of dedup.near_dup_pairs with GEMM
    as the candidate generator. The candidate set (pairs within 1e-4 of
    the threshold) is ~|output|, so the verify join is tiny. At 100 TB,
    when even N² FLOPs are infeasible, bucket first with ivf_topk's
    Lloyd cells (the build_ivf_index layout) or hyperplane LSH
    (hyperplane_lsh_topk) and run this within cells — at low
    thresholds with mass near the boundary (measured: median true pair
    sits at 0.46 for t=0.45) candidate hashing cannot separate, and
    blocked-exact is the honest default.
    NULL / zero-norm vectors are excluded up front (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    cands = _blocked_gemm_pairs(
        vectors, threshold - 1e-4, id_col, vec_col, n_blocks
    ).select("id_a", "id_b")
    side = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
    )
    return (
        cands.join(
            side.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            side.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def cosine_dup_pairs_blocked(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Blocked all-pairs GEMM scoring, GEMM values emitted directly.

    Vectors are hashed into n_blocks; every unordered block pair (i ≤ j)
    becomes one applyInPandas group holding block i as side A and block
    j as side B, scored with one numpy matrix multiply (BLAS) instead of
    per-pair interpreted folds — ~100× the arithmetic throughput of the
    HOF formulation at identical output (mod last-bit summation order,
    which is why this variant is rows-only checked while
    cosine_dup_pairs re-verifies through the fold for oracle parity).

    Scale shape: each vector is replicated ~n_blocks times (shuffle
    volume n_blocks·|V|), every block pair is scored exactly once, and
    no single task ever holds more than two blocks — pick n_blocks so a
    block fits executor memory and the replication factor stays ~√tasks.
    This is the IVF-bucket inner loop: at 100 TB you'd first partition
    by a coarse quantizer and run this within cells.
    NULL / zero-norm vectors are excluded up front (valid_vectors).
    """
    return _blocked_gemm_pairs(
        valid_vectors(vectors, vec_col), threshold, id_col, vec_col, n_blocks
    )


def semantic_dedup(
    vectors: DataFrame,
    k_centroids: int = 8,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): bucket
    embeddings by nearest centroid, then within each bucket drop every
    vector that has a lower-id neighbor with cosine ≥ threshold — the
    greedy keep-first policy the paper uses, which never compares
    vectors across buckets (that IS the approximation: k-means-bucketed
    SemDeDup trades the all-pairs N² for k · (N/k)² work).

    ``centroids`` accepts trained k-means centroids (cid, vector); the
    default derives a deterministic stand-in — the ``k_centroids``
    lowest-id vectors — so the operator is a pure function of its input
    and therefore fully SQL-oracle-checkable end to end (assignment
    argmax ties break to the lowest centroid id; all cosines rounded to
    6 dp before comparison on both engines).

    Scale shape: centroids broadcast (k rows); assignment is one
    broadcast crossJoin + map-side-combined max_by — no shuffle of the
    vector stream beyond its scan partitioning. Intra-bucket pairs run
    the verify-exact GEMM pattern per cluster (_blocked_gemm_pairs with
    part_col — BLAS candidates at threshold − 1e-4, JVM-fold exact
    verify on the ~|output| survivors), so the quadratic arithmetic is
    numpy throughput while emitted decisions stay bit-identical to the
    SQL oracle's naive pair join. Per-bucket pair count is (N/k)², so k
    is the knob — SemDeDup at production scale runs k ≈ 0.1–1% of N,
    keeping buckets in the hundreds. Returns kept (vec_id, cluster_id)
    rows. NULL / zero-norm vectors are excluded up front (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    v = _vectors(vectors, id_col, vec_col)
    if centroids is None:
        centroids = vectors.filter(F.col(id_col) < k_centroids).select(
            F.col(id_col).alias("_cid"), F.col(vec_col).alias("_ce")
        )
    else:
        centroids = centroids.select(
            F.col(centroids.columns[0]).alias("_cid"),
            F.col(centroids.columns[1]).alias("_ce"),
        )
    assigned = _assign_to_centroids(v, centroids)
    # Intra-bucket near-dup pairs via the verify-exact GEMM pattern
    # (cosine_dup_pairs' move, restricted per cluster): BLAS scores all
    # intra-cluster pairs at threshold − 1e-4 (margin covers GEMM-vs-
    # fold summation-order noise), then only the ~|output| candidates
    # re-score through the JVM sequential fold — so the dropped set is
    # bit-identical to the naive intra-cluster pair join the oracle
    # runs, at BLAS throughput instead of interpreted HOF folds.
    cands = _blocked_gemm_pairs(
        assigned.select("_id", "_e", "cluster_id"),
        threshold - 1e-4,
        "_id",
        "_e",
        n_blocks=4,
        part_col="cluster_id",
    ).select("id_a", "id_b")
    # The verify side needs only (_id, _e, norm) — every valid vector,
    # which is exactly ``v`` (assignment keeps every row): reading v
    # directly drops one of the three re-evaluations of the per-row
    # centroid scoring the assignment performs (guide §1.2 step 2).
    side = v.select("_id", "_e", l2_norm("_e").alias("_n"))
    dropped = (
        cands.join(
            side.select(F.col("_id").alias("id_a"), F.col("_e").alias("_ea"), F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            side.select(F.col("_id").alias("id_b"), F.col("_e").alias("_eb"), F.col("_n").alias("_nb")),
            "id_b",
        )
        .filter(
            F.round(dot("_ea", "_eb") / (F.col("_na") * F.col("_nb")), 6)
            >= threshold
        )
        .select(F.col("id_b").alias("_id"))
        .distinct()
    )
    return (
        assigned.join(dropped, "_id", "left_anti")
        .select(F.col("_id").alias(id_col), "cluster_id")
    )


def _row_local_scores(
    vec_norm: F.Column, vec: F.Column, cents_arr: F.Column
) -> F.Column:
    """array<struct<s,n,cid>> of cosine scores of one vector against
    a packed codeword array (one _packed_codebooks block): per
    codeword the IDENTICAL float ops as the former crossJoin
    formulation (one dot fold, the precomputed norms' product, round
    to 6 dp; zero-norm pairs score 0.0), so the argmax — array_max
    struct ordering = (max sim, then lowest cid) — is bit-equal to the
    old max_by(struct(_sim, -_cid))."""
    return F.transform(
        cents_arr,
        lambda c: F.struct(
            F.round(
                F.when(
                    vec_norm * c["_cn"] != 0,
                    dot(vec, c["_ce"]) / (vec_norm * c["_cn"]),
                ).otherwise(0.0),
                6,
            ).alias("s"),
            (-c["_cid"]).alias("n"),
            c["_cid"].alias("cid"),
        ),
    )


def _packed_codebooks(cents: DataFrame) -> DataFrame:
    """One-row frame holding map<_b → array<(_cid,_ce,_cn)> sorted by
    _cid> — the broadcastable per-block codebook a ROW-LOCAL
    assignment indexes by its block id (k-means centroids are the
    one-block case, _b = 0). ONE global aggregate collects the sorted
    flat codeword array and the per-block map is a projection over
    that single row: a per-block groupBy first would add an exchange,
    i.e. one more eager job in every trainer's checkpoint. n_blocks·k
    is bounded (≤ a few thousand codewords by construction), so the
    packed row is a few hundred KB at most."""
    flat = cents.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct("_b", "_cid", "_ce", l2_norm("_ce").alias("_cn"))
            )
        ).alias("_all")
    )
    blocks = F.array_distinct(F.transform("_all", lambda c: c["_b"]))
    return flat.select(
        F.map_from_arrays(
            blocks,
            F.transform(
                blocks,
                lambda b: F.transform(
                    F.filter("_all", lambda c: c["_b"] == b),
                    lambda c: c.dropFields("_b"),
                ),
            ),
        ).alias("_books")
    )


def _assign_blocks(vb: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-block nearest-codeword assignment (cosine, 6 dp, ties to the
    lowest code): ``vb`` carries (_id, _b, _be), ``cents`` the (_b,
    _cid, _ce) codebook, so ONE distributed pass assigns every block of
    every vector. A zero-norm sub-vector (or codeword) scores 0 to
    everything instead of NULL/NaN — never a job-failing ANSI division
    — so the argmax stays well-defined and lands on the lowest code in
    both engines.

    PRECONDITION: one row per (_id, _b). The projection emits exactly
    one output row per INPUT ROW (the pre-r9 groupBy collapsed
    duplicates; the row-local form does not) — every caller passes
    valid_vectors output, and a duplicate-id input would silently
    double rows downstream.

    ROW-LOCAL argmax (guide §2.4): the whole codebook packs into one
    broadcast map<block → codewords> and each row scores ONLY its
    block's codewords in place — the former shape broadcast-joined the
    codebook on _b (k-fold row fan-out) and hash-aggregated
    k·n_blocks·N rows back down, a corpus-sized exchange this
    formulation never performs. Per-pair float ops are identical →
    bit-equal codes."""
    vn = vb.withColumn("_vn", l2_norm("_be"))
    # A block id absent from the codebook (an empty codebook, e.g. from
    # empty training input) yields NULL from element_at, array_max over
    # it is NULL, and the 0/1-element explode drops the row (no
    # assignment, as an inner join would give). The explode doubles as
    # the projection barrier so the argmax is computed once per row.
    return vn.crossJoin(F.broadcast(_packed_codebooks(cents))).select(
        "_id",
        "_b",
        "_be",
        F.explode(
            F.filter(
                F.array(
                    F.array_max(
                        _row_local_scores(
                            F.col("_vn"),
                            F.col("_be"),
                            F.element_at("_books", F.col("_b")),
                        )
                    )
                ),
                lambda e: e.isNotNull(),
            )
        ).alias("_best"),
    ).select("_id", "_b", F.col("_best")["cid"].alias("code"), "_be")


def _assign_to_centroids(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by cosine — the one-block case of
    _assign_blocks. ``v`` carries (_id, _e), centroids (_cid, _ce);
    returns (_id, cluster_id, _e)."""
    return _assign_blocks(
        v.select("_id", F.lit(0).alias("_b"), F.col("_e").alias("_be")),
        centroids.select(F.lit(0).alias("_b"), "_cid", "_ce"),
    ).select("_id", F.col("code").alias("cluster_id"), F.col("_be").alias("_e"))


def _fixed_point_means(
    df: DataFrame, keys: list[str], vec: str, scale: int
) -> DataFrame:
    """Exact elementwise mean of the ``vec`` arrays per ``keys`` group:
    (*keys, _ce). Each component is scaled by ``scale``, rounded to a
    long and summed exactly (long addition is associative/commutative,
    so Spark's partial-aggregation order vs DuckDB's scan order cannot
    differ), then divided once — the same move as
    functions.fixed_point_sum for the TPC-H money columns. A naive
    avg() over doubles differs between engines in the last bits, and
    those bits can flip a downstream argmax.

    Shape: one posexplode → groupBy(keys, pos) keyed on
    |groups|·dim (map-side combined), then a |groups|-row collect_list
    rebuild of each mean vector."""
    means = (
        df.select(*keys, F.posexplode(vec).alias("_pos", "_c"))
        .groupBy(*keys, "_pos")
        .agg(
            F.sum(F.round(F.col("_c") * scale, 0).cast("long")).alias("_s"),
            F.count("*").alias("_n"),
        )
        .select(
            *keys,
            "_pos",
            (F.col("_s").cast("double") / (F.lit(float(scale)) * F.col("_n"))).alias("_m"),
        )
    )
    return (
        means.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("_pos", "_m"))).alias("_pm"))
        .select(*keys, F.transform("_pm", lambda s: s["_m"]).alias("_ce"))
    )


def _lloyd(vb: DataFrame, k: int, iters: int, scale: int) -> DataFrame:
    """The fixed-point Lloyd trainer behind kmeans_centroids (one
    block, _b = 0) and pq_codebooks (one block per sub-vector slice):
    over (_id, _b, _be) rows, every block learns its own k-codeword
    quantizer from deterministic seeds (the k lowest ids' rows), by
    cosine assignment at 6 dp with ties to the lowest code
    (_assign_blocks) and exact fixed-point means (_fixed_point_means)
    — a pure function of the input, so the SQL oracle replays each
    iteration exactly.

    All blocks train in ONE distributed pass per iteration (the block
    is just another grouping key), not n_blocks sequential trainers.
    Empty clusters drop out of the next round (both engines compute
    means over member-bearing clusters only). Returns (_b, _cid, _ce),
    materialized with localCheckpoint (connected_components' move):
    consumers reference the codebook several times (assignment, probe
    scoring, GEMM candidates), and without the cut each reference
    re-derives the whole iterative trainer inside one plan."""
    cents = vb.filter(F.col("_id") < k).select(
        "_b", F.col("_id").alias("_cid"), F.col("_be").alias("_ce")
    )
    for _ in range(iters):
        cents = _fixed_point_means(
            _assign_blocks(vb, cents), ["_b", "code"], "_be", scale
        ).withColumnRenamed("code", "_cid")
    return cents.localCheckpoint()


def kmeans_clusters(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    train_n: int | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd's algorithm), run for a FIXED number of
    iterations from deterministic seeds (the ``k`` lowest-id vectors) —
    an iterative distributed ML algorithm that is still a pure function
    of its input, so the SQL oracle replays each iteration exactly: the
    centroid update is an element-wise mean computed in FIXED POINT
    (_lloyd, _fixed_point_means).

    Scale shape per iteration: one row-local assignment against the
    broadcast packed centroids, one posexplode → groupBy(cluster, pos)
    — keyed on k·dim ≤ a few thousand groups — and a k-row
    collect_list rebuild. No driver state.

    ``train_n`` bounds the TRAINING set to the train_n lowest-id
    vectors (the 100 TB form — centroids need a representative sample,
    not the corpus; the final assignment still sweeps everything).
    Default None trains on the full corpus — the oracle-checked
    registry configuration at sample-sized test SFs.

    Returns the final assignment (vec_id, cluster_id).
    NULL / zero-norm vectors are excluded up front (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    v = _vectors(vectors, id_col, vec_col)
    cents = kmeans_centroids(vectors, k, iters, id_col, vec_col, scale, train_n)
    return _assign_to_centroids(v, cents).select(
        F.col("_id").alias(id_col), "cluster_id"
    )


def _bounded_train_set(v, train_n, k):
    """Apply the ``train_n`` bound (``_id < train_n``) with a fail-fast
    guard. The bound is an id-VALUE predicate — it equals "the train_n
    lowest-id vectors" only for DENSE 0-BASED id spaces (which the
    driver corpora and the SQL-replay oracles use). On an offset or
    sparse id space it can select far fewer vectors than asked — even
    zero — and an empty training set would silently yield empty
    centroids/codebooks and therefore an EMPTY assignment/top-k result
    instead of an error (ADVICE r6). One bounded count() per trainer
    call is noise next to the iterative Lloyd jobs it protects."""
    if train_n is None:
        return v
    t = v.filter(F.col("_id") < train_n)
    n = t.count()
    if n < k:
        raise ValueError(
            f"train_n={train_n} selected only {n} training vectors (< k={k}): "
            "the bound is the id-value predicate `id < train_n`, which means "
            "'the train_n lowest-id vectors' only for dense 0-based ids. "
            "Re-key the corpus to dense ids, raise train_n in id-space, or "
            "pass train_n=None for full-corpus training."
        )
    return t


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    train_n: int | None = None,
) -> DataFrame:
    """The Lloyd trainer behind kmeans_clusters, exposed so downstream
    operators (semantic_dedup's ``centroids=``, the IVF quantizer of
    ivf_topk and build_ivf_index) can reuse the trained (_cid, _ce)
    frame: _lloyd over a single block (seeds = k lowest-id vectors,
    cosine assignment rounded to 6 dp with ties to the lowest cid,
    exact fixed-point elementwise means). ``train_n`` bounds the training set to ids
    below train_n (deterministic and SQL-replayable — the pq_codebooks
    discipline; assumes DENSE 0-BASED ids and fails fast via
    _bounded_train_set when the bound selects fewer than k vectors);
    None = full corpus, the oracle-checked default. NULL / zero-norm
    vectors are excluded up front (valid_vectors)."""
    vectors = valid_vectors(vectors, vec_col)
    v = _bounded_train_set(_vectors(vectors, id_col, vec_col), train_n, k)
    vb = v.select("_id", F.lit(0).alias("_b"), F.col("_e").alias("_be"))
    return _lloyd(vb, k, iters, scale).drop("_b")


def kmeans_cluster_quality(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Cluster-quality report over the fixed-point Lloyd clustering —
    the simplified-silhouette diagnostic a curation run reads before
    trusting cluster-based ops (SemDeDup buckets, IVF cells, curriculum
    strata): per cluster, the member count, mean cohesion (cosine to
    own centroid) and mean margin (own-centroid sim minus best OTHER
    centroid sim — near 0 means the cluster boundary is arbitrary).

    Costs one extra aggregation over the SAME scored (vector ×
    centroid) frame the final assignment already computes — no new
    distance pass. Means go through integer micro-units (sims are
    already rounded to 6 dp, so round(sim·1e6) is an exact long and
    long sums are order-independent) — the same discipline as the
    trainer's fixed-point centroid update, which is what lets the
    whole iterative pipeline + quality report replay in SQL.
    NULL / zero-norm vectors are excluded up front (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    v = _vectors(vectors, id_col, vec_col)
    cents = kmeans_centroids(vectors, k, iters, id_col, vec_col, scale)
    # ROW-LOCAL own/other extraction (guide §2.4): score the packed
    # broadcast centroids inside one projection, take the argmax struct
    # (own) and the max sim among the OTHER centroids in place. The
    # former shape scored a k-fold crossJoin stream, hash-aggregated it
    # per _id, then JOINED the stream back against the assignment to
    # max the non-own sims — three corpus-sized exchanges (and the
    # scored subtree computed twice); this needs zero until the final
    # k-row rollup. Per-pair float ops are unchanged → same sims, same
    # argmax, same micro-unit sums.
    vn = v.select("_id", "_e", l2_norm("_e").alias("_vn"))
    rep = let_(
        _row_local_scores(
            F.col("_vn"), F.col("_e"), F.element_at("_books", F.lit(0))
        ),
        lambda arr: let_(
            F.array_max(arr),
            lambda best: F.struct(
                best["cid"].alias("cluster_id"),
                best["s"].alias("_own"),
                F.array_max(
                    F.filter(arr, lambda e: e["cid"] != best["cid"])
                )["s"].alias("_other"),
            ),
        ),
    )
    # k=1 / empty-centroid parity: the old inner join against the
    # other-centroid max emitted no rows when there was no other
    # centroid — the 0/1-element explode drops those rows (and doubles
    # as the projection barrier so the scoring array is computed once).
    books = _packed_codebooks(cents.select(F.lit(0).alias("_b"), "_cid", "_ce"))
    scored = vn.crossJoin(F.broadcast(books)).select(
        F.explode(
            F.filter(F.array(rep), lambda e: e["_other"].isNotNull())
        ).alias("_r")
    )
    per = scored.select(
        F.col("_r")["cluster_id"].alias("cluster_id"),
        F.round(F.col("_r")["_own"] * scale, 0).cast("long").alias("_ow"),
        F.round((F.col("_r")["_own"] - F.col("_r")["_other"]) * scale, 0)
        .cast("long")
        .alias("_mg"),
    )
    return per.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        micro_avg(F.sum("_ow"), F.count("*"), scale).alias("mean_cohesion"),
        micro_avg(F.sum("_mg"), F.count("*"), scale).alias("mean_margin"),
    )


def _probe_window(qv: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """The IVF probe rule shared by ivf_topk and ann_search_ivf_indexed:
    each query (query_id, _qv array<double>, _qn its norm) probes the
    ``n_probe`` centroids (_cid, _ce) of highest cosine, rounded to 6 dp,
    ties to the lowest cell. Lloyd centroids are means, not unit
    vectors, so the rank is by cosine, never by a raw dot product.
    Returns (query_id, _qv, _qn, cell)."""
    cn = cents.select("_cid", "_ce", l2_norm("_ce").alias("_cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), "_cid")
    return (
        qv.crossJoin(F.broadcast(cn))
        .select(
            "query_id", "_qv", "_qn", "_cid",
            F.round(dot("_qv", "_ce") / (F.col("_qn") * F.col("_cn")), 6).alias("_sim"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "_qn", F.col("_cid").alias("cell"))
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    train_iters: int = 2,
    train_n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the FAISS-style scale path complementing hyperplane_lsh_topk.

    The quantizer is the distributed fixed-point Lloyd trainer
    (kmeans_centroids, ``train_iters`` rounds from the ``n_cells``
    lowest-id seeds), so every stage — training, corpus cell
    assignment, query probing (_probe_window), exact re-rank — is a
    pure deterministic function of the input and the SQL oracle
    replays it iteration by iteration. ``train_n`` bounds the training
    set to ids below train_n (standard IVF practice: the quantizer
    trains on a bounded sample regardless of corpus size; dense 0-based
    ids, fail-fast via _bounded_train_set); None trains on the corpus.

    Scale shape: centroids broadcast, corpus assigned in one row-local
    pass, candidates join on the small cell key (a query touches
    n_probe/n_cells of the corpus), exact cosine re-rank within probed
    cells. Recall is tunable via n_probe (n_probe = n_cells ⇒ exact).
    A query's own cell is always its top probe, so self-matches are
    filtered explicitly.
    NULL / zero-norm vectors are excluded on both sides (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    queries = valid_vectors(queries, vec_col)
    cents = kmeans_centroids(
        vectors, n_cells, train_iters, id_col, vec_col, train_n=train_n
    )
    cells = _assign_to_centroids(_vectors(vectors, id_col, vec_col), cents).select(
        F.col("_id").alias("neighbor_id"),
        F.col("cluster_id").alias("cell"),
        F.col("_e").alias("_nv"),
        l2_norm("_e").alias("_nn"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_qv"),
        l2_norm(F.transform(vec_col, lambda x: x.cast("double"))).alias("_qn"),
    )
    scored = (
        cells.join(F.broadcast(_probe_window(qv, cents, n_probe)), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot("_qv", "_nv") / (F.col("_qn") * F.col("_nn")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def embedding_stats(vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Vector hygiene scan: dimensionality + L2 norm per vector (the
    validation pass a 100 TB embedding ingest runs before indexing)."""
    return vectors.select(
        F.col(id_col),
        F.size(vec_col).alias("dim"),
        F.round(l2_norm(vec_col), 6).alias("l2_norm"),
    )


def pairwise_label_cosine(
    vectors: DataFrame, vec_col: str = "embedding", per_label_cap: int = 200
) -> DataFrame:
    """Mean intra-label cosine similarity on a deterministically sampled
    self-join — embedding-quality diagnostic (labels should cluster).

    The self-join is quadratic in label size, so each label is first
    capped to its ``per_label_cap`` members with the smallest
    md5(vec_id) — a deterministic, engine-portable sample (the oracle
    replays the same row_number window). Unlike a fractional hash
    sample, the cap BOUNDS the pair count (≤ cap²/2 per label) no
    matter how large a label grows at 100 TB; the mean over a 200-row
    uniform sample estimates the label mean to ~1/√(2·10⁴) regardless
    of corpus size.

    NULL / zero-norm vectors are excluded BEFORE the cap window
    (valid_vectors) — they have no defined cosine, and filtering after
    the cap would waste sample slots on unusable rows."""
    vectors = valid_vectors(vectors, vec_col)
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    capped = (
        vectors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_label_cap)
        .select("vec_id", "label", vec_col)
    )
    a = capped.select(F.col("vec_id").alias("id_a"), F.col("label"), F.col(vec_col).alias("va"))
    b = capped.select(F.col("vec_id").alias("id_b"), F.col("label"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("label")
        .agg(F.round(F.avg(cosine("va", "vb")), 6).alias("mean_intra_cosine"), F.count("*").alias("pairs"))
    )


def label_outliers(
    vectors: DataFrame,
    per_label: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-space label QA (the SemDeDup-era mislabel sweep): per
    label, the ``per_label`` members FURTHEST from their label's
    centroid by cosine — the candidates a curation pass reviews for
    mislabeling or junk embeddings.

    The centroid is the exact fixed-point elementwise mean
    (_fixed_point_means: scaled-long sums are order-independent, so the
    result is a pure function of the input and the whole operator —
    argmin ranks included — replays in the SQL oracle).

    Scale shape: one posexplode → groupBy(label, pos) keyed on
    |labels|·dim groups (map-side combined), a broadcast join of the
    |labels|-row centroid frame back onto the corpus, one JVM-fold
    cosine per row, and a per-label top-k window. No driver state, no
    UDFs.

    Zero-norm vectors are excluded up front and zero-norm centroids
    drop their label (cosine is undefined there, and engines disagree
    on NULL/NaN ordering — the guard keeps ranks well-defined and
    oracle-identical).

    Returns (vec_id, label, cos_centroid, outlier_rank).
    """
    v = _spread(
        vectors.select(
            F.col(id_col),
            F.col(label_col),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_e"),
        )
    ).filter(dot("_e", "_e") > 0)
    cents = _fixed_point_means(v, [label_col], "_e", scale).filter(
        dot("_ce", "_ce") > 0
    )
    scored = v.join(F.broadcast(cents), label_col).select(
        id_col,
        label_col,
        F.round(cosine("_e", "_ce"), 6).alias("cos_centroid"),
    )
    w = Window.partitionBy(label_col).orderBy(F.asc("cos_centroid"), id_col)
    return (
        scored.withColumn("outlier_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("outlier_rank") <= per_label)
        .select(id_col, label_col, "cos_centroid", "outlier_rank")
    )


# --- X3++: product quantization (ADC) -------------------------------------


def _block_slices(vec: F.Column, n_blocks: int, sub_dim: int) -> F.Column:
    return F.array(
        *[F.slice(vec, b * sub_dim + 1, sub_dim) for b in range(n_blocks)]
    )


def pq_codebooks(
    vectors: DataFrame,
    n_blocks: int = 8,
    sub_dim: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    train_n: int | None = None,
) -> DataFrame:
    """Train the PQ codebooks: each vector splits into ``n_blocks``
    contiguous ``sub_dim``-dim sub-vectors and every block learns its
    own ``k``-codeword quantizer with the fixed-point Lloyd trainer
    (_lloyd — the one kmeans_centroids runs on a single block), so the
    full trainer replays in SQL. Returns (_b, _cid, _ce),
    localCheckpointed for its many downstream references.

    ``k`` ≤ 256: ann_topk_pq's ADC lookup packs (block, code) as
    block·256 + code, so more codewords per block would collide.

    ``train_n`` bounds the TRAINING SET to the ``train_n`` lowest-id
    vectors — the 100 TB deployment form (standard PQ practice, the
    same bound as ivf_topk's quantizer: codebooks need a
    representative sample, not the corpus, so each Lloyd pass costs
    O(train_n) instead of O(corpus); encode/score still sweep
    everything). The bound is deterministic and SQL-replayable
    (``WHERE {id} < train_n``) and assumes DENSE 0-BASED ids — _bounded_train_set
    fails fast when it selects fewer than k vectors. Default None
    trains on the full corpus — the oracle-checked registry
    configuration at test SFs, where the corpus IS sample-sized.
    """
    if k > 256:
        raise ValueError(
            f"pq_codebooks k={k} exceeds 256, the ADC packing stride of "
            "ann_topk_pq (block·256 + code)"
        )
    v = _bounded_train_set(_vectors(vectors, id_col, vec_col), train_n, k)
    vb = v.select(
        "_id",
        F.posexplode(_block_slices(F.col("_e"), n_blocks, sub_dim)).alias(
            "_b", "_be"
        ),
    )
    return _lloyd(vb, k, iters, scale)


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    n_blocks: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize the corpus: (vec_id, codes) where codes[b] is the
    nearest codeword of block b — n_blocks bytes of state per vector
    instead of n_blocks·sub_dim floats (32× here), THE reason PQ
    exists: at 100 TB the codes + 16 KiB of codebooks fit where raw
    embeddings cannot.

    ROW-LOCAL (guide §2.4): all n_blocks codes of a vector are computed
    inside one projection against the broadcast packed codebooks — the
    former posexplode → per-block assignment → groupBy(_id) collect
    needed a corpus-sized shuffle to reassemble the codes array this
    version never takes apart. Per-block float ops are identical
    (_row_local_scores = the old join-form scoring), so codes are
    bit-equal; block order is the natural 0..n_blocks-1, matching the
    old array_sort(collect_list(struct(_b, code)))."""
    v = _vectors(vectors, id_col, vec_col)
    # Two-step transform: the per-block struct (slice, norm) is
    # materialized first so the norm fold runs once per block, not once
    # per (block, codeword) score.
    pre = F.transform(
        _block_slices(F.col("_e"), n_blocks, sub_dim),
        lambda be: F.struct(be.alias("be"), l2_norm(be).alias("vn")),
    )
    codes = F.transform(
        pre,
        lambda p, b: F.array_max(
            _row_local_scores(p["vn"], p["be"], F.element_at("_books", b))
        )["cid"],
    )
    return v.crossJoin(F.broadcast(_packed_codebooks(codebooks))).select(
        F.col("_id").alias(id_col), codes.alias("codes")
    )


def ann_topk_pq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_blocks: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_n: int | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k by inner product: queries never touch
    the corpus embeddings — each query builds an n_blocks×k lookup
    table of sub-vector dot products against the codebooks, and every
    corpus vector's score is the sum of 8 table entries selected by its
    codes (asymmetric distance computation, Jégou et al. 2011).

    Engine-exact trick: LUT entries are rounded to 6 dp and summed as
    DECIMAL(12,6) — decimal addition is associative, so the 8-term sum
    is order-independent and the approximate scores (and the top-k cut)
    replay bit-exactly in the SQL oracle.

    Scale shape: codebook train (O(train_n) when bounded — the 100 TB
    form; O(corpus) at the oracle-checked default) + one encode pass
    over the corpus, then scoring joins the CODES stream (n_blocks
    rows of two ints per vector) against a broadcast LUT (queries ×
    n_blocks × k rows) — per-query cost is O(corpus codes), with none
    of the corpus float math brute_force_topk pays, and the candidate
    set it returns is what a production pipeline re-ranks with exact
    scores.
    NULL / zero-norm vectors are excluded on both sides (valid_vectors).
    """
    vectors = valid_vectors(vectors, vec_col)
    queries = valid_vectors(queries, vec_col)
    books = pq_codebooks(
        vectors, n_blocks, sub_dim, id_col=id_col, vec_col=vec_col,
        train_n=train_n,
    )
    codes = pq_encode(vectors, books, n_blocks, sub_dim, id_col, vec_col)
    qb = _vectors(queries, id_col, vec_col).select(
        F.col("_id").alias("query_id"),
        F.posexplode(_block_slices(F.col("_e"), n_blocks, sub_dim)).alias(
            "_b", "_qe"
        ),
    )
    lut = qb.join(F.broadcast(books), "_b").select(
        "query_id",
        "_b",
        "_cid",
        F.round(dot("_qe", "_ce"), 6).cast("decimal(12,6)").alias("_ip"),
    )
    # ROW-LOCAL ADC (guide §2.4): each query's n_blocks×k LUT packs
    # into one broadcast map keyed on _b·256+_cid and every corpus
    # vector's 8-term DECIMAL sum folds in place over its codes array —
    # the former shape exploded the codes stream ×n_blocks, hash-joined
    # the LUT and re-aggregated n_blocks·|corpus|·|queries| rows back
    # down through a corpus-sized exchange. Decimal addition is exact
    # at scale 6 (the fold widens the accumulator to decimal(26,6) —
    # headroom far past n_blocks·max|ip| — then casts to double once),
    # so scores replay the old sum bit-for-bit.
    lutp = lut.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("_b") * 256 + F.col("_cid")).cast("int").alias("k"),
                    F.col("_ip").alias("v"),
                )
            )
        ).alias("_lut")
    )
    scored = (
        codes.select(F.col(id_col).alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(lutp))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.transform(
                    "codes",
                    lambda c, b: F.element_at(
                        "_lut", (b * 256 + c).cast("int")
                    ),
                ),
                F.lit(0).cast("decimal(26,6)"),
                lambda acc, x: (acc + x).cast("decimal(26,6)"),
            )
            .cast("double")
            .alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), "neighbor_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ann_topk_pq_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 40,
    n_blocks: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_n: int | None = None,
) -> DataFrame:
    """The production two-stage ANN: PQ/ADC shortlists ``shortlist``
    candidates per query from compressed codes, then ONLY those rows'
    raw embeddings are fetched and re-scored with exact cosine for the
    final top-``k`` — full-precision math on k·|queries| rows instead
    of the whole corpus. Returns (query_id, neighbor_id, cosine_sim).

    Scale note: the shortlist (|queries|·shortlist rows, with the query
    embeddings attached) broadcasts onto the corpus scan, so the
    re-rank prunes the corpus in place — the raw embeddings of
    non-candidates are never shuffled — which is why the
    shortlist/re-rank split — not brute force, not raw ADC ranks — is
    what ANN services deploy."""
    cands = ann_topk_pq(
        vectors, queries, shortlist, n_blocks, sub_dim, id_col, vec_col,
        train_n=train_n,
    ).select("query_id", "neighbor_id")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qe"))
    # Fused re-rank (guide §2.4/§3.1): the shortlist is bounded at
    # |queries|·shortlist rows, so (cands ⋈ query embedding) broadcasts
    # as ONE hash relation straight onto the corpus scan — the former
    # shape evaluated the whole PQ subtree twice (once for a semi-join
    # pruning pass, once for the pair join) and shuffled the pruned
    # corpus by neighbor_id. The inner join prunes identically to the
    # old semi-join (every shortlist neighbor_id exists in vectors),
    # and the corpus embeddings never shuffle at all.
    pairs = cands.join(F.broadcast(q), "query_id")
    rescored = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_ve")
        )
        .join(F.broadcast(pairs), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("_qe", "_ve"), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        rescored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def embedding_standardize(
    vecs: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the feature-scaling pass before distance-based operators (k-means,
    outlier sweeps) when dimensions have heterogeneous scales.

    Exactness discipline: per-dimension Σx and Σx² are summed as
    DECIMAL (each double term cast exactly-rounded first) so the
    moments are order-independent; mean/variance/z then run in plain
    IEEE doubles identical in both engines, making the whole operator
    full-oracle despite being float math over a shuffle.

    Scale shape: one posexplode (row-local fan-out ×dim) → one
    map-side-combined aggregate over `dim` (bounded keys = embedding
    width) → broadcast of the tiny per-dim stats frame back onto the
    exploded stream. Nothing grows with corpus size except the scan.

    Returns (vec_id, dim, z) long-format; z rounded to 6 dp; dims with
    zero variance yield NULL z (explicit, not a division blow-up).
    """
    exploded = vecs.select(
        F.col(id_col), F.posexplode(vec_col).alias("_p", "_x")
    ).select(
        F.col(id_col),
        (F.col("_p") + 1).cast("long").alias("dim"),
        F.col("_x").cast("double").alias("_x"),
    )
    stats = exploded.groupBy("dim").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_x").cast("decimal(38,12)")).alias("_s"),
        F.sum((F.col("_x") * F.col("_x")).cast("decimal(38,12)")).alias("_s2"),
    )
    mean = F.col("_s").cast("double") / F.col("_n").cast("double")
    meansq = F.col("_s2").cast("double") / F.col("_n").cast("double")
    stats = stats.select(
        "dim",
        mean.alias("_mean"),
        F.sqrt(meansq - mean * mean).alias("_std"),
    )
    return exploded.join(F.broadcast(stats), "dim").select(
        id_col,
        "dim",
        # + 0.0: a tiny negative (x − mean) rounds to −0.0 in DuckDB
        # but +0.0 in Spark — normalize per the signed-zero convention
        # (the oracle carries the same + 0.0).
        (
            F.round(
                (F.col("_x") - F.col("_mean")) / F.nullif("_std", F.lit(0.0)),
                6,
            )
            + 0.0
        ).alias("z"),
    )


def power_iteration_pc(
    vectors: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Dominant principal direction by distributed power iteration —
    the missing linear-algebra primitive next to the fixed-point Lloyd
    trainer: v ← Σ_x (x·v)·x, normalized, repeated. The top PC of the
    (uncentered) second-moment matrix drives whitening decisions,
    coarse 1-D orderings for range-partitioning embeddings, and "is
    there one dominant axis" diagnostics (run embedding_standardize
    first when centered PCA is wanted).

    Exact cross-engine replay of an iterative float algorithm, same
    playbook as kmeans_centroids: per-row contributions (x·v)·x_j are
    quantized to micro-unit longs BEFORE the reduce (long sums are
    order-independent; a float Σ over rows differs between engines),
    the norm uses an exact DECIMAL(38) sum of squared components (w_j²
    at corpus scale overflows a long), and the normalized vector is
    re-quantized to micro-units each round so every iteration starts
    from bit-identical state in both engines. Dot products are
    UNROLLED fixed-order sums — never a HOF fold or list_dot_product,
    whose accumulation orders differ across engines.

    Driver state per iteration is the 64-value component vector (the
    same bounded-collect pattern as the BPE trainer's 1-row argmax) —
    never row data. One posexplode aggregate per iteration; linear in
    corpus size. Returns (dim_idx, loading) — ``dim`` rows.
    """
    v = [1.0 / 8.0] * dim  # exact binary fraction; unit for dim=64
    base = _spread(
        vectors.select(
            F.transform(vec_col, lambda x: x.cast("double")).alias("_e")
        )
    )
    for _ in range(iters):
        d = F.col("_e").getItem(0) * F.lit(v[0])
        for j in range(1, dim):
            d = d + F.col("_e").getItem(j) * F.lit(v[j])
        contrib = base.select(
            d.alias("_d"), F.posexplode("_e").alias("_pos", "_x")
        ).select(
            "_pos",
            F.round(F.col("_d") * F.col("_x") * 1_000_000, 0)
            .cast("long")
            .alias("_c"),
        )
        w = contrib.groupBy("_pos").agg(F.sum("_c").alias("_w"))
        s = w.agg(
            F.sum(
                F.col("_w").cast("decimal(38,0)") * F.col("_w").cast("decimal(38,0)")
            ).alias("_s")
        )
        rows = (
            w.crossJoin(F.broadcast(s))
            .select(
                "_pos",
                F.round(
                    F.col("_w").cast("double")
                    / F.sqrt(F.col("_s").cast("double"))
                    * 1_000_000,
                    0,
                )
                .cast("long")
                .alias("_vq"),
            )
            .collect()
        )
        vq = {r._pos: r._vq for r in rows}
        v = [vq.get(j, 0) / 1_000_000 for j in range(dim)]
    out = vectors.sparkSession.createDataFrame(
        [(j, v[j]) for j in range(dim)], "dim_idx long, loading double"
    )
    return out


def pc_projection(
    vectors: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Project every vector onto the dominant principal direction —
    the USE of power_iteration_pc: a 1-D embedding ordering for
    repartitionByRange (cluster-preserving data layout: neighbors in
    PC order are likely neighbors in cosine, so range partitions keep
    similar vectors together for cheaper downstream blocking), and the
    axis for dominant-direction outlier trims.

    The learned 64-value vector is baked into the projection as plan
    literals (same broadcast-of-tiny-state move as the LSH planes);
    the projection itself is one narrow codegen map — an unrolled
    fixed-order dot per row, no shuffle at all.
    """
    pc = {
        r.dim_idx: r.loading
        for r in power_iteration_pc(vectors, iters, id_col, vec_col, dim).collect()
    }
    e = F.transform(vec_col, lambda x: x.cast("double"))
    score = e.getItem(0) * F.lit(pc[0])
    for j in range(1, dim):
        score = score + e.getItem(j) * F.lit(pc[j])
    return vectors.select(
        F.col(id_col), F.round(score, 6).alias("pc_score")
    )


def sq8_error_report(
    embeds: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """X3+ — int8 scalar quantization (per-vector min/max grid, the
    faiss SQ8 layout) reconstruction report: per ``group_col``, avg
    RMSE and worst per-element error of dequantized vectors — the 8×
    memory cut an ANN index takes before PQ. Row-local higher-order
    functions on the JVM; one partial-agg shuffle on the group key.
    Quantizes via floor(x+0.5) so Spark and the DuckDB oracle round
    identically (no banker's rounding). Per-element error is bounded
    by scale/2 = (max-min)/510, which the property tests assert."""
    e = F.col(vec_col).cast("array<double>")
    mn = F.array_min(e)
    mx = F.array_max(e)
    scale = (mx - mn) / F.lit(255.0)

    def deq(x):
        return mn + F.floor((x - mn) / scale + F.lit(0.5)) * scale

    errs = F.transform(e, lambda x: x - deq(x))
    sq_sum = F.aggregate(errs, F.lit(0.0), lambda a, x: a + x * x)
    rmse = F.when(mx == mn, F.lit(0.0)).otherwise(F.sqrt(sq_sum / F.size(e)))
    max_err = F.when(mx == mn, F.lit(0.0)).otherwise(
        F.array_max(F.transform(errs, F.abs))
    )
    per_vec = embeds.select(
        group_col, rmse.alias("_rmse"), max_err.alias("_max_err")
    )
    return per_vec.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.round(F.avg("_rmse"), 6).alias("avg_rmse_q8"),
        F.round(F.max("_max_err"), 6).alias("max_abs_err_q8"),
    )


def _write_cells(
    vectors: DataFrame, cents: DataFrame, path: str, mode: str, id_col: str, vec_col: str
) -> None:
    """Assign ``vectors`` to the (_cid, _ce) centroids with
    _assign_to_centroids (ivf_topk's own cell rule) and write them
    partitioned by cell as (id, embedding array<double>). The input is
    not _spread: a partitioned write emits one file per (task, cell),
    so a repartition would multiply the files of every cell."""
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_e"),
    )
    (
        _assign_to_centroids(v, cents)
        .select(
            F.col("_id").alias(id_col),
            F.col("_e").alias(vec_col),
            F.col("cluster_id").cast("int").alias("cell"),
        )
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    n_cells: int = 8,
    train_iters: int = 2,
    train_n: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF index on disk — the vector-side twin of
    build_text_index: one corpus pass assigns every vector to its
    nearest trained centroid and writes the corpus PARTITIONED BY CELL
    (Hive-style directories), so an online search that probes p of c
    cells scans exactly p/c of the data via partition pruning — no
    session state, any engine can serve it.

    The quantizer and the assignment are ivf_topk's: kmeans_centroids
    (fixed-point Lloyd, ``train_iters`` rounds, ``train_n`` bound) and
    _assign_to_centroids, so a vector lands in the same cell as
    kmeans_clusters assigns it. NULL and zero-norm vectors are not
    indexed (valid_vectors): they have no direction to route by.

    Layout under ``path``: ``cells/cell=<i>/`` holding (id, embedding)
    and ``centroids/`` holding (cell, centroid array<double>), the
    centroids as trained (not unit-norm).
    """
    vectors = valid_vectors(vectors, vec_col)
    cents = kmeans_centroids(
        vectors, n_cells, train_iters, id_col, vec_col, train_n=train_n
    )
    _write_cells(vectors, cents, f"{path}/cells", "overwrite", id_col, vec_col)
    cents.select(
        F.col("_cid").cast("int").alias("cell"), F.col("_ce").alias("centroid")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ann_search_ivf_indexed(
    spark,
    index_path: str,
    query_vec: list,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Online ANN against a build_ivf_index layout: pick the
    ``n_probe`` cells by ivf_topk's probe rule (_probe_window: cosine
    to each stored centroid, 6 dp, ties to the lowest cell), then scan
    ONLY those cell directories (partition pruning — the plan's
    PartitionFilters carries the IN-list) and re-rank exactly by
    cosine in JVM expressions (query literals unrolled into the plan —
    no Python in the scan path). n_probe = n_cells ⇒ exact brute
    force. Driver-side pulls: the n_probe chosen cell ids only."""
    q = np.asarray(query_vec, dtype="float64")
    if not np.any(q):
        raise ValueError("query_vec has no nonzero component, so it has no cosine rank")
    qn = q / np.linalg.norm(q)
    qv = spark.createDataFrame(
        [(0, [float(x) for x in q])], "query_id int, _qv array<double>"
    ).select("query_id", "_qv", l2_norm("_qv").alias("_qn"))
    cents = spark.read.parquet(f"{index_path}/centroids").select(
        F.col("cell").alias("_cid"), F.col("centroid").alias("_ce")
    )
    probes = [r.cell for r in _probe_window(qv, cents, n_probe).select("cell").collect()]
    rows = spark.read.parquet(f"{index_path}/cells").filter(
        F.col("cell").isin(probes)
    )
    e = F.col(vec_col)
    qarr = F.array(*[F.lit(float(x)) for x in qn])
    dot = F.aggregate(
        F.zip_with(e, qarr, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    norm = F.sqrt(F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x))
    return (
        rows.select(
            id_col,
            "cell",
            F.round(dot / F.greatest(norm, F.lit(1e-12)), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def add_to_ivf_index(
    new_vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance — the standard vector-DB "add"
    path: assign the new batch against the EXISTING centroids (no
    retraining; the coarse quantizer is deliberately stable so cell
    routing never changes under ingestion) and append the rows into
    their cell directories. The stored (cell, centroid) table is read
    back as (_cid, _ce) and the batch goes through the same
    _assign_to_centroids pass as build_ivf_index — no driver collect.
    NULL and zero-norm vectors are not indexed (valid_vectors).
    Existing files are never rewritten — append-only per partition
    (tested by file inventory), so the cost of an add is O(batch), not
    O(index), and concurrent readers keep a consistent view of the old
    files.

    Centroid drift under heavy ingestion is handled the way FAISS
    does: rebuild with build_ivf_index when recall degrades, not by
    mutating cells in place.
    """
    cents = new_vectors.sparkSession.read.parquet(f"{index_path}/centroids").select(
        F.col("cell").alias("_cid"), F.col("centroid").alias("_ce")
    )
    _write_cells(
        valid_vectors(new_vectors, vec_col),
        cents,
        f"{index_path}/cells",
        "append",
        id_col,
        vec_col,
    )


def prefix_energy_report(
    vectors: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32),
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-readiness report (Kusupati et al. 2022, public MRL
    paper): per label and prefix length k, the average and worst-case
    fraction of a vector's L2 energy captured by its first k
    dimensions. Embeddings trained with matryoshka losses front-load
    energy, so truncating to k dims is a cheap 64/k× index shrink;
    this report is the measurement a pipeline reads BEFORE committing
    to a truncated ANN index (the dimension-axis analogue of the SQ8
    quantization report's value-axis error).

    Parity: energy_k = dot(e[:k], e[:k]) / dot(e, e) — both dots the
    same sequential zip_with/aggregate fold as the ANN oracles'
    list_dot_product, per-row identical IEEE math; per-group averages
    sum through DECIMAL. A zero vector's denominator is nullif-guarded
    to NULL (skipped by the aggregates) in both engines, avoiding the
    Spark-NaN / DuckDB-error divergence on 0.0/0.0.

    Scale: per-row HOF projection (interpreted, not codegen — linear
    in vectors×dims, embarrassingly parallel, acceptable for a
    report-style query), then one map-side-combined groupBy on
    (label, k) — output bounded by |labels|·|dims|.
    NULL / zero-norm vectors are excluded up front (valid_vectors) —
    energy fractions are undefined for them; embedding_stats is the
    hygiene scan that reports such rows.
    """
    from finance_data_pipeline_spark.functions import dot

    vectors = valid_vectors(vectors, vec_col)

    full = dot(vec_col, vec_col)
    entries = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("k"),
                (
                    dot(F.slice(vec_col, 1, k), F.slice(vec_col, 1, k))
                    / F.nullif(full, F.lit(0.0))
                ).alias("frac"),
            )
            for k in dims
        ]
    )
    rows = (
        _spread(vectors.select(label_col, vec_col))
        .select(label_col, F.explode(entries).alias("e"))
        .select(label_col, F.col("e.k").alias("k"), F.col("e.frac").alias("frac"))
    )
    return (
        rows.groupBy(label_col, "k")
        .agg(
            F.round(
                F.sum(F.col("frac").cast("decimal(38,12)")).cast("double")
                / F.count("frac"),
                6,
            ).alias("avg_energy_frac"),
            F.round(F.min("frac"), 6).alias("min_energy_frac"),
        )
    )


def mmr_select(
    vectors: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    pool: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein
    1998) — greedy selection that trades relevance against redundancy:

        pick argmax over remaining x of
            λ·cos(q, x) − (1−λ)·max_{s∈selected} cos(x, s)

    The query is the corpus vector with the smallest id (deterministic;
    swap in any query vector). Scale shape: ONE distributed pass scores
    relevance and keeps the top-``pool`` candidates (window top-k — the
    only stage that touches the full corpus), that pool is
    localCheckpointed (bounded: pool × dim), and the k greedy rounds
    each run one tiny distributed argmax over ≤pool rows with the
    selected set inlined as literal arrays (k·pool cosines total). The
    1-row-per-round collect is the BPE-trainer precedent. Every cosine
    is the zip_with/aggregate sequential fold, so the unrolled SQL
    oracle (same pool window, same greedy arithmetic) is bit-exact;
    ties break to the lower id via the struct-max trick in both
    engines. NULL / zero-norm vectors are excluded up front
    (valid_vectors)."""
    vectors = valid_vectors(vectors, vec_col)
    v = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("e")
    )
    q_row = v.orderBy("vid").limit(1).collect()[0]
    q_id, q_vec = q_row.vid, list(q_row.e)
    q_arr = F.array(*[F.lit(float(x)) for x in q_vec])
    rel = cosine(F.col("e"), q_arr)
    wp = Window.orderBy(F.desc("rel"), "vid")
    cand = (
        v.filter(F.col("vid") != q_id)
        .select("vid", "e", rel.alias("rel"))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= pool)
        .drop("_rn")
        .localCheckpoint()
    )
    # Greedy rounds maintain max-sim-to-selected INCREMENTALLY: after
    # each pick the pool (≤pool rows) gains greatest(maxsim, cos(e,
    # new_pick)) and is re-checkpointed, so every round evaluates ONE
    # fresh cosine per candidate and the plan stays constant-size —
    # max over selected is associative, so the running greatest is
    # bit-identical to the oracle's per-round greatest(all selected).
    pool_df = cand
    picks = []  # (order, vid, rel, score)
    for t in range(1, k + 1):
        if t == 1:
            score = F.lit(lam) * F.col("rel")
        else:
            score = (
                F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("maxsim")
            )
        best = pool_df.select(
            F.max(
                F.struct(
                    score.alias("s"), (-F.col("vid")).alias("ni"),
                    F.col("rel").alias("r"), F.col("e").alias("e"),
                )
            ).alias("m")
        ).collect()[0].m
        picks.append((t, -best.ni, best.r, best.s))
        if t < k:
            new_arr = F.array(*[F.lit(float(x)) for x in best.e])
            new_sim = cosine(F.col("e"), new_arr)
            ms = (
                new_sim if t == 1
                else F.greatest(F.col("maxsim"), new_sim)
            )
            pool_df = (
                pool_df.filter(F.col("vid") != -best.ni)
                .withColumn("maxsim", ms)
                .localCheckpoint()
            )
    spark = vectors.sparkSession
    out = spark.createDataFrame(
        [(o, int(vid), float(r), float(s)) for o, vid, r, s in picks],
        "pick_order long, vec_id long, relevance double, mmr_score double",
    )
    return out.select(
        "pick_order", "vec_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )
