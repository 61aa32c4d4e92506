"""Document deduplication (SURVEY.md X1/X2): exact, MinHash+LSH,
SimHash, and n-gram Jaccard.

Scale design: every stage is a groupBy/join on bounded keys — no
driver-side state. At 100 TB the LSH band join shuffles only
(band, bucket) pairs, not document text; candidate verification joins
text back by doc_id. Exact-Jaccard verification makes LSH output
deterministic (LSH only *generates candidates*; the emitted pairs are
exactly the pairs above the true-Jaccard threshold, modulo the
vanishing band-miss probability — with 21 bands × 3 rows the miss
probability is ~1.5e-4 at exactly J=0.7, 2.9e-7 at J=0.8, and ~1e-12
at J=0.9; the signature aggregate is the dominant cost and scales
linearly in permutations, so 63 permutations run ~2× faster than the
textbook 126 at the same verified output on measured corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions.sampling import hash_nibble
from finance_data_pipeline_spark.functions import let_

# Documents whose md5(doc_id) starts with this nibble (~1/16 of the
# corpus) are the held-out benchmark split of the decontamination
# operators and their oracles.
BENCH_NIBBLE = "f"

# --- normalization / shingling ------------------------------------------


def normalized(col="text"):
    return F.lower(F.trim(F.col(col)))


def tokens(col="text"):
    """Whitespace tokenization of normalized text."""
    return F.split(normalized(col), r"\s+")


def _windows(tk, k: int):
    """The one k-gram window builder: every length-``k`` window of the
    bound token array ``tk``, joined with single spaces; ``[whole
    text]`` when ``tk`` is shorter than ``k``. Callers bind ``tk`` with
    ``let_`` — a HOF lambda body has no invariant hoisting, so an
    unbound tokenizer would re-run the regex split once PER WINDOW
    (quadratic in doc length) instead of once per row."""
    n = F.size(tk)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tk, i + 1, k), " "))
    return F.when(n >= k, grams).otherwise(F.array(F.array_join(tk, " ")))


def word_shingles(col="text", k: int = 3):
    """Distinct k-word shingles per document (X2 candidate unit)."""
    return let_(tokens(col), lambda tk: F.array_distinct(_windows(tk, k)))


def raw_word_ngrams(col: str = "text", k: int = 3):
    """Non-distinct k-word grams of the normalized text (frequency
    carries signal — unlike word_shingles, nothing is deduped)."""
    return let_(tokens(col), lambda tk: _windows(tk, k))


def char_ngrams(col="text", n: int = 4):
    """Distinct character n-grams of normalized text (X2d candidate
    unit). A doc shorter than n chars yields its whole text as the one
    gram (mirrors word_shingles' short-doc rule)."""

    def build(s):
        idx = F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.substring(s, i, F.lit(n)))
        )

    return let_(normalized(col), build)


# --- X1: exact dedup ------------------------------------------------------


def _sliding_grams(text_col: str, n: int):
    """Non-distinct length-``n`` token windows joined with single
    spaces; [] for docs shorter than n tokens."""
    return let_(
        tokens(text_col),
        lambda tk: F.when(F.size(tk) >= n, _windows(tk, n)).otherwise(
            F.array().cast("array<string>")
        ),
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id document per normalized-text hash. Hash
    groupBy — one shuffle on a 128-bit key; never compares text
    pairwise."""
    hashed = docs.withColumn("text_hash", F.md5(normalized(text_col)))
    w = Window.partitionBy("text_hash").orderBy(id_col)
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --- exact n-gram Jaccard (verification primitive + X2d standalone) -------


def shingle_pairs_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct k-shingle sets for candidate pairs.

    Without ``candidates``, uses the shingle inverted index itself as
    the candidate generator (pairs sharing ≥1 shingle) — exact but
    O(pairs-sharing-a-shingle); with ``candidates`` (e.g. from LSH),
    verifies only those pairs. Returns (id_a, id_b, jaccard), id_a < id_b.
    """
    # word_shingles is already array_distinct per doc → the exploded
    # (id, shingle) stream is distinct by construction; no dedup shuffle.
    # Shingles travel as 64-bit hashes, not strings: every downstream
    # join/group shuffles fixed-width longs (the string text never
    # leaves the first projection). Hash collisions across *distinct
    # shingles of one pair* are the only error source (~1e-11 per pair).
    if candidates is None:
        sh = (
            _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
            .select("_id", F.explode(word_shingles(text_col, k)).alias("sh"))
            .select("_id", F.xxhash64("sh").alias("h"))
        )
        sizes = sh.groupBy("_id").agg(F.count("*").alias("n_sh"))
        pairs = (
            sh.alias("a")
            .join(sh.alias("b"), (F.col("a.h") == F.col("b.h")) & (F.col("a._id") < F.col("b._id")))
            .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .agg(F.count("*").alias("common"))
        )
    else:
        # Array-intersect verification (same move as string_sim_join):
        # one shingle pass collects each doc's sorted 64-bit hash array,
        # then each candidate pair joins its two arrays and intersects
        # JVM-side — the exploded (pair × shingle) join form walks the
        # shingle stream three times and shuffles every matching
        # shingle per pair (measured ~2× slower end-to-end at sf0.1).
        #
        # Semi-join reduction (guide §3.2): only docs that appear in a
        # candidate pair need their shingle set — the candidate set is
        # ~|output|-sized, so pruning BEFORE tokenization drops the
        # verify pass from O(corpus) to O(candidate docs). The pair set
        # is localCheckpointed once (the split_leakage discipline): it
        # is referenced three times (endpoint extraction + both
        # enrichment joins) and without the seam each reference would
        # re-derive the upstream LSH cascade.
        cands = candidates.select("id_a", "id_b").localCheckpoint()
        cand_ids = cands.select(
            F.explode(F.array("id_a", "id_b")).alias("_id")
        ).distinct()
        sh = (
            _spread(
                docs.select(F.col(id_col).alias("_id"), F.col(text_col)).join(
                    cand_ids, "_id", "left_semi"
                )
            )
            .select("_id", F.explode(word_shingles(text_col, k)).alias("sh"))
            .select("_id", F.xxhash64("sh").alias("h"))
        )
        tokset = sh.groupBy("_id").agg(
            F.array_sort(F.collect_list("h")).alias("hs"), F.count("*").alias("n_sh")
        )
        return (
            cands.join(
                tokset.select(F.col("_id").alias("id_a"), F.col("hs").alias("_ha"), F.col("n_sh").alias("n_a")),
                "id_a",
            )
            .join(
                tokset.select(F.col("_id").alias("id_b"), F.col("hs").alias("_hb"), F.col("n_sh").alias("n_b")),
                "id_b",
            )
            .withColumn("common", F.size(F.array_intersect("_ha", "_hb")))
            .select(
                "id_a",
                "id_b",
                (F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))).alias("jaccard"),
            )
        )
    return (
        pairs.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))).alias("jaccard"),
        )
    )


# --- X2: MinHash + LSH ----------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism when the upstream
    scan has fewer partitions than cores. Small parquet files arrive as
    ONE partition; the CPU-bound hash stages below would otherwise run
    single-threaded. At real scale (many input splits) this is a no-op.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Decide from the optimizer's size estimate — df.rdd.getNumPartitions()
    # would force a plan→RDD conversion per call. A scan smaller than
    # target × maxPartitionBytes cannot fill all cores, so spread it; a
    # big scan (the 100 TB case) already arrives as many splits → no-op.
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if size >= target * 128 * 1024 * 1024:  # default maxPartitionBytes
            return df
    except Exception:
        pass
    return df.repartition(target)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 126,
) -> DataFrame:
    """MinHash signature per document: num_hashes permutations via
    seeded rehash of a base shingle hash; signature[i] = min over
    shingles.

    Implemented as explode → whole-stage-codegen hash-aggregate with
    num_hashes ``min`` columns, NOT as nested higher-order-function
    lambdas: HOF bodies are interpreted row-at-a-time and opaque to
    Catalyst CSE, so a lambda formulation recomputes tokenize+shingle
    once per permutation (measured 100×+ slower). Here the text is
    shingled and string-hashed exactly once; the permutations hash
    (long, seed) pairs inside codegen. One shuffle on id (with map-side
    partial agg → one 126-long vector per doc crosses the wire)."""
    sh = (
        _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.explode(word_shingles(text_col, k)).alias("sh"))
        .select("_id", F.xxhash64("sh").alias("h"))
    )
    aggs = [F.min(F.xxhash64("h", F.lit(i))).alias(f"_m{i}") for i in range(num_hashes)]
    return (
        sh.groupBy("_id")
        .agg(*aggs)
        .select("_id", F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig"))
    )


def banded_buckets(signatures: DataFrame, bands: int = 42, rows: int = 3) -> DataFrame:
    """(_id, band, bucket) stream: each signature sliced into ``bands``
    bands of ``rows`` values, each band hashed to a fixed-width bucket
    key (the LSH shuffle key)."""
    return signatures.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice("sig", b * rows + 1, rows).cast("string")),
            )
        ).alias("band", "bucket"),
    )


def lsh_candidates_between(
    probe_sigs: DataFrame, index_sigs: DataFrame, bands: int = 42, rows: int = 3
) -> DataFrame:
    """Cross-side LSH candidates: probe signatures vs an existing
    signature index (no probe-probe or index-index pairs) — the
    incremental-ingestion shape, where a small new batch bands against
    a persisted index and only colliding buckets join. Returns distinct
    (id_a = probe id, id_b = index id)."""
    a = banded_buckets(probe_sigs, bands, rows).alias("a")
    b = banded_buckets(index_sigs, bands, rows).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def lsh_candidates(signatures: DataFrame, bands: int = 42, rows: int = 3) -> DataFrame:
    """Band the signatures and self-join on (band, bucket-hash).

    Bucket key is a hash of the band slice → fixed-width shuffle key.
    Emits distinct (id_a < id_b) candidate pairs.
    """
    banded = banded_buckets(signatures, bands, rows)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 126,
    bands: int = 42,
    rows: int = 3,
) -> DataFrame:
    """X2 end-to-end: MinHash → LSH banding → candidate join → exact
    Jaccard verification → threshold. Output is deterministic (exact
    Jaccard decides; LSH only prunes the pair space).

    Defaults are the textbook 126 permutations / 42 bands × 3 rows:
    band-miss probability for a pair at exactly J=0.7 is ~2e-8, below
    any plausible flake budget, so the oracle-checked registry entries
    can treat the output as exact. Corpora whose duplicate mass sits
    well above the threshold can halve the dominant signature-aggregate
    cost with ``num_hashes=63, bands=21`` (band-miss ≤2.9e-7 at J=0.8
    but ~1.5e-4 at J=0.7 — fast path only where that recall is
    acceptable; bench.py does this explicitly)."""
    sigs = minhash_signatures(docs, id_col, text_col, k, num_hashes)
    cands = lsh_candidates(sigs, bands, rows)
    verified = shingle_pairs_jaccard(docs, id_col, text_col, k, candidates=cands)
    return verified.filter(F.col("jaccard") >= threshold)


# --- X2f: duplicate clusters (connected components) -----------------------


def dup_clusters(
    docs: DataFrame, threshold: float = 0.7, pairs: DataFrame | None = None
) -> DataFrame:
    """X2f end-to-end: verified near-dup pairs → connected components
    (graph.connected_components). Deterministic because the pair set is (exact Jaccard ≥ t decides).

    ``pairs`` accepts a precomputed verified pair set (id_a, id_b) so a
    pipeline that already ran near_dup_pairs doesn't re-derive the
    MinHash/LSH/verify stream (mirrors shingle_pairs_jaccard's
    ``candidates=``). Default (None) computes it from ``docs``."""
    from finance_data_pipeline_spark.extensions.graph import connected_components

    if pairs is None:
        pairs = near_dup_pairs(docs, threshold=threshold)
    return connected_components(pairs.select("id_a", "id_b"))


def training_corpus(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    near_dup_threshold: float = 0.7,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Composed training-data cleaning pipeline (X1+X2+X4 in one query):

    1. drop exact duplicates (keep lowest doc_id per normalized hash),
    2. drop near-duplicate cluster non-representatives (keep the
       cluster's min doc_id),
    3. keep docs with quality_score ≥ threshold.

    The output is the deduplicated, quality-filtered corpus a pretrain
    pipeline would feed the tokenizer. Every stage is a bounded-key
    shuffle; nothing touches the driver.

    ``clusters`` accepts a precomputed (doc_id, cluster_id) frame (the
    dup_clusters output) so a pipeline that already clustered doesn't
    re-run the embedded MinHash/LSH/verify/CC chain. Default (None)
    computes it from ``docs``.
    """
    from finance_data_pipeline_spark.extensions.text import quality_score_expr

    survivors = exact_dedup(docs).select("doc_id", "text")
    if clusters is None:
        clusters = dup_clusters(docs, threshold=near_dup_threshold)
    non_reps = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    # The quality gate is a pure function of the text column the
    # survivors already carry — a row-local filter instead of the
    # former corpus self-join against a quality_score frame derived
    # from the same docs (guide §2.4).
    return (
        survivors.join(non_reps, "doc_id", "left_anti")
        .filter(quality_score_expr("text") >= quality_threshold)
        .select("doc_id")
    )


def decontaminate(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: drop training docs that share any
    k-word shingle with the held-out benchmark set (the standard
    pretraining hygiene step — exact n-gram overlap, the method used
    for public-benchmark contamination checks).

    The benchmark membership is hash-deterministic here (docs whose
    md5(doc_id) starts with ``BENCH_NIBBLE``, ~1/16 of the corpus) so
    the operator is self-contained on the driver tables; a real run
    passes the eval set as the benchmark side.

    Scale path: shingles are explode-then-hashed to 60-bit longs
    (md5_token_hash — engine-portable), the benchmark shingle set is
    distinct-ed BEFORE the join (benchmark ≪ train, so the semi-join's
    build side is small), and the final anti-join is on doc_id. Every
    shuffle key is a long; no strings cross the wire.
    """
    is_bench = hash_nibble(id_col) == BENCH_NIBBLE

    # Filter each side BEFORE shingling: the bench slice (1/16 of docs)
    # is shingled alone rather than shingling the full corpus and
    # filtering after — at 100 TB that is the difference between
    # exploding the eval set and exploding everything twice. The filter
    # is a pushed-down scan predicate on both branches.
    bench_sh = (
        shingle_hashes(_spread(docs.filter(is_bench)), k, id_col, text_col)
        .select("_h")
        .distinct()
    )
    train = docs.filter(~is_bench)
    contaminated = (
        shingle_hashes(_spread(train), k, id_col, text_col)
        .join(bench_sh, "_h", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti").select(id_col)


def contamination_scores(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scored contamination (the graded companion to ``decontaminate``'s
    binary drop): for every training doc, the fraction of its DISTINCT
    k-word shingles that also occur anywhere in the held-out benchmark
    slice — the overlap statistic eval-contamination reports actually
    publish, where a pipeline picks a cut-off instead of dropping on
    any single shared n-gram.

    Scale path mirrors ``decontaminate``: both sides are filtered
    BEFORE shingling, shingles travel as engine-portable 60-bit longs
    (md5_token_hash), and the benchmark shingle set is distinct-ed
    before the join (benchmark ≪ train, so it is the small side — at
    real scale it is the eval suite, a fixed few million shingles that
    AQE turns into a broadcast). One LEFT join carries a membership
    flag so n_shingles and overlap_shingles come out of a single pass
    over the train shingle stream — no second explode.

    Reference parity: generalizes fetch-pipeline hygiene checks
    (reference fetch_and_store.py validation pass) to the corpus level.
    Returns (doc_id, n_shingles, overlap_shingles, overlap_frac).
    """
    is_bench = hash_nibble(id_col) == BENCH_NIBBLE
    bench_sh = (
        shingle_hashes(_spread(docs.filter(is_bench)), k, id_col, text_col)
        .select("_h")
        .distinct()
        .withColumn("_m", F.lit(1))
    )
    train_sh = shingle_hashes(
        _spread(docs.filter(~is_bench)), k, id_col, text_col
    )
    return (
        train_sh.join(bench_sh, "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("_m", F.lit(0)).cast("long")).alias("overlap_shingles"),
        )
        .select(
            id_col,
            "n_shingles",
            "overlap_shingles",
            F.round(F.col("overlap_shingles") / F.col("n_shingles"), 6).alias(
                "overlap_frac"
            ),
        )
    )


def repeated_ngram_stats(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-duplication diagnostics (the corpus statistic
    behind suffix-array substring dedup, Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    length-``n`` token window of every doc — WITH positions and
    multiplicity, unlike the distinct shingle sets the Jaccard family
    uses — is duplicated iff the same n-gram occurs at ≥2 (doc, pos)
    locations corpus-wide (within-doc repeats count). Per doc:
    (n_grams, dup_grams, dup_fraction) — the span-level dup mass a
    pipeline reads before deciding to run span removal. Docs shorter
    than ``n`` tokens have no windows → (0, 0, 0.0).

    Scale: the positioned gram stream shuffles as 64-bit xxhash longs
    (gram text never leaves the first projection). Global occurrence
    counts come from a count() window over the gram hash — ONE shuffle
    keyed on the hash serves both the count and the per-row flag (a
    groupBy+rejoin would shuffle the stream twice) — then one
    map-side-combined groupBy(doc) folds the flags. No driver state,
    no pairwise joins: cost is linear in total token count at any
    corpus size (the suffix-array approach this approximates is
    superlinear to build and not partition-friendly).
    """
    toks = tokens(text_col)
    cnt = F.size(toks)
    grams = _sliding_grams(text_col, n)
    g = (
        _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.explode(grams).alias("_gram"))
        .select("_id", F.xxhash64("_gram").alias("_h"))
    )
    w = Window.partitionBy("_h")
    per = (
        g.withColumn("_c", F.count("*").over(w))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("_c") >= 2).cast("long")).alias("dup_grams"),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(per.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).alias("dup_grams"),
            F.round(
                F.coalesce("dup_grams", F.lit(0))
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The substring-dedup TRANSFORM (Lee et al. 2021's output, not just
    the diagnostic): every length-``n`` token window whose gram occurs
    at ≥2 (doc, pos) locations corpus-wide is removed at all but its
    canonical occurrence (the minimal doc_id·10⁶+pos — so exactly one
    copy of each duplicated span survives, deterministically); a
    token is dropped iff some removed window covers it. Returns per
    doc: original token count, removed-token count, and the md5 of the
    cleaned text (tokens rejoined with single spaces) — the digest
    makes the full rewritten corpus oracle-checkable without shipping
    text through the comparison.

    Scale shape: the positioned gram stream shuffles as 64-bit hashes;
    canonical selection is one map-side-combined (count, min) groupBy
    on the gram hash; removed window starts aggregate into one per-doc
    array (bounded per row by the doc's own window count) and the
    rebuild is a row-local projection after one left join — document
    text crosses at most one exchange, never the per-token stream.
    Linear in corpus token count — the partition-friendly alternative
    to the suffix-array construction. The occ-key encoding bounds
    positions at 10⁶ tokens/doc (chunk longer docs first — doc_chunks
    exists for exactly that).
    """
    toks = tokens(text_col)
    cnt = F.size(toks)
    grams = _sliding_grams(text_col, n)
    g = (
        _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.posexplode(grams).alias("_s", "_gram"))
        .select(
            "_id",
            "_s",
            F.xxhash64("_gram").alias("_h"),
            (F.col("_id") * 1_000_000 + F.col("_s")).alias("_occ"),
        )
    )
    meta = g.groupBy("_h").agg(
        F.count("*").alias("_c"), F.min("_occ").alias("_canon")
    )
    removed_w = (
        g.join(meta, "_h")
        .filter((F.col("_c") >= 2) & (F.col("_occ") != F.col("_canon")))
        .select("_id", "_s")
    )
    # ROW-LOCAL rebuild (guide §2.4, decontaminate_spans' shape): the
    # removed window starts aggregate into one per-doc array — bounded
    # per row by the doc's own window count, since every start lives in
    # [0, len) of its doc — and left-join back onto the doc stream;
    # each doc drops covered tokens and rebuilds its digest inside one
    # projection. The former shape posexploded EVERY corpus token,
    # anti-joined the exploded removed positions and re-collected whole
    # documents through a corpus-sized groupBy — the (pos, word) token
    # stream crossed two exchanges and the text was tokenized a third
    # time for n_tokens. A 0-based token position i is covered iff some
    # start s has s ≤ i ≤ s+n-1 — exactly the old exploded [s, s+n-1]
    # position set, so kept tokens, counts and digests are identical
    # (docs with every token removed land on md5(""), as before).
    rs = removed_w.groupBy("_id").agg(F.collect_list("_s").alias("_ss"))
    starts = F.coalesce(F.col("_ss"), F.array().cast("array<int>"))
    kept_arr = F.transform(
        F.filter(
            F.transform(
                toks,
                lambda w, i: F.struct(
                    w.alias("w"),
                    (
                        ~F.exists(
                            starts, lambda s: (s <= i) & (i <= s + (n - 1))
                        )
                    ).alias("keep"),
                ),
            ),
            lambda m: m["keep"],
        ),
        lambda m: m["w"],
    )
    base = _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
    return (
        base.join(rs, "_id", "left")
        .select(
            "_id",
            cnt.cast("long").alias("n_tokens"),
            kept_arr.alias("_kept"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("n_removed"),
            F.md5(F.array_join("_kept", " ")).alias("cleaned_md5"),
        )
    )


def decontaminate_spans(
    docs: DataFrame,
    bench_ids: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level benchmark decontamination — the surgical variant of
    whole-doc dropping (decontaminated_corpus): every length-``n``
    token window of a TRAINING doc whose n-gram also occurs anywhere in
    the BENCHMARK set is removed (all covered tokens dropped), keeping
    the rest of the doc. This is the exact-match n-gram scrub the
    published pretraining pipelines apply against eval sets (the
    GPT-3/PaLM-style 13-gram rule; ``n`` is a knob — the driver corpus
    has short docs, so tests exercise n=8 and smaller), where dropping
    whole documents would waste the >99% of tokens that never overlap
    a benchmark.

    ``bench_ids`` is a 1-column frame of ``id_col`` values naming the
    benchmark docs within ``docs``; training docs are everything else.

    Scale shape: benchmark grams travel as DISTINCT 64-bit xxhash
    longs — at any corpus size the bench side is eval-set-sized
    (thousands of docs), so its gram set broadcasts and the training
    stream is filtered with one semi join, no shuffle of the corpus on
    gram hash at all. Removed-window positions fan out ≤ n per hit and
    distinct per doc; the rebuild is one per-doc groupBy. Per-doc
    outputs (n_tokens, n_removed, cleaned_md5) follow
    remove_duplicate_spans' digest convention so the rewritten corpus
    is oracle-checkable without shipping text.
    """
    toks = tokens(text_col)
    cnt = F.size(toks)
    grams = _sliding_grams(text_col, n)
    ids = bench_ids.select(F.col(bench_ids.columns[0]).alias("_bid"))
    base = _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
    train = base.join(ids, base["_id"] == ids["_bid"], "left_anti")
    bench = base.join(ids, base["_id"] == ids["_bid"], "left_semi")
    bench_h = (
        bench.select(F.explode(grams).alias("_gram"))
        .select(F.xxhash64("_gram").alias("_h"))
        .distinct()
    )
    g = train.select("_id", F.posexplode(grams).alias("_s", "_gram")).select(
        "_id", "_s", F.xxhash64("_gram").alias("_h")
    )
    removed_w = g.join(F.broadcast(bench_h), "_h", "left_semi").select("_id", "_s")
    # ROW-LOCAL rebuild (guide §2.4): only hit documents carry state —
    # their window starts aggregate into one small per-doc array
    # (bounded by the doc's window count; hits are eval-set-sparse),
    # left-joined back onto the training stream; each doc then drops
    # covered tokens and rebuilds its digest inside one projection.
    # The former shape posexploded EVERY training token, anti-joined
    # the removed positions and re-collected whole documents through a
    # corpus-sized groupBy — three corpus-scale stages for a per-row
    # computation. A token at 0-based position i is covered iff some
    # start s has s ≤ i ≤ s+n-1 — exactly the old exploded [s, s+n-1]
    # position set, so kept tokens, counts and digests are identical
    # (empty docs and all-removed docs both land on md5("")).
    rs = removed_w.groupBy("_id").agg(F.collect_list("_s").alias("_ss"))
    starts = F.coalesce(F.col("_ss"), F.array().cast("array<int>"))
    kept_arr = F.transform(
        F.filter(
            F.transform(
                toks,
                lambda w, i: F.struct(
                    w.alias("w"),
                    (
                        ~F.exists(
                            starts, lambda s: (s <= i) & (i <= s + (n - 1))
                        )
                    ).alias("keep"),
                ),
            ),
            lambda m: m["keep"],
        ),
        lambda m: m["w"],
    )
    return (
        train.join(rs, "_id", "left")
        .select(
            "_id",
            cnt.cast("long").alias("n_tokens"),
            kept_arr.alias("_kept"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("n_removed"),
            F.md5(F.array_join("_kept", " ")).alias("cleaned_md5"),
        )
    )


def dedup_keep_best(
    docs: DataFrame,
    threshold: float = 0.7,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cluster-representative selection by QUALITY instead of min-id:
    within each near-dup cluster keep the highest-quality_score doc
    (ties → lowest doc_id); docs in no cluster keep themselves. This is
    the dedup policy production corpora actually want — min-id keeps
    whichever copy crawled first; keep-best keeps the cleanest copy.

    ``clusters`` accepts a precomputed (doc_id, cluster_id) frame (the
    dup_clusters output) like training_corpus does, so a pipeline that
    already clustered doesn't re-run MinHash/LSH/verify/CC. Costs one
    per-cluster window (clusters are tiny — bounded by near-dup group
    size) plus one anti-join for the singleton complement.
    Returns kept (doc_id, cluster_id); singleton cluster_id = doc_id.
    """
    from finance_data_pipeline_spark.extensions.text import quality_score

    if clusters is None:
        clusters = dup_clusters(docs, threshold=threshold)
    q = quality_score(docs, id_col, text_col)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality_score"), id_col)
    reps = (
        clusters.join(q, id_col)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "cluster_id")
    )
    singles = (
        docs.select(id_col)
        .join(clusters.select(id_col), id_col, "left_anti")
        .select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    )
    return reps.unionByName(singles)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Asymmetric near-containment (quote/subset detection): ordered
    pairs (id_a, id_b) where C(A→B) = |Sₐ∩S_b|/|Sₐ| ≥ threshold over
    distinct k-word shingle sets — "document A is mostly contained in
    document B". Near-dup Jaccard misses these (a paragraph quoted
    inside a long doc has tiny Jaccard but containment ≈ 1); corpus
    dedup wants both.

    Same machinery as shingle_pairs_jaccard: shingles travel as 64-bit
    hashes, verification = sorted-array intersect per pair. Candidates
    use a ONE-SIDED prefix filter (the PPJoin overlap bound applied to
    containment): C(A→B) ≥ t forces |Sₐ∩S_b| ≥ ⌈t·|Sₐ|⌉, so if NONE of
    A's (|Sₐ| − ⌈t·|Sₐ|⌉ + 1) globally-rarest shingles were in B the
    intersection could be at most ⌈t·|Sₐ|⌉ − 1 < t·|Sₐ| — contradiction.
    Hence the inverted index posts only A-side PREFIX shingles (≈(1−t)
    of each doc at t=0.9) against B's full stream. This is exact (no
    recall loss) and it bounds the hot-key quadratic the raw
    shared-shingle self-join had: a stop-word shingle's huge posting
    list survives only on the B side; its A side holds just the docs
    for which that shingle is among their rarest — join cost per key is
    |prefixA(h)|·|fullB(h)|, not |post(h)|². (B has no symmetric length
    filter — B may be much longer than A — so B-side pruning beyond the
    prefix is impossible for containment.)
    """
    sh = (
        _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.explode(word_shingles(text_col, k)).alias("sh"))
        .select("_id", F.xxhash64("sh").alias("h"))
    )
    tokset = sh.groupBy("_id").agg(
        F.array_sort(F.collect_list("h")).alias("hs"), F.count("*").alias("n_sh")
    )
    # Rarest-first prefix per A-doc, ordered by global shingle frequency
    # (ties on the hash for determinism) — same index shape as
    # string_sim_join's, but posted for the contained side only.
    freq = sh.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("_id").orderBy("df", "h")
    prefix_a = (
        sh.join(freq, "h")
        .join(sh.groupBy("_id").agg(F.count("*").alias("n")), "_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
        .select("_id", "h")
    )
    cands = (
        prefix_a.alias("a")
        .join(sh.alias("b"), (F.col("a.h") == F.col("b.h")) & (F.col("a._id") != F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return (
        cands.join(
            tokset.select(F.col("_id").alias("id_a"), F.col("hs").alias("_ha"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(tokset.select(F.col("_id").alias("id_b"), F.col("hs").alias("_hb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.size(F.array_intersect("_ha", "_hb")) / F.col("n_a"), 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


# --- X2b: prefix-filtered exact string similarity join --------------------

# Multi-word bitmask dispatch bounds. Vocab cap keeps the per-pair
# popcount expression small (≤16 codegen terms) and each mask ≤128 B;
# sets cap bounds the broadcast of distinct-set triples (~24 B + mask
# each, ≈20 MB worst case). Past either cap the prefix-filter path
# takes over — a large vocabulary is exactly what makes it effective.
_MASK_VOCAB_CAP = 1024
_MASK_SETS_CAP = 200_000


def _popcount_sum(col: str, n_words: int):
    """Σ bit_count(col[i]) over the fixed mask width — a static codegen
    expression tree, not an interpreted HOF fold."""
    out = F.bit_count(F.col(col)[0])
    for i in range(1, n_words):
        out = out + F.bit_count(F.col(col)[i])
    return out


def _popcount_and(col_a: str, col_b: str, n_words: int):
    """Σ bit_count(a[i] & b[i]) — the set-intersection size."""
    out = F.bit_count(F.col(col_a)[0].bitwiseAND(F.col(col_b)[0]))
    for i in range(1, n_words):
        out = out + F.bit_count(F.col(col_a)[i].bitwiseAND(F.col(col_b)[i]))
    return out


def string_sim_join(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    grams=None,
    vocab_size_hint: int | None = None,
) -> DataFrame:
    """Exact token-Jaccard self-join with prefix filtering (the
    AllPairs/PPJoin candidate-pruning family; cf. "Highly Efficient
    String Similarity Search and Join over Compressed Indexes",
    ICDE 2022 — PAPERS.md).

    Unlike MinHash LSH (probabilistic candidates), this is EXACT with no
    miss probability: two sets with Jaccard ≥ t must share at least one
    token among each one's (|s| − ⌈t·|s|⌉ + 1) globally-rarest tokens,
    so the inverted-index join is built over prefixes only. On skewed
    real corpora this cuts the candidate space by orders of magnitude
    versus a full-token join (stop-word postings never join); every
    stage is a bounded-key shuffle.

    Returns (id_a, id_b, jaccard) for all pairs with token-Jaccard ≥ t.

    Verification is a compact pair join against per-document
    hashed-token ARRAYS with JVM-side ``array_intersect`` — on a
    heavily-duplicated corpus the candidate set is quadratic in the
    duplicate-cluster size, and the exploded (pair × token) join form
    of verification multiplies that by tokens-per-doc; the array form
    shuffles each pair exactly once (measured ~10× faster at sf0.1).

    Small vocabularies (≤ _MASK_VOCAB_CAP distinct tokens) dispatch to
    a multi-word bitmask path instead — prefix filtering can't prune a
    corpus with no rare tokens. See the inline dispatch comment; the
    sf0.1→sf1 growth probe (GROWTH_PROBE.json) is the regression
    witness for the dispatch cliff this replaces.

    ``vocab_size_hint`` (VERDICT r8 item 7): a caller that already
    knows the distinct-token count exceeds ``_MASK_VOCAB_CAP`` (any
    lower bound above the cap is enough) can pass it to skip the
    dispatch's one distinct-token count over the tokenized frame — one
    corpus pass saved per call at 100 TB. Hints ≤ the cap are IGNORED
    and the exact count is taken: the mask path needs the true count
    for its bit-width, so dispatching onto it from a trusted hint could
    silently truncate masks. A hint therefore only ever selects the
    always-exact prefix path; no hint value can change results.
    """
    # The gram column (default word tokens; char_ngrams for the n-gram
    # Jaccard variant) is already array_distinct per doc; hashing AFTER
    # the explode keeps xxhash64 inside whole-stage codegen (a transform()
    # lambda would run interpreted per token).
    if grams is None:
        grams = word_shingles(text_col, 1)
    base = (
        _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.explode(grams).alias("_t"))
        .select("_id", F.xxhash64("_t").alias("tok"))
    )
    sizes = base.groupBy("_id").agg(F.count("*").alias("n"))
    # Global document frequency orders tokens rarest-first; ties break
    # on the hash so the prefix choice is deterministic.
    freq = base.groupBy("tok").agg(F.count("*").alias("df"))
    # Adaptive small-vocabulary path: when the global dictionary is small
    # (≤ _MASK_VOCAB_CAP tokens) a token set is a fixed array of 64-bit
    # words and Jaccard collapses to whole-stage-codegen popcount sums —
    # no prefix index, no array intersections. The prefix filter is the
    # wrong tool in this regime: with no rare tokens every posting list
    # is dense, so candidates degenerate to near-all-pairs (the sf0.1→sf1
    # growth probe measured the old 64-bit-only dispatch falling off this
    # cliff at 10× data: ×27.6 wall growth on a 31→310-word vocabulary).
    # The quadratic loop runs over DISTINCT token sets, not documents:
    # identical sets collapse to one representative before the broadcast
    # nested-loop, and member expansion afterwards is a distributed,
    # output-bound join. On a fixed small vocabulary the distinct-set
    # count saturates as the corpus grows, so the m² loop is
    # asymptotically CONSTANT and the whole operator linear+output-bound
    # — the property that makes this the 100 TB path for low-diversity
    # token sets (categorical signatures, template corpora). Exactness
    # is identical to the general path, so the dispatch is invisible.
    if vocab_size_hint is not None and vocab_size_hint > _MASK_VOCAB_CAP:
        n_vocab = vocab_size_hint  # past the cap: prefix path, no count
    else:
        n_vocab = freq.count()
    if 0 < n_vocab <= _MASK_VOCAB_CAP:
        # Cap guard BEFORE any mask work (ADVICE r7): the doc count
        # upper-bounds the distinct-set count, so the exact set count
        # (one groupBy over base — no bit assignment, no mask assembly)
        # only runs in the past-the-bound case, and a fall-through to
        # the prefix path computes and pins nothing it then discards.
        # docs.count() (a metadata-cheap scan, usually parquet
        # count-star) rather than sizes.count(): the bound doesn't need
        # the tokenized frame, and re-evaluating base here would cost an
        # extra explode+hash pass in the common small-corpus case.
        n_members = docs.count()
        if n_members > _MASK_SETS_CAP:
            n_sets = (
                base.groupBy("_id")
                .agg(F.sort_array(F.collect_set("tok")).alias("_ts"))
                .agg(F.countDistinct("_ts").alias("m"))
                .first()["m"]
            )
        else:
            n_sets = n_members
        if n_sets <= _MASK_SETS_CAP:
            n_words = (n_vocab + 63) // 64
            bits = freq.select(
                "tok",
                (F.row_number().over(Window.orderBy("df", "tok")) - 1).alias("bit"),
            )
            # Per-doc mask: group bits into 64-bit words, then assemble the
            # fixed-width array (absent words zero-filled via the map).
            word_masks = (
                base.join(F.broadcast(bits), "tok")
                .groupBy("_id", F.expr("bit DIV 64").alias("w"))
                .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), bit % 64)")).alias("m"))
            )
            arr = F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(F.col("_mm")[i], F.lit(0).cast("long")),
            )
            masks = (
                word_masks.groupBy("_id")
                .agg(F.map_from_entries(F.collect_list(F.struct("w", "m"))).alias("_mm"))
                .select("_id", arr.alias("arr"))
            )
            # Distinct-set grouping: gid = smallest member id (exact, no
            # hash-collision risk). members is consumed four times below,
            # so pin it once; the checkpoint is n_docs × (8B + 8·n_words)
            # — corpus-linear and tiny, and it lives only for this call's
            # plan (the fall-through branch above never builds it).
            members = (
                masks.withColumn("gid", F.min("_id").over(Window.partitionBy("arr")))
                .select("_id", "gid", "arr")
                .localCheckpoint()
            )
            sets = (
                members.groupBy("gid")
                .agg(F.first("arr").alias("arr"))
                .withColumn("n", _popcount_sum("arr", n_words))
            )
            # Explicit repartition of the streamed side: the tiny sets
            # frame otherwise AQE-coalesces to ONE partition and the m²
            # nested loop runs single-threaded (measured 56 s vs 2 s at
            # the 10× probe SF).
            par = docs.sparkSession.sparkContext.defaultParallelism
            sa = sets.repartition(par).select(
                F.col("gid").alias("gid_a"), F.col("arr").alias("ma"), F.col("n").alias("na")
            )
            sb = sets.select(
                F.col("gid").alias("gid_b"), F.col("arr").alias("mb"), F.col("n").alias("nb")
            )
            common = _popcount_and("ma", "mb", n_words)
            jac = common / (F.col("na") + F.col("nb") - common)
            # Every predicate (canonical order, length filter, the exact
            # Jaccard threshold) lives INSIDE the join condition: the
            # broadcast nested-loop then emits only qualifying set pairs
            # instead of materializing the full m² grid for a later
            # filter.
            cross = sa.join(
                F.broadcast(sb),
                (F.col("gid_a") < F.col("gid_b"))
                & (F.least("na", "nb") >= threshold * F.greatest("na", "nb"))
                & (jac >= threshold),
            ).select("gid_a", "gid_b", jac.alias("jaccard"))
            # Expansion is output-bound: qualifying set pairs × members.
            # Cross-group members interleave in id space, so orient each
            # doc pair with least/greatest (groups are disjoint — every
            # unordered pair surfaces exactly once). Identical-set pairs
            # have Jaccard exactly 1.0. No broadcast hints here (ADVICE
            # r7): members is one row PER DOCUMENT — corpus-sized, not
            # cap-bounded — so these join as bounded-key shuffles on the
            # long gid (16-byte rows); AQE still picks broadcast-hash
            # when the frames really are small.
            mem_a = members.select(F.col("gid").alias("gid_a"), F.col("_id").alias("xa"))
            mem_b = members.select(F.col("gid").alias("gid_b"), F.col("_id").alias("xb"))
            cross_pairs = (
                cross.join(mem_a, "gid_a")
                .join(mem_b, "gid_b")
                .select(
                    F.least("xa", "xb").alias("id_a"),
                    F.greatest("xa", "xb").alias("id_b"),
                    "jaccard",
                )
            )
            intra = (
                members.alias("p")
                .join(
                    members.alias("q"),
                    (F.col("p.gid") == F.col("q.gid")) & (F.col("p._id") < F.col("q._id")),
                )
                .select(
                    F.col("p._id").alias("id_a"),
                    F.col("q._id").alias("id_b"),
                    F.lit(1.0).alias("jaccard"),
                )
            )
            return cross_pairs.unionByName(intra)
        # Set diversity too high for a bounded broadcast — fall through
        # to the prefix-filter path (high diversity implies enough rare
        # tokens for the prefix index to prune on).
    w = Window.partitionBy("_id").orderBy("df", "tok")
    prefix = (
        base.join(freq, "tok")
        .join(sizes, "_id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
        .select("_id", "tok", "n")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a._id") < F.col("b._id"))
            # Length filter: J ≥ t forces t·max(|a|,|b|) ≤ min(|a|,|b|).
            & (F.least("a.n", "b.n") >= threshold * F.greatest("a.n", "b.n")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
        # Bounded (~|output|-sized) pair set, referenced three times
        # below — pin it once (the shingle_pairs_jaccard discipline).
        .localCheckpoint()
    )
    # Semi-join reduction (guide §3.2): only candidate-pair endpoints
    # need their sorted token array — pruning before the collect_list
    # groupBy drops the verify shuffle from O(corpus) to O(candidate
    # docs). Token streams and values are unchanged.
    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("_id")).distinct()
    tokset = (
        base.join(cand_ids, "_id", "left_semi")
        .groupBy("_id")
        .agg(
            F.array_sort(F.collect_list("tok")).alias("toks"),
            F.count("*").alias("n"),
        )
    )
    return (
        cands.join(tokset.select(F.col("_id").alias("id_a"), F.col("toks").alias("_ta"), F.col("n").alias("n_a")), "id_a")
        .join(tokset.select(F.col("_id").alias("id_b"), F.col("toks").alias("_tb"), F.col("n").alias("n_b")), "id_b")
        .withColumn("common", F.size(F.array_intersect("_ta", "_tb")))
        .select(
            "id_a",
            "id_b",
            (F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- X2c: SimHash ---------------------------------------------------------


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum ±1 weighted
    by token hash bit; sign → bit. Pure array/HOF math, no UDF.

    Implemented as explode → codegen hash-aggregate with 64 conditional
    sums (one per bit), then a single assembly projection — NOT as HOF
    folds, which are interpreted and recompute the token hashing per
    bit (see minhash_signatures). One shuffle on id with map-side
    partial agg (64 longs per doc per mapper).

    ``token_hash`` (a Column over ``tok``) defaults to xxhash64 — the
    scale path. Pass an engine-portable hash (e.g. 60 bits of md5, see
    md5_token_hash) with matching ``bits`` to make the whole operator
    reproducible in a SQL oracle."""
    if token_hash is None:
        token_hash = F.xxhash64("tok")
    th = (
        _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .select("_id", token_hash.alias("h"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    sig = F.lit(0).cast("long")
    for b in range(bits):
        # 1 << 63 overflows signed long; its two's-complement value is
        # the sign bit.
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(F.col(f"_b{b}") > 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return th.groupBy("_id").agg(*bit_sums).select("_id", sig.alias("simhash"))


def md5_token_hash(col="tok"):
    """Engine-portable token hash: the first 15 hex chars (60 bits) of
    md5 — bit-identical in Spark (conv base 16→10) and DuckDB/ANSI SQL
    (positional hex-digit shifts), unlike xxhash64. 15 chars keeps the
    value inside a signed 64-bit long in both engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def shingle_hashes(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, _h): one row per distinct k-word shingle of each doc, as its
    md5_token_hash — the shingle stream the batch and streaming
    decontamination paths semi-join on."""
    return docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("_sh")
    ).select(id_col, md5_token_hash("_sh").alias("_h"))


def token_hash_positions(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(_id, _p, _h): every token of each doc with its 0-based position
    and md5_token_hash — the stream the n-gram language models lag over."""
    base = _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
    return base.select(
        "_id", F.posexplode(tokens(text_col)).alias("_p", "_w")
    ).select("_id", "_p", md5_token_hash("_w").alias("_h"))


def token_buckets(
    docs: DataFrame, key_col: str, key: str, n_buckets: int, text_col: str = "text"
) -> DataFrame:
    """(key, _b): every token of each doc keyed by ``key_col`` (renamed
    ``key``), as its md5_token_hash bucket in [0, n_buckets) — the
    hashed-unigram stream of the bucket distributions (DSIR, source KL
    and JS divergence)."""
    return (
        _spread(docs.select(F.col(key_col).alias(key), F.col(text_col)))
        .select(key, F.explode(tokens(text_col)).alias("_w"))
        .select(key, (md5_token_hash("_w") % n_buckets).alias("_b"))
    )


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Hamming-ball pairs via 4-block banding (Pigeonhole: distance ≤ 3
    ⇒ at least one block of bits/4 identical) — join on block value,
    then verify exact Hamming distance via bit_count(xor)."""
    block_bits = bits // 4
    block_mask = (1 << block_bits) - 1
    sigs = simhash(docs, id_col, bits=bits, token_hash=token_hash)
    blocks = sigs.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright("simhash", i * block_bits).bitwiseAND(F.lit(block_mask))
                for i in range(4)
            ])
        ).alias("block_idx", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- X2j: corpus-level boilerplate-segment removal ------------------------


def line_dedup(
    docs: DataFrame,
    seg_len: int = 10,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate-line removal (the RefinedWeb / CCNet line-dedup
    step): split each doc into fixed ``seg_len``-token segments, drop
    EVERY occurrence of any segment that appears in >= ``min_docs``
    distinct documents, and rebuild the doc from the survivors in
    order.

    Differs from :func:`remove_duplicate_spans` (Lee et al. ExactSubstr,
    which keeps one canonical occurrence of every duplicated sliding
    window) in granularity and policy: segments tile the doc instead of
    sliding, and cross-document boilerplate is removed from ALL docs —
    the right semantics for navigation chrome / license banners that
    should survive nowhere.

    Scale path: segmentation is a row-local higher-order function (no
    explode of sliding windows — each token lands in exactly one
    segment, so the exploded stream is |corpus| tokens / seg_len rows);
    the global frequency count groups on an engine-portable 60-bit md5
    hash (strings never shuffle); the rebuild is one groupBy(doc_id)
    with an in-group sort of (idx, seg) structs. Two shuffles total.

    Reference parity: corpus-hygiene extension of the reference's
    validation pass (fetch_and_store.py) — no native analogue.
    Returns (doc_id, n_segments, n_removed, cleaned_md5).
    """
    def _build_segs(tk):
        n = F.size(tk)
        n_segs = F.ceil(n / F.lit(float(seg_len))).cast("int")
        return F.when(
            n_segs >= 1,
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.array_join(F.slice(tk, i * seg_len + 1, seg_len), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # token array let_-bound: one regex split per row, not per segment
    segs = let_(tokens(text_col), _build_segs)
    seg_rows = _spread(docs).select(
        F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg")
    ).withColumn("_h", md5_token_hash("seg"))

    dup_h = (
        seg_rows.select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h", F.lit(1).alias("_dup"))
    )
    # ROW-LOCAL rebuild (guide §2.4, the decontaminate_spans move):
    # only documents containing a boilerplate segment carry state —
    # their removed segment indexes aggregate into one small per-doc
    # array, left-joined back onto the doc stream; each doc then drops
    # those indexes from its (row-local) segment array and rebuilds
    # count/digest inside one projection. The former shape re-collected
    # EVERY document's segments through a corpus-sized groupBy.
    removed = (
        seg_rows.join(dup_h, "_h")
        .groupBy(id_col)
        .agg(F.collect_list("seg_idx").alias("_ri"))
    )
    ri = F.coalesce(F.col("_ri"), F.array().cast("array<int>"))
    # let_-bind the segment array so the (interpreted) segmentation
    # transform runs ONCE per row across all three consumers (size,
    # kept filter, digest); the 0/1-element explode is the projection
    # barrier AND the zero-token contract — docs with no segments
    # produced no exploded rows before and were absent from the
    # per-doc rollup.
    rep = let_(
        segs,
        lambda sg: F.when(
            F.size(sg) > 0,
            F.struct(
                F.size(sg).cast("long").alias("n_segments"),
                F.size(ri).cast("long").alias("n_removed"),
                F.md5(
                    F.array_join(
                        F.filter(sg, lambda s, i: ~F.array_contains(ri, i)),
                        " ",
                    )
                ).alias("cleaned_md5"),
            ),
        ),
    )
    return (
        docs.join(removed, id_col, "left")
        .select(
            F.col(id_col),
            F.explode(F.filter(F.array(rep), lambda e: e.isNotNull())).alias("_r"),
        )
        .select(
            id_col,
            F.col("_r")["n_segments"].alias("n_segments"),
            F.col("_r")["n_removed"].alias("n_removed"),
            F.col("_r")["cleaned_md5"].alias("cleaned_md5"),
        )
    )


# --- X6++: Bloom-filter decontamination (constant-size build side) --------


def _bloom_wb(sh: F.Column, m: int) -> F.Column:
    """The three Bloom bit positions of a shingle as array<struct<w,b>>
    (word index, bit-in-word of the 63-bit word layout), from ONE md5:
    hex digits 1-10 / 11-20 / 21-30 are disjoint 40-bit slices of the
    digest, reduced mod ``m``. Engine-portable (DuckDB rebuilds the
    identical values with positional hex shifts). Both the bitmap build
    and the probe explode/test these same structs."""
    # The word index is floor(pos / 63) (double division) because pos
    # is an anonymous expression where SQL div is unreachable. Double
    # division is bit-exact only while pos < 2^53, and pos < m always —
    # fail loudly instead of mis-placing bits if a caller ever asks for
    # a bitmap that large.
    if m > 1 << 52:
        raise ValueError(f"bloom m={m} exceeds the exact float-div range")
    md = F.md5(sh)
    out = []
    for j in range(3):
        pos = F.conv(F.substring(md, 1 + 10 * j, 10), 16, 10).cast("long") % m
        out.append(
            F.struct(
                F.floor(pos / 63).cast("long").alias("w"),
                (pos % 63).cast("int").alias("b"),
            )
        )
    return F.array(*out)


def bloom_decontaminate(
    docs: DataFrame,
    k: int = 3,
    n_words: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter: the held-out
    slice's k-word shingles are folded into an ``m = 63 * n_words``-bit
    bitmap (3 hash functions), and every training doc is probed against
    it. Returns (doc_id, bloom_hit, exact_hit) per training doc, where
    ``exact_hit`` is the true shared-shingle flag (semi-join semantics
    of :func:`decontaminate`) — so ``bloom_hit >= exact_hit`` always
    (no false negatives) and the gap IS the false-positive count.

    Why this exists next to :func:`decontaminate`: the exact path
    distinct-s the benchmark shingle set and semi-joins it, which is
    right while that set fits a broadcast. At 100 TB with a large eval
    suite the bitmap is the standard answer — 16 KiB here (2048 words)
    and CONSTANT in the benchmark's size; probes never shuffle the
    benchmark side at all. Expected FP rate (1 - e^(-3n/m))^3 — with
    m = 129,024 bits it stays < 1e-3 up to ~2,600 distinct bench
    shingles; size n_words to the eval suite at real scale.

    The filter is deterministic (md5-slice hashes, fixed m), so the
    whole operator — false positives included — replays bit-exactly in
    the SQL oracle.

    Bits use 63 positions per signed-64 word (the sign bit stays
    clear), sidestepping engine-specific overflow on ``1 << 63``.
    """
    m = 63 * n_words
    is_bench = hash_nibble(id_col) == BENCH_NIBBLE

    bench_sh = (
        _spread(docs.filter(is_bench))
        .select(F.explode(word_shingles(text_col, k)).alias("sh"))
        .distinct()
    )
    bloom = (
        bench_sh.select(F.explode(_bloom_wb(F.col("sh"), m)).alias("_wb"))
        .select("_wb.w", "_wb.b")
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").alias("mask"))
    )
    bench_h = (
        bench_sh.select(md5_token_hash("sh").alias("_h"))
        .distinct()
        .withColumn("_e", F.lit(1))
    )

    tsh = _spread(docs.filter(~is_bench)).select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("sh")
    )
    # ROW-LOCAL probe (guide §2.4): the 16 KiB bitmap is packed once into
    # a zero-filled dense array<bigint> indexed by word (one broadcast
    # row), and every shingle tests its 3 bits in place. The three tests
    # are unrolled over _bloom_wb(sh, m)[j]; the optimizer folds each
    # [j].w / [j].b down to its slice of md5(sh), so whole-stage codegen
    # evaluates ONE md5(sh) per shingle for the probe and md5_token_hash.
    # (A map<word, mask> probed inside a forall scanned the keys
    # linearly in an interpreted lambda; the 3-bit AND is the same test,
    # so hits stay bit-identical, including the Bloom false positives
    # the oracle replays.)
    packed = bloom.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("w", "mask"))).alias("_m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda w: F.coalesce(F.element_at("_m", w), F.lit(0).cast("bigint")),
        ).alias("_bm")
    )
    wb = _bloom_wb(F.col("sh"), m)
    in_bloom = [
        F.call_function("shiftright", F.col("_bm")[wb[j]["w"]], wb[j]["b"]).bitwiseAND(
            F.lit(1).cast("bigint")
        )
        == 1
        for j in range(3)
    ]
    probed = tsh.crossJoin(F.broadcast(packed)).select(
        id_col,
        md5_token_hash("sh").alias("_h"),
        (in_bloom[0] & in_bloom[1] & in_bloom[2]).cast("int").alias("_in_bloom"),
    )
    return (
        probed.join(bench_h, "_h", "left")
        .groupBy(id_col)
        .agg(
            F.max("_in_bloom").cast("long").alias("bloom_hit"),
            F.max(F.coalesce("_e", F.lit(0))).cast("long").alias("exact_hit"),
        )
    )


def soft_dedup_weights(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Soft deduplication: instead of dropping near-duplicates, keep
    every document and down-weight repeated content by
    1/cluster_size — the loss-weighting alternative to hard removal
    (duplicates contribute one document's worth of gradient in total).

    Composes the verified near-dup cluster graph (dup_clusters) with a
    left join back to the corpus: cluster members carry their cluster's
    size, singletons weight 1.0. ``clusters`` accepts a precomputed
    (doc_id, cluster_id) frame so a pipeline that already clustered
    does not re-derive MinHash/LSH/verify (same seam as
    dup_clusters(pairs=)/training_corpus(clusters=)).

    Scale: the cluster frame is tiny relative to the corpus (only docs
    with at least one verified near-dup appear), so the join broadcasts
    at any corpus size where dedup is sane; weights are row-local
    arithmetic after that.

    Returns (doc_id, cluster_size, weight, n_tokens) — weight rounded
    to 6 dp, n_tokens the whitespace token count the weight applies to.
    """
    from finance_data_pipeline_spark.extensions.text import token_count

    if clusters is None:
        clusters = dup_clusters(docs, threshold=threshold)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("_csize")
    )
    member = clusters.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("_cid"), F.col("_csize")
    )
    return (
        docs.select(F.col(id_col), token_count(text_col).cast("long").alias("n_tokens"))
        .join(F.broadcast(member), F.col(id_col) == F.col("_cid"), "left")
        .select(
            id_col,
            F.coalesce("_csize", F.lit(1)).cast("long").alias("cluster_size"),
            F.round(
                F.lit(1.0) / F.coalesce("_csize", F.lit(1)).cast("double"), 6
            ).alias("weight"),
            "n_tokens",
        )
    )


def source_ngram_overlap(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Pairwise source-level shingle overlap: for every pair of corpus
    sources, the count of shared distinct k-word shingles and their
    Jaccard — the diversity/contamination diagnostic that tells you
    whether two ingest feeds are re-crawls of each other before any
    doc-level dedup runs.

    Shape: distinct (source, shingle) → per-shingle source set → pairs.
    The per-shingle fan-out is bounded by C(n_sources, 2) regardless of
    how many documents share the shingle, so no posting-list quadratic
    exists — the expensive part is one distinct over (source, shingle),
    a single map-side-combined shuffle that scales with corpus bytes.

    Returns (source_a, source_b, common, jaccard) with source_a <
    source_b, jaccard rounded to 6 dp.
    """
    # ONE corpus-scale shuffle (guide §2.4): collect each shingle's
    # distinct source set (collect_set partially aggregates map-side),
    # then fan out the C(|set|, 2) ordered source pairs ROW-LOCALLY —
    # the former shape paid a distinct over (source, shingle), a
    # re-shuffle of BOTH sides of a self-join on the shingle string,
    # and a separate sizes groupBy (4 corpus-scale exchanges total).
    # The per-shingle fan-out stays bounded by C(n_sources, 2); sizes
    # and pair counts aggregate over bounded keys. Counts are integer
    # and the source sets identical → same rows.
    srcs = (
        _spread(
            docs.select(
                F.col(source_col).alias("_src"),
                F.explode(word_shingles(text_col, k)).alias("_sh"),
            )
        )
        .groupBy("_sh")
        .agg(F.array_sort(F.collect_set("_src")).alias("_ss"))
    )
    sizes = (
        srcs.select(F.explode("_ss").alias("_src"))
        .groupBy("_src")
        .agg(F.count("*").alias("_n"))
    )
    pairs = (
        srcs.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "_ss",
                        lambda a, i: F.transform(
                            F.slice(
                                "_ss", i + 2, F.greatest(F.size("_ss") - i - 1, F.lit(0))
                            ),
                            lambda b: F.struct(
                                a.alias("source_a"), b.alias("source_b")
                            ),
                        ),
                    )
                )
            ).alias("_p")
        )
        .groupBy(
            F.col("_p")["source_a"].alias("source_a"),
            F.col("_p")["source_b"].alias("source_b"),
        )
        .agg(F.count("*").alias("common"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("_src", "source_a").withColumnRenamed("_n", "_na")),
            "source_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("_src", "source_b").withColumnRenamed("_n", "_nb")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# --- X1+: canonical-form dedup / X6×X2: split leakage ---------------------


def canonical_text(text_col="text"):
    """Canonical form for near-exact dedup: casefold, strip everything
    but [a-z0-9], collapse runs of separators to one space, trim —
    catches re-encoded / reformatted copies byte-exact hashing misses."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def canonical_dedup_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-``group_col`` keep/drop accounting of dedup on the canonical
    form: keeper = min ``id_col`` per canonical md5 (global groups; the
    keeper's group gets the kept count). One hash-partitioned window on
    the 16-byte digest — text itself never shuffles."""
    ranked = docs.select(
        id_col, group_col, F.md5(canonical_text(text_col)).alias("_canon")
    ).withColumn(
        "rn", F.row_number().over(Window.partitionBy("_canon").orderBy(id_col))
    )
    return ranked.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("long").alias("n_dropped"),
    )


def split_leakage(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/test leakage audit: exact-verified near-dup pairs (MinHash
    → LSH → Jaccard ≥ ``threshold``) classified by which side of the
    deterministic hash split (sampling.hash_split) each member landed
    on. A 'test-train' row is benchmark leakage a within-split dedup
    never sees. The corpus-sized split frame never shuffles: the tiny
    verified pair set is localCheckpointed once and broadcast through
    both enrichment joins."""
    from finance_data_pipeline_spark.extensions import sampling

    pairs = (
        near_dup_pairs(docs, threshold=threshold, id_col=id_col, text_col=text_col)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    sp = sampling.hash_split(docs, key_col=id_col).select(id_col, "split")
    lab_a = sp.select(F.col(id_col).alias("id_a"), F.col("split").alias("_sa")).join(
        F.broadcast(pairs), "id_a"
    )
    lab = (
        sp.select(F.col(id_col).alias("id_b"), F.col("split").alias("_sb"))
        .join(F.broadcast(lab_a), "id_b")
        .select(
            F.concat(
                F.least("_sa", "_sb"), F.lit("-"), F.greatest("_sa", "_sb")
            ).alias("split_pair"),
            "id_a",
            "id_b",
        )
        .localCheckpoint()
    )
    n_pairs = lab.groupBy("split_pair").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    stacked = lab.select("split_pair", F.col("id_a").alias(id_col)).unionAll(
        lab.select("split_pair", F.col("id_b").alias(id_col))
    )
    n_docs = stacked.groupBy("split_pair").agg(
        F.countDistinct(id_col).cast("long").alias("n_docs")
    )
    return n_pairs.join(n_docs, "split_pair")


def effective_token_mass(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Dedup-adjusted corpus size: per source, the raw token count and
    the EFFECTIVE token count where every near-dup cluster's mass
    counts once (each member weighted 1/cluster_size — the soft-dedup
    weighting aggregated up to dataset accounting). The number a
    scaling-law budget should use: 1B raw tokens of 10× duplicated
    text is ~100M effective tokens.

    ``clusters`` accepts a precomputed (doc_id, cluster_id) frame (the
    dup_clusters seam). Per-doc weights are row-local after one
    doc-level join against the cluster-size frame (dup-graph nodes
    only — tiny next to the corpus); sums go through DECIMAL so the
    result is summation-order exact.

    Returns (source, raw_tokens, effective_tokens, retention_ratio).
    """
    if clusters is None:
        clusters = dup_clusters(docs, threshold=threshold)
    csize = clusters.groupBy("cluster_id").agg(F.count("*").alias("_cn"))
    cl = clusters.join(csize, "cluster_id").select(id_col, "_cn")
    tok = docs.select(
        F.col(id_col), F.col(group_col), F.size(tokens(text_col)).cast("long").alias("_nt")
    )
    eff = tok.join(cl, id_col, "left").select(
        group_col,
        "_nt",
        (F.col("_nt") / F.coalesce("_cn", F.lit(1))).alias("_eff"),
    )
    return eff.groupBy(group_col).agg(
        F.sum("_nt").cast("long").alias("raw_tokens"),
        F.round(
            F.sum(F.col("_eff").cast("decimal(38,12)")).cast("double"), 6
        ).alias("effective_tokens"),
        F.round(
            F.sum(F.col("_eff").cast("decimal(38,12)")).cast("double")
            / F.sum("_nt").cast("double"),
            6,
        ).alias("retention_ratio"),
    )


def dedup_stage_funnel(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    near_dup_threshold: float = 0.7,
) -> DataFrame:
    """Survivorship funnel for the training_corpus pipeline: one row
    per cleaning stage (raw → exact dedup → near-dup representatives →
    quality gate) with the surviving and removed document counts — the
    ops dashboard a 100 TB corpus pass publishes alongside its output.

    The near-dup cluster frame is tiny (only clustered docs) and feeds
    two downstream stage counts, so it is localCheckpoint()ed once —
    the dup_triangles lesson: never let two count branches re-derive
    the MinHash/LSH/verify/CC chain.
    """
    from finance_data_pipeline_spark.extensions.text import quality_score_expr

    survivors = exact_dedup(docs).select("doc_id", "text")
    clusters = dup_clusters(docs, threshold=near_dup_threshold).localCheckpoint()
    non_reps = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    s2 = survivors.join(non_reps, "doc_id", "left_anti")
    # Row-local quality gate on the text the survivors already carry —
    # see training_corpus (the former semi-join re-shuffled the corpus
    # by id for a pure function of the text column).
    s3 = s2.filter(quality_score_expr("text") >= quality_threshold)

    def stage(idx: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("docs_out"),
        )

    funnel = (
        stage(0, "raw", docs)
        .unionByName(stage(1, "exact_dedup", survivors))
        .unionByName(stage(2, "near_dedup", s2))
        .unionByName(stage(3, "quality_gate", s3))
    )
    w = Window.orderBy("stage_idx")
    return funnel.select(
        "stage_idx",
        "stage",
        "docs_out",
        F.coalesce(F.lag("docs_out").over(w) - F.col("docs_out"), F.lit(0))
        .cast("long")
        .alias("docs_removed"),
    )
