"""Deterministic corpus sampling and splitting (§2.11 family).

Training-data pipelines need train/test splits and per-stratum samples
that are (a) reproducible across runs, engines, and cluster sizes, and
(b) decided row-locally — no seeded RNG (seed + partition layout =
non-portable), no global sort, no driver-side state. Everything here
keys off ``md5(key)``: the split decision is a pure Column expression
evaluated at scan time, so it costs zero shuffles at any scale and the
DuckDB oracle can replay it verbatim.

Rates are quantized to sixteenths: the first hex nibble of md5 is a
uniform 1/16 bucket, and ``nibble < NIBBLES[k]`` keeps exactly k/16 of
rows in expectation. Finer rates would read more nibbles; 16 buckets is
enough for the classic 1/8 test split and per-language downsampling.

The reference has no sampling surface (its whole corpus is ~4k rows);
this generalizes its deterministic re-run behavior (README.md:91-97 —
same inputs, same outputs) to corpus-scale subset selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from finance_data_pipeline_spark.functions import micro_avg

NIBBLES = "0123456789abcdef"


def hash_nibble(key_col: str) -> Column:
    """First hex nibble of md5(key) — a uniform, engine-portable
    1/16 bucket (identical in Spark and DuckDB for the same key)."""
    return F.substring(F.md5(F.col(key_col).cast("string")), 1, 1)


def keep_fraction(key_col: str, sixteenths: int) -> Column:
    """Boolean: keep this row in a sixteenths/16 deterministic sample."""
    if not 0 <= sixteenths <= 16:
        raise ValueError(f"sixteenths must be in [0, 16], got {sixteenths}")
    if sixteenths >= 16:
        return F.lit(True)
    if sixteenths <= 0:
        return F.lit(False)
    return hash_nibble(key_col) < NIBBLES[sixteenths]


def hash_split(
    df: DataFrame, key_col: str = "doc_id", test_sixteenths: int = 2
) -> DataFrame:
    """Add a ``split`` column: 'test' for test_sixteenths/16 of rows
    (hash-deterministic per key), 'train' for the rest. Row-local — the
    split survives repartitioning, re-runs, and engine changes."""
    return df.withColumn(
        "split",
        F.when(keep_fraction(key_col, test_sixteenths), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def stratified_hash_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, int],
    key_col: str = "doc_id",
    default_sixteenths: int = 16,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep rates[stratum]/16 of
    each stratum's rows (default_sixteenths/16 for unlisted strata) —
    the shape of language rebalancing in a pretraining mix. Unlike
    ``df.sampleBy`` (seeded RNG, layout-dependent) this is a pure
    filter: reproducible, oracle-checkable, and shuffle-free."""
    cond = ~F.col(stratum_col).isin(*sorted(rates)) & keep_fraction(
        key_col, default_sixteenths
    )
    for stratum, sixteenths in sorted(rates.items()):
        cond = cond | (
            (F.col(stratum_col) == stratum) & keep_fraction(key_col, sixteenths)
        )
    return df.filter(cond)


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int = 2000,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-first token-budget fill: per language, take documents in
    descending quality_score order (ties → lowest doc_id) until the
    running token total would exceed ``budget_tokens`` — the selection
    step that builds a fixed-size pretraining mix ("give me the best
    N billion tokens per language") instead of a fixed fraction.

    Deterministic and fully oracle-checkable: ordering is (rounded
    quality, doc_id); the cumulative sum is an integer token count.
    Scale shape: one window per language — a per-stratum sort, same
    cost class as the other per-key windows here; at extreme per-
    language volume you'd first drop below a quality threshold read
    off quality_cdf, then budget-fill the survivors, so the sorted set
    is orders of magnitude smaller than the corpus.

    Returns (doc_id, lang, n_tokens, cum_tokens) for kept docs.
    """
    from pyspark.sql import Window

    from finance_data_pipeline_spark.extensions.text import (
        quality_score_expr,
        token_count,
    )

    # Row-local score projection — the former quality_score ⋈ docs
    # self-join shuffled the corpus twice by id (guide §2.4).
    base = docs.select(
        F.col(id_col),
        F.col(lang_col),
        token_count(text_col).cast("long").alias("n_tokens"),
        quality_score_expr(text_col).alias("quality_score"),
    )
    w = (
        Window.partitionBy(lang_col)
        .orderBy(F.desc("quality_score"), id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, lang_col, "n_tokens", "cum_tokens")
    )


def weighted_hash_sample(
    df: DataFrame,
    weight: Column,
    key_col: str = "doc_id",
    resolution: int = 1_000_000,
) -> DataFrame:
    """Importance sampling with hash determinism: keep each row with
    probability ≈ ``weight`` (clamped to [0, 1], quantized to
    1/resolution) — include iff ``h60(key) mod resolution < round(
    weight · resolution)``. The weighted generalization of
    keep_fraction: quality-weighted corpus downsampling (keep good docs
    with high probability, junk with low) that is reproducible across
    runs, engines, partitionings, and cluster sizes, unlike
    ``df.sample``'s seeded per-partition RNG.

    Row-local pure Column filter — zero shuffles at any scale; the
    decision replays verbatim in SQL (60-bit md5 + integer compare).
    """
    from finance_data_pipeline_spark.extensions.dedup import md5_token_hash

    h = md5_token_hash(F.col(key_col).cast("string"))
    thr = (
        F.round(
            F.greatest(F.lit(0.0), F.least(weight, F.lit(1.0))) * resolution, 0
        )
    ).cast("long")
    return df.filter((h % resolution) < thr)


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.5,
    budget_docs: int = 250,
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based source mixing: allocate a document budget
    across sources with weight ∝ count^alpha (alpha < 1 upsamples the
    tail — the multilingual/temperature-sampling rule of Conneau &
    Lample's XLM and the T5 mixing scheme), then keep each source's
    quota deterministically by ascending md5(key).

    Exactness discipline: count^alpha is a double, so it is quantized
    to integer micro-units (floor(·1e6 + 0.5)) before normalization —
    the weight sum and the quota rounding then run in exact BIGINT
    arithmetic, order-independent and bit-identical in the SQL oracle
    (summing raw doubles would differ in the last ulp by
    partial-aggregation order; decimal division scales differ by
    engine). Quota = floor(budget · pwi / Σpwi + 0.5), computed as the
    integer (2·budget·pwi + Σ) div (2·Σ), capped at the source count.

    Scale shape: one count aggregate (tiny — one row per source), a
    broadcast quota join back, and one per-source window for the
    hash-ranked take. The window sorts only within sources — at the
    100 TB tier you would pre-filter to the quality-passing slice
    first (same note as token_budget_sample).

    Returns (doc_id, source, weight, quota, rank) for kept docs.
    """
    counts = docs.groupBy(source_col).agg(F.count("*").alias("_n"))
    pwi = F.floor(
        F.pow(F.col("_n").cast("double"), F.lit(float(alpha))) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    wsum = Window.partitionBy()
    quotas = (
        counts.withColumn("_pwi", pwi)
        .withColumn("_tot", F.sum("_pwi").over(wsum))
        .withColumn(
            "quota",
            F.least(
                F.col("_n"),
                F.expr(f"(2 * {int(budget_docs)} * _pwi + _tot) div (2 * _tot)"),
            ).cast("long"),
        )
        .select(
            source_col,
            F.round(
                F.col("_pwi").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("weight"),
            "quota",
        )
    )
    ranked = docs.select(F.col(key_col), F.col(source_col)).withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy(source_col).orderBy(
                F.md5(F.col(key_col).cast("string")), key_col
            )
        )
        .cast("long"),
    )
    return (
        ranked.join(F.broadcast(quotas), source_col)
        .filter(F.col("rank") <= F.col("quota"))
        .select(key_col, source_col, "weight", "quota", "rank")
    )


def mixture_epoch_plan(
    docs: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source epoch plan: given temperature weights over token
    counts (weight ∝ tokens^alpha), how many passes (epochs) over each
    source does one total-corpus-sized training budget imply?
    epochs_s = weight_s · total_tokens / tokens_s — the "small sources
    repeat, huge sources are subsampled" table a pretraining run is
    configured from (> 1 means repeat, < 1 means subsample).

    One token-count aggregate (map-side combined, exact BIGINT sums)
    feeding a one-row-per-source normalization. Weights use the same
    integer micro-unit quantization as temperature_mix (exact BIGINT
    sum, then one IEEE double division — bit-identical in the SQL
    oracle); epoch ratios are computed as double products of exact
    integers, identical in both engines. Nothing here grows with
    corpus size except the scan.

    Returns (source, n_docs, n_tokens, weight, epochs), weight/epochs
    rounded to 6 dp.
    """
    from finance_data_pipeline_spark.extensions.text import token_count

    per_source = docs.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(text_col).cast("long")).alias("n_tokens"),
    )
    pwi = F.floor(
        F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    wsum = Window.partitionBy()
    return (
        per_source.withColumn("_pwi", pwi)
        .withColumn("_totpw", F.sum("_pwi").over(wsum))
        .withColumn("_ttok", F.sum("n_tokens").over(wsum))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            F.round(
                F.col("_pwi").cast("double") / F.col("_totpw").cast("double"), 6
            ).alias("weight"),
            F.round(
                (F.col("_pwi").cast("double") * F.col("_ttok").cast("double"))
                / (F.col("_totpw").cast("double") * F.col("n_tokens").cast("double")),
                6,
            ).alias("epochs"),
        )
    )


def dsir_select(
    docs: DataFrame,
    n_buckets: int = 64,
    top_n: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance selection (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every source (training) doc by its mean hashed-n-gram
    log-likelihood ratio against a TARGET distribution, keep the
    ``top_n`` best — "give me the web documents that look most like
    the target domain". The target here is the deterministic md5
    benchmark split (a real run passes the actual target corpus; the
    plumbing is identical), features are unigram hash buckets
    (hashed_tf's vocabulary-free trick), and both distributions get
    +1 smoothing over ``n_buckets`` cells so no bucket has zero mass.

    Cross-engine exactness, same discipline as unigram_logprob: both
    per-bucket log-probs are pure functions of exact integer counts
    (identical double inputs to ln in both engines), quantized to
    micro-unit longs BEFORE the per-doc sum, so the fold is
    order-independent; the final top-n is a distributed
    TakeOrderedAndProject (per-partition heaps — never a global sort
    or full-corpus window) with doc_id tie-breaks.

    Scale shape: the bucket distributions are two n_buckets-row
    aggregates (map-side combined); the scoring join is a BROADCAST of
    the n_buckets-row log-ratio table against the token stream —
    nothing corpus-sized shuffles except the per-doc fold on doc_id.
    """
    from finance_data_pipeline_spark.extensions.dedup import (
        BENCH_NIBBLE,
        token_buckets,
    )

    is_bench = hash_nibble(id_col) == BENCH_NIBBLE
    tgt = token_buckets(docs.filter(is_bench), id_col, "_id", n_buckets, text_col)
    src = token_buckets(docs.filter(~is_bench), id_col, "_id", n_buckets, text_col)
    buckets = docs.sparkSession.range(n_buckets).select(
        F.col("id").alias("_b")
    )

    def log_micro(counts: DataFrame, alias: str) -> DataFrame:
        total = counts.agg(F.sum("_c").alias("_t"))
        return (
            buckets.join(counts, "_b", "left")
            .select("_b", F.coalesce("_c", F.lit(0)).alias("_c"))
            .crossJoin(F.broadcast(total))
            .select(
                "_b",
                F.round(
                    F.log(
                        (F.col("_c") + 1).cast("double")
                        / (F.col("_t") + n_buckets).cast("double")
                    )
                    * 1_000_000,
                    0,
                )
                .cast("long")
                .alias(alias),
            )
        )

    # The source stream is tokenized ONCE into per-(doc, bucket)
    # counts; both consumers derive from that aggregate (guide §2.3 —
    # aggregate before you shuffle): the global bucket histogram is its
    # per-bucket rollup, and the per-doc fold scores count·log-ratio
    # per (doc, bucket) instead of log-ratio per token — Σ_b n·lr ≡
    # Σ_tokens lr exactly (long multiplication), so values and the
    # top-n cut are unchanged, and the former second tokenize pass
    # over the training half is gone.
    g = src.groupBy("_id", "_b").agg(F.count("*").alias("_n"))
    lt = log_micro(tgt.groupBy("_b").agg(F.count("*").alias("_c")), "_lt")
    ls = log_micro(g.groupBy("_b").agg(F.sum("_n").alias("_c")), "_ls")
    lr = lt.join(ls, "_b").select(
        "_b", (F.col("_lt") - F.col("_ls")).alias("_lr")
    )
    per_doc = (
        g.join(F.broadcast(lr), "_b")
        .groupBy("_id")
        .agg(
            F.sum("_n").alias("n_tokens"),
            F.sum(F.col("_n") * F.col("_lr")).alias("_s"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            micro_avg(F.col("_s"), F.col("n_tokens")).alias("avg_log_ratio"),
        )
    )
    return per_doc.orderBy(F.desc("avg_log_ratio"), id_col).limit(top_n)


def epoch_shuffle(
    df: DataFrame,
    epoch: int = 1,
    n_shards: int = 16,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch training-order shuffle: every row gets a
    shard and an in-shard position from md5(key:epoch) — a different
    pseudo-random permutation each epoch (epoch is salted into the
    hash) with ZERO RNG state, so any worker can recompute any shard's
    order independently and a re-run is bit-identical.

    This is the dataloader-order materialization step of a pretraining
    pipeline: physically it is repartition-by-shard + sort-within-shard
    (exactly what the row_number window partitioned on shard compiles
    to — ONE shuffle whose reduce side is the per-shard sort the shard
    file needs anyway). ``n_shards`` must divide 16 (shards come from
    the leading md5 nibble, keeping the expression engine-portable).
    """
    if 16 % n_shards:
        raise ValueError(f"n_shards={n_shards} must divide 16 (md5 nibble domain)")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":{epoch}")))
    nib = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    out = df.select(
        key_col,
        h.alias("_h"),
        (nib % F.lit(n_shards)).cast("long").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("_h", key_col)
    return out.select(
        key_col, "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def contrastive_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Embedding-training pair mining: POSITIVES are the exact-verified
    near-duplicate pairs (Jaccard ≥ ``threshold`` — texts that should
    embed close), NEGATIVES are hash-adjacent same-source doc pairs
    (topically plausible hard-ish negatives, deterministic — zero RNG)
    with any accidental near-dup anti-joined away. Returns
    (id_a, id_b, pair_type).

    Scale shape: negative pairing windows are partitioned by
    (source, md5-prefix bucket) — 256 buckets per source keep every
    sort partition bounded instead of sorting a whole source in one
    task (pairs spanning a bucket boundary are simply not emitted;
    negatives need volume, not completeness). The tiny positive set
    localCheckpoints once and broadcasts into the anti-join."""
    from finance_data_pipeline_spark.extensions.dedup import near_dup_pairs

    pos = (
        near_dup_pairs(docs, threshold=threshold, id_col=id_col, text_col=text_col)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col, "_bkt").orderBy("_h", id_col)
    neg = (
        docs.select(group_col, id_col, h.alias("_h"))
        .withColumn("_bkt", F.substring("_h", 1, 2))
        .withColumn("_nxt", F.lead(id_col).over(w))
        .filter(F.col("_nxt").isNotNull())
        .select(
            F.least(id_col, "_nxt").alias("id_a"),
            F.greatest(id_col, "_nxt").alias("id_b"),
        )
        .join(F.broadcast(pos), ["id_a", "id_b"], "left_anti")
    )
    return pos.withColumn("pair_type", F.lit("positive")).unionAll(
        neg.withColumn("pair_type", F.lit("negative"))
    )


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    test_sixteenths: int = 2,
    near_dup_threshold: float = 0.7,
) -> DataFrame:
    """The FIX operator for what dedup.split_leakage audits: assign the
    train/test split by NEAR-DUP CLUSTER instead of by document, so a
    whole duplicate family always lands in one split and no test doc
    has a training-set near-twin. Split key = the cluster's connected-
    component id (min member) for clustered docs, the doc's own id for
    singletons; the bucket rule is the same md5-nibble hash_split uses,
    so the test fraction stays test_sixteenths/16 in expectation and
    the assignment is engine-portable and layout-independent.

    ``clusters`` accepts a precomputed (doc_id, cluster_id) frame (the
    dup_clusters output) — the same re-derivation seam dup_clusters and
    training_corpus expose. Default (None) computes it from ``docs``.

    Scale shape: the cluster frame is the near-dup graph's node set —
    orders of magnitude smaller than the corpus — joined back to docs
    on the id (one shuffle, or a broadcast when the dup graph is
    small); the split itself is row-local on the coalesced key.

    Returns (doc_id, split_key, split).
    """
    from finance_data_pipeline_spark.extensions.dedup import dup_clusters

    if clusters is None:
        clusters = dup_clusters(docs, threshold=near_dup_threshold)
    keyed = docs.select(F.col(id_col)).join(
        clusters.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    return keyed.select(
        id_col,
        F.coalesce("cluster_id", F.col(id_col)).alias("split_key"),
    ).withColumn(
        "split",
        F.when(
            keep_fraction("split_key", test_sixteenths), F.lit("test")
        ).otherwise(F.lit("train")),
    )


def per_group_sample_k(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample: rank rows inside each
    group by (md5(key), key) and keep the first k — the uniform
    "k docs from every source" inspection sample. Unlike sampleBy
    (seeded RNG, fraction-based, layout-dependent count) this is a
    pure function of the keys: reproducible across engines, runs and
    partitionings, and exact-k whenever the group has ≥ k rows.

    Scale: ONE shuffle on group_col; the per-group sort is bounded by
    group size (the md5 rank needs no global order). Groups smaller
    than k keep all rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
