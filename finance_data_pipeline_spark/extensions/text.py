"""Text analysis over the documents table (SURVEY.md X4): token
counting, quality scoring, language-ID heuristic, fingerprinting.

Everything is built-in string/array functions — codegen'd, no UDFs, so
the 100 TB sweep is one narrow map stage over the text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions.dedup import (
    _spread,
    md5_token_hash,
    normalized,
    raw_word_ngrams,
    token_buckets,
    token_hash_positions,
    tokens,
    word_shingles,
)
from finance_data_pipeline_spark.functions import let_, micro_avg

# Tiny per-language stopword kernels for the n-gram/stopword language
# heuristic (public common-word lists).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def token_count(col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: str = "text") -> Column:
    """BPE-ish proxy: count word-piece units — runs of letters, digits,
    or single punctuation — via regex extraction. A deterministic
    stand-in for a real tokenizer's token count."""
    pieces = F.regexp_extract_all(F.lower(F.col(col)), F.lit(r"([a-z]+|[0-9]+|[^a-z0-9\s])"), 1)
    return F.size(pieces)


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, tokens, avg word length, punct ratio.

    Whole plan is ONE codegen Project over the scan — no HOF lambdas.
    Sum-of-token-lengths is computed as length(text minus whitespace)
    (split drops exactly the whitespace runs, so the identities agree,
    including the empty-text → [''] edge where both give 0), which keeps
    avg_word_len inside whole-stage codegen; the F.aggregate lambda form
    forced the entire projection to interpreted mode (~1.7× slower
    end-to-end at sf0.1).

    Degenerate docs (NULL or empty text): ratios are NULL — the
    denominators go through nullif so a 0-token/0-char doc returns a
    row with NULL avg_word_len/punct_ratio instead of failing the
    whole job under ANSI division (DuckDB's float x/0 is NULL, so the
    oracle already agrees). Pinned by tests/test_null_contracts.py."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    sum_tok_len = F.length(F.regexp_replace(normalized(text_col), r"\s", ""))
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars_computed"),
        n_tok.alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_pieces"),
        F.round(sum_tok_len / F.nullif(n_tok, F.lit(0)), 6).alias("avg_word_len"),
        F.round(punct / F.nullif(n_chars, F.lit(0)), 6).alias("punct_ratio"),
    )


def _marker_hits(toks: Column, words: list[str]) -> Column:
    """Count of DISTINCT marker words present (sum of membership tests —
    portable across engines, unlike set-intersection dedup subtleties)."""
    hit = F.lit(0)
    for w in words:
        hit = hit + F.array_contains(toks, w).cast("int")
    return hit


def quality_score_expr(text_col: str = "text") -> Column:
    """The heuristic quality score as a ROW-LOCAL Column (rounded to
    6 dp, exactly quality_score's output). Exposed so composed
    pipelines can filter or project the score on a frame they already
    hold instead of re-deriving it through a corpus self-join on the
    id — the join form shuffles both sides by id for a value that is a
    pure function of the text column (guide §2.4)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    # nullif: an empty doc must score 0, not fail the job under ANSI
    # division (NULL ratio -> the punctuation term contributes 0).
    n_chars = F.nullif(F.length(F.col(text_col)), F.lit(0))
    punct_ratio = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", "")) / n_chars
    all_stop = [w for ws in _LANG_MARKERS.values() for w in ws]
    stop_hits = _marker_hits(toks, all_stop)
    score = (
        F.when((n_tok >= 10) & (n_tok <= 100_000), 0.4).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.3).otherwise(0.0)
        + F.when(stop_hits >= 2, 0.3).otherwise(0.0)
    )
    return F.round(score, 6)


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + punctuation
    sanity + stopword presence (the classic pretraining-filter trio)."""
    return docs.select(
        F.col(id_col), quality_score_expr(text_col).alias("quality_score")
    )


def quality_cdf(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Cumulative distribution of the quality score — the curve a
    pipeline reads to pick a filtering threshold. Scale path: one
    map-side-combined groupBy over the tiny score domain (the heuristic
    emits ≤ 8 distinct values), then windows over that aggregated frame
    — a handful of rows regardless of corpus size, so the unpartitioned
    window is NOT a scale hazard (it never sees raw rows)."""
    counts = (
        quality_score(docs, id_col, text_col)
        .groupBy("quality_score")
        .agg(F.count("*").alias("n_docs"))
    )
    cum = Window.orderBy("quality_score").rowsBetween(Window.unboundedPreceding, 0)
    full = Window.orderBy("quality_score").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return counts.select(
        "quality_score",
        "n_docs",
        F.sum("n_docs").over(cum).alias("cum_docs"),
        F.round(
            F.sum("n_docs").over(cum).cast("double")
            / F.sum("n_docs").over(full).cast("double"),
            6,
        ).alias("cum_frac"),
    ).orderBy("quality_score")


def detect_language(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: count marker hits per language,
    pick the argmax; ties break to the lexicographically largest
    language code, zero hits → 'und'. A real system uses character
    n-gram models; the Spark shape (per-language membership counts +
    deterministic argmax) is identical."""
    toks = tokens(text_col)
    hits = {lang: _marker_hits(toks, ws) for lang, ws in _LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    detected = F.when(best == 0, F.lit("und"))
    for lang in sorted(hits, reverse=True):  # fr > es > en > de
        detected = detected.when(hits[lang] == best, F.lit(lang))
    return docs.select(F.col(id_col), detected.alias("detected_lang"))


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Document fingerprint: lexicographic min of the md5s of the
    document's k-shingles (a 1-permutation MinHash with a portable,
    engine-agnostic hash) — stable under shingle reordering."""
    return docs.select(
        F.col(id_col),
        F.array_min(F.transform(word_shingles(text_col, k), F.md5)).alias("fingerprint"),
    )


# Gopher rule-7 stop set (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", appendix A1.1).
_GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style document-quality rules (Rae et al. 2021, A1.1) —
    the standard pretraining composition/repetition filter set, one row
    per document with every metric plus the combined ``keep`` flag.

    Scale shape: the composition metrics are row-local codegen string
    math (one narrow map stage); the repetition metric (top-bigram char
    coverage) is an explode → count → max aggregation keyed on
    (doc_id, bigram) then doc_id — two bounded-key shuffles, no UDFs,
    no driver state. The rules are English-centric by construction
    (stopword test), exactly as published.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    n_chars = F.length(F.col(text_col))
    mean_word_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_words
    n_hash = n_chars - F.length(F.regexp_replace(F.col(text_col), r"#", ""))
    n_ellipsis = (n_chars - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))) / 3
    symbol_word_ratio = (n_hash + n_ellipsis) / n_words
    alpha_word_frac = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))) / n_words
    stop_hits = _marker_hits(toks, _GOPHER_STOPS)
    lines = F.split(F.col(text_col), "\n")
    dup_line_frac = F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines)

    base = docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_chars.alias("_n_chars"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_word_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha_word_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_word_hits"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
    )

    # Top-bigram character coverage (repetition rule): chars covered by
    # the best (count × length) ADJACENT word pair / total chars.
    # Bigrams are NOT distinct-ed — frequency is the signal. The
    # n_words >= 2 guard matters under ANSI: sequence(1, 0) counts
    # DOWN through an out-of-range index and element_at would fail the
    # job on any single-token document.
    # token array let_-bound: the per-element element_at would
    # otherwise re-run the regex split twice per bigram (quadratic in
    # doc length) — see functions.let_.
    bigrams = let_(
        toks,
        lambda tk: F.when(
            F.size(tk) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(tk, i), F.element_at(tk, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    top = (
        docs.select(F.col(id_col), F.explode(bigrams).alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count("*").alias("_cnt"))
        .groupBy(id_col)
        .agg(F.max(F.col("_cnt") * F.length("_g")).alias("_top_chars"))
    )
    out = base.join(top, id_col, "left").select(
        base[id_col],
        "n_words",
        "mean_word_len",
        "symbol_word_ratio",
        "alpha_word_frac",
        "stop_word_hits",
        "dup_line_frac",
        F.round(
            F.coalesce(F.col("_top_chars"), F.lit(0))
            / F.nullif(F.col("_n_chars"), F.lit(0)),
            6,
        ).alias("top_bigram_char_frac"),
    )
    keep = (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stop_word_hits") >= 2)
        & (F.col("dup_line_frac") <= 0.3)
        & (F.col("top_bigram_char_frac") <= 0.2)
    )
    return out.withColumn("keep", keep)


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf (keyword
    extraction — the per-doc topical signature a curation pipeline uses
    for domain mixing and near-topic grouping).

    tf = raw occurrences in the doc; idf = ln(N / df) with no smoothing
    (every term appearing has df ≥ 1). Scores are rounded to 6 dp
    BEFORE ranking on both engines: distinct (tf, df) combinations can
    produce real-equal scores (2·ln4 = ln16) whose last-bit float
    representation differs across engines — ranking rounded scores with
    a term-asc tie-break makes the top-k deterministic and portable.

    Scale shape: explode → (doc, term) counts → broadcast-joined df
    counts → per-doc top-k window. Shuffles key on (doc_id, term-hash)
    and doc_id only; document frequency is a second aggregate over the
    term dimension (vocabulary-sized, ≪ corpus).
    """
    # N as a broadcast 1-row aggregate, not a driver-side count() — the
    # whole query stays one lazy plan.
    n_df = docs.agg(F.count("*").cast("double").alias("_n"))
    terms = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_counts = terms.distinct().groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col(id_col),
            "term",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "term", "tfidf", F.col("_rn").cast("long").alias("rank"))
    )


# Deliberately simple patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, no \b (word-boundary semantics
# differ), character classes and counted repetition only.
PII_PATTERNS = {
    # Order matters and is part of the contract: URLs first (an email-
    # shaped substring inside a URL must mask as part of the URL).
    "url": r"https?://[^\s]+",
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def pii_scrub(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII redaction pass (emails, URLs, phone-shaped numbers): counts
    each category and emits the masked text's md5 — the pre-training
    hygiene step that runs before any corpus leaves quarantine.

    Row-local codegen regex (no UDF, no shuffle); patterns are the
    portable subset shared by Java regex and RE2 so the oracle applies
    the IDENTICAL automaton. Masking replaces each match with the
    category tag; counts come from regexp_count on the original text.
    A real deployment adds NER-model scrubbing behind the same
    column-in/column-out contract."""
    masked = F.col(text_col)
    for tag, pat in PII_PATTERNS.items():
        masked = F.regexp_replace(masked, pat, f"<{tag}>")
    out = docs.select(
        F.col(id_col),
        *[
            F.regexp_count(text_col, F.lit(pat)).cast("long").alias(f"n_{tag}")
            for tag, pat in PII_PATTERNS.items()
        ],
        F.md5(masked).alias("masked_md5"),
    )
    return out


def token_totals_by_lang(docs: DataFrame) -> DataFrame:
    """Corpus accounting: docs/tokens/chars per language (the numbers a
    training-data pipeline reports per shard)."""
    return (
        docs.select("lang", token_count("text").alias("n_tok"), F.col("n_chars"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Language-model quality proxy (the CCNet/fastText-era filter):
    per-doc mean log-probability under the corpus's OWN unigram
    distribution — low scorers are boilerplate/garbage relative to the
    corpus (a production run trains the reference LM on a clean corpus
    instead; the plumbing is identical — swap the freq table).

    Cross-engine exactness: per-token log-probs are quantized to
    fixed-point longs (round(ln(p)·1e6)) and summed exactly — float
    log-prob sums are order-dependent and Spark's partial-aggregation
    order differs from any SQL engine's scan order. p itself is a pure
    function (count/total in double), so both engines compute identical
    inputs to ln().

    Scale: one groupBy over the vocabulary (map-side combined), a
    broadcast 1-row total, one shuffle join of the token stream against
    the freq table (tokens travel as 64-bit hashes), one per-doc fold.
    Linear in corpus token count.
    """
    stream = (
        _spread(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.explode(tokens(text_col)).alias("_w"))
        .select("_id", F.xxhash64("_w").alias("_h"))
    )
    freq = stream.groupBy("_h").agg(F.count("*").alias("_c"))
    total = freq.agg(F.sum("_c").alias("_t"))
    scored = (
        stream.join(freq, "_h")
        .crossJoin(F.broadcast(total))
        .select(
            "_id",
            F.round(
                F.log(F.col("_c").cast("double") / F.col("_t").cast("double"))
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("_lp"),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("_lp").alias("_s"))
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            micro_avg(F.col("_s"), F.col("n_tokens")).alias("avg_logprob"),
        )
    )


def hashed_tf(
    docs: DataFrame,
    dim: int = 64,
    signed: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009):
    token counts folded into a fixed ``dim``-bucket term-frequency
    vector by hash — the vocabulary-free featurizer that bridges raw
    text to the vector operators (ANN, k-means, SemDeDup) without a fit
    step or a driver-side vocabulary. ``signed`` uses one extra hash
    bit as ±1 so collisions cancel in expectation (the unbiased
    estimator variant).

    Output is SPARSE long format (doc_id, bucket, tf) — zero buckets
    are absent, which is both the scale-honest representation (a dense
    array of mostly-zeros per doc shuffles dim values per row) and
    trivially exact: counts are integers, so no float summation order
    exists. One explode + one map-side-combined groupBy.

    Hashes are the engine-portable 60-bit md5 (bucket = h mod dim,
    sign from the next bit), so the whole featurization replays in SQL.
    """
    tok = _spread(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    )
    h = md5_token_hash("_t")
    sign = (
        F.when((F.expr(f"_h div {dim}") % 2) == 0, 1).otherwise(-1)
        if signed
        else F.lit(1)
    )
    return (
        tok.select(
            F.col(id_col), (h % dim).alias("bucket"), h.alias("_h")
        )
        .select(F.col(id_col), "bucket", sign.alias("_s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").cast("long").alias("tf"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Byte-pair-encoding TRAINER (Sennrich et al. 2016) — the iterative
    step behind ``bpe_merge_candidates``' single pair count: learn
    ``n_merges`` merges by repeatedly (1) counting adjacent symbol
    pairs over the frequency-weighted word vocabulary, (2) picking the
    most frequent pair (ties → lexicographic), (3) merging every
    non-overlapping occurrence left-to-right. Returns the learned merge
    table (merge_rank, left_sym, right_sym, pair_weight).

    Determinism + the oracle trick: symbol sequences are stored as
    paren-delimited strings — ``hello`` → ``(h)(e)(l)(l)(o)`` — so the
    merge rewrite is one global ``regexp_replace`` of
    ``\\(a\\)\\(b\\)`` with ``(ab)``. Because every symbol occupies a
    closed delimiter span, consecutive matches share no characters and
    both engines' left-to-right non-overlapping replace semantics
    coincide exactly (including the ``(a)(a)(a)`` → ``(aa)(a)`` greedy
    case). Vocabulary is restricted to ``[a-z0-9]+`` tokens so symbols
    never contain regex metacharacters.

    Scale shape per merge: pair extraction is row-local over the
    VOCABULARY (distinct words — orders of magnitude smaller than the
    corpus; the corpus is touched once for the frequency count), the
    pair count is one map-side-combined groupBy, and only the single
    argmax row collects to the driver (bounded state, the same move as
    the IVF training sample); the rewrite is a row-local regex. The
    corpus-count lineage is cut ONCE by the initial localCheckpoint
    (single-partition — the vocab is dictionary-sized at any corpus
    size); per-round lineage is just the regexp chain over that frame.
    """
    _, merges = _bpe_learn(docs, n_merges, text_col)
    return docs.sparkSession.createDataFrame(
        merges, "merge_rank long, left_sym string, right_sym string, pair_weight long"
    )


def _bpe_learn(docs: DataFrame, n_merges: int, text_col: str = "text"):
    """Shared BPE learning loop: returns (final vocab DataFrame with
    columns (w, freq, s) where s is the post-merge paren-delimited
    symbol string, learned merges as (rank, a, b, weight) tuples)."""
    spark = docs.sparkSession
    vocab = (
        _spread(docs.select(F.col(text_col)))
        .select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    sym0 = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.concat(F.lit("("), F.substring(F.col("w"), i, F.lit(1)), F.lit(")")),
        ),
    )
    # The ITERATIVE refinement state is the distinct-word vocabulary —
    # bounded by the language (≤ millions of short strings, tens of MB)
    # — so one partition is the right physical home for it at any
    # corpus size: each merge round launches 1 task instead of
    # defaultParallelism tasks over a frame the size of a dictionary.
    # (Idle-host wall time is stage-scheduling-bound either way —
    # measured flat at sf0.1 — but 32× fewer task launches per round is
    # strictly less exposure to executor contention on a loaded host,
    # the documented swing source for this query.) repartition(1), not
    # coalesce(1): coalesce would narrow the post-shuffle side of the
    # corpus-wide frequency groupBy above to one task, single-threading
    # the 100 TB reduce; repartition keeps that aggregation at full
    # parallelism and adds only a tiny extra shuffle of the
    # dictionary-sized result (ADVICE r5). Merge selection is a global
    # argmax with a total-order tie-break, so partitioning cannot
    # change the learned merges.
    vocab = (
        vocab.select("w", "freq", sym0.alias("s")).repartition(1).localCheckpoint()
    )

    # NOTE (r10, examined and kept AS-IS): a lazy broadcast-argmax
    # chain (min_by one-row aggregate broadcast back per round, the
    # whole trainer as one query) was implemented and A/B'd — it is
    # ~38% SLOWER at the registry n_merges=5 (6.27 s vs 4.53 s min-of-4
    # same host/instrument): each round's broadcast build is still a
    # blocking sub-job, and vocab_k referencing vocab_{k-1} twice grows
    # the analyzed plan 2^rounds (25 unchecked rounds hang the
    # analyzer). The per-round driver collect of ONE argmax row is the
    # cheaper synchronization primitive here. Reverted.
    merges = []
    for rank in range(1, n_merges + 1):
        # symbol array let_-bound: element_at per pair would otherwise
        # re-run the regexp_extract_all twice per adjacent pair
        # (quadratic in word length) — see functions.let_.
        pair_arr = let_(
            F.expr(r"regexp_extract_all(s, '\\(([^)]*)\\)', 1)"),
            lambda sy: F.when(
                F.size(sy) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(sy) - 1),
                    lambda i: F.struct(
                        F.element_at(sy, i).alias("a"),
                        F.element_at(sy, i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>")),
        )
        best = (
            vocab.select("freq", F.explode(pair_arr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        # No per-merge checkpoint: the expensive upstream (the corpus
        # frequency count) is already materialized by the initial
        # localCheckpoint, so each round's lineage is just the chain of
        # k row-local regexp_replaces over the dictionary-sized vocab —
        # trivially recomputable. Dropping the per-round checkpoint
        # halves the job count per merge (wall time is scheduling-
        # bound and flat on an idle host; fewer jobs = less loaded-host
        # swing). But the chain makes round k's pair count re-evaluate
        # k regexp_replaces — O(n_merges²) total evals — so the lineage
        # is cut every _CKPT_EVERY merges, keeping per-round eval depth
        # bounded at large n_merges while the common small-n_merges
        # path (the registry uses 5) still pays zero extra jobs.
        _CKPT_EVERY = 20
        vocab = vocab.withColumn(
            "s",
            F.regexp_replace("s", f"\\({a}\\)\\({b}\\)", f"({a}{b})"),
        )
        if rank % _CKPT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return vocab, merges


def bpe_encode(
    docs: DataFrame,
    n_merges: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE merge table to the corpus — per-document
    unit counts after ``n_merges`` learned merges, the measurement
    behind "how many tokens is this corpus under tokenizer X".

    The key scale move: encoding is NOT a per-document regex chain.
    The training loop already leaves every distinct word's final
    symbol string in the vocabulary frame, so encoding = the corpus
    token stream joined against that (orders-of-magnitude smaller)
    vocabulary, counting symbols per word — one broadcast-joinable
    lookup instead of n_merges rewrites over 100 TB of text. Only
    ``[a-z0-9]+`` tokens are encoded (the trainer's vocabulary rule).

    Returns (doc_id, n_words, n_chars, n_units, compression) where
    n_chars is pre-merge symbol count, n_units post-merge, and
    compression = n_units/n_chars rounded to 6 dp. Docs with no
    alphanumeric tokens are absent (nothing to encode).
    """
    vocab, _ = _bpe_learn(docs, n_merges, text_col)
    enc = vocab.select(
        "w",
        F.length("w").cast("long").alias("_chars"),
        F.size(F.expr(r"regexp_extract_all(s, '\\(([^)]*)\\)', 1)"))
        .cast("long")
        .alias("_units"),
    )
    stream = (
        _spread(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w").rlike("^[a-z0-9]+$"))
    )
    return (
        stream.join(F.broadcast(enc), "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_units").alias("n_units"),
        )
        .select(
            id_col,
            "n_words",
            "n_chars",
            "n_units",
            F.round(
                F.col("n_units").cast("double") / F.col("n_chars").cast("double"), 6
            ).alias("compression"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval: score every corpus document against
    each query document (ids < ``n_queries``, self excluded) and keep
    the k best — the classic lexical ranking complement of the
    vector-side ann_topk, and the retrieval primitive of
    RAG/decontamination tooling.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5));
    score = Σ_t idf · tf(k1+1) / (tf + k1(1 - b + b·dl/avgdl)).

    Scale shape: term stats (tf, df, dl) are map-side-combined
    aggregates over the token stream; the tiny query-term side
    broadcasts against the corpus postings (candidates bounded by the
    query vocabulary — no corpus self-join); one window ranks per
    query. Per-term contributions are cast to DECIMAL before the
    score sum so the result is order-independent and replays exactly
    in the SQL oracle (the engine-portable float-sum discipline used
    across this registry).

    Returns (query_id, neighbor_id, score) — score rounded to 6 dp,
    ties broken by ascending neighbor_id.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    ).select(F.col(id_col), F.xxhash64("_t").alias("_h"))
    tf = toks.groupBy(id_col, "_h").agg(F.count("*").alias("_tf"))
    # dl/df/stats all derive from tf (guide §2.3 — aggregate before you
    # shuffle): summing tf per doc equals counting raw tokens, so the
    # raw token stream is tokenized and aggregated exactly once and the
    # downstream rollups ride tf's reused exchange instead of
    # re-exploding the text. qterms needs no distinct — tf is unique
    # per (doc, term) by construction.
    dl = tf.groupBy(id_col).agg(F.sum("_tf").alias("_dl"))
    stats = dl.agg(
        F.count("*").alias("_n"), F.sum("_dl").alias("_sumdl")
    )
    qterms = tf.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), "_h"
    )
    # df only over the query vocabulary (guide §3.2): scored rows all
    # carry an _h from qterms, so semi-pruning tf before the df groupBy
    # aggregates the handful of query terms instead of the corpus
    # vocabulary — and bounds the df broadcast by |query vocab| at any
    # corpus size. df values are unchanged (counted over the full tf).
    # No distinct on the semi build side — a semi hash set dedupes for
    # free, and the distinct would cost an extra aggregate in the
    # broadcast build.
    qvocab = qterms.select("_h")
    df_ = (
        tf.join(F.broadcast(qvocab), "_h", "left_semi")
        .groupBy("_h")
        .agg(F.count("*").alias("_df"))
    )
    # dl is corpus-sized (one row per doc) — a keyed join, NOT a forced
    # broadcast (guide §3.1: an N-row broadcast breaks at 100 TB; AQE
    # still picks a broadcast at runtime when dl fits the threshold).
    # The candidate stream is already keyed on id_col downstream, and
    # dl's groupBy partitioning is reused by the join.
    scored = (
        tf.join(F.broadcast(qterms), "_h")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(F.broadcast(df_), "_h")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("_sumdl").cast("double") / F.col("_n").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n").cast("double") - F.col("_df").cast("double") + F.lit(0.5))
        / (F.col("_df").cast("double") + F.lit(0.5))
    )
    tfv = F.col("_tf").cast("double")
    contrib = (
        idf
        * (tfv * (1.0 + k1))
        / (tfv + k1 * (1.0 - b + b * F.col("_dl").cast("double") / avgdl))
    ).cast("decimal(28,12)")
    agg = (
        scored.withColumn("_c", contrib)
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.round(F.sum("_c").cast("double"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    return (
        agg.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "score")
    )


def quality_percentile_by_lang(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-language percentile calibration of quality_score: the same
    raw score means different things in different languages (marker
    lists differ in coverage), so corpus curation thresholds on the
    WITHIN-language percent_rank, not the raw score. One window per
    language over a deterministic (score, id) order; percent_rank is
    integer-derived so both engines agree bit-for-bit.

    Returns (doc_id, lang, quality_score, pct_rank) — pct_rank in
    [0, 1], rounded to 6 dp.
    """
    # Row-local score projection — the former quality_score ⋈ docs
    # self-join shuffled the corpus twice by id for a pure function of
    # the text column (guide §2.4).
    scored = docs.select(
        F.col(id_col),
        "lang",
        quality_score_expr(text_col).alias("quality_score"),
    )
    w = Window.partitionBy("lang").orderBy("quality_score", id_col)
    return scored.select(
        id_col,
        "lang",
        "quality_score",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def cms_term_counts(
    docs: DataFrame,
    depth: int = 3,
    width: int = 8192,
    top: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) term-frequency
    estimates with an EXACT replay — the counting companion of the
    deterministic HLL (quality.hll_distinct) and Bloom filter
    (dedup.bloom_decontaminate): ``depth`` independent hash rows of
    ``width`` counters, estimate = min over rows, always ≥ the true
    count (one-sided error ≤ εN with ε = e/width).

    Hashes are disjoint 10-hex-digit slices of the term's md5 reduced
    mod width — pure functions of the term, so the whole sketch (and
    every estimate) replays bit-identically in SQL. Sketch build is
    one map-side-combined groupBy over (row, cell) — bounded
    depth×width state at any corpus size; estimates for the exact
    top-``top`` terms come from a broadcast join against that
    constant-size sketch.

    Returns (term, exact_cnt, est_cnt), heaviest first — property:
    est_cnt ≥ exact_cnt for every term.
    """
    toks = docs.select(F.explode(tokens(text_col)).alias("t"))
    cells = toks.select(
        "t",
        F.posexplode(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(F.md5("t"), 1 + 10 * j, 10), 16, 10
                        ).cast("long")
                        % width
                    )
                    for j in range(depth)
                ]
            )
        ).alias("row", "cell"),
    )
    sketch = cells.groupBy("row", "cell").agg(F.count("*").alias("cnt"))
    exact = toks.groupBy("t").agg(F.count("*").alias("exact_cnt"))
    heavy = exact.orderBy(F.desc("exact_cnt"), "t").limit(top)
    probes = heavy.select(
        "t",
        "exact_cnt",
        F.posexplode(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(F.md5("t"), 1 + 10 * j, 10), 16, 10
                        ).cast("long")
                        % width
                    )
                    for j in range(depth)
                ]
            )
        ).alias("row", "cell"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "cell"])
        .groupBy(F.col("t").alias("term"), "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
        .select("term", "exact_cnt", "est_cnt")
    )


def bigram_logprob(
    docs: DataFrame,
    lambda_pct: int = 80,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated bigram LM quality score — the perplexity-filter
    upgrade over unigram_logprob (CCNet's 5-gram KenLM sits further
    along the same axis; the plumbing — train counts, smooth, score
    per doc — is identical at every order): per doc, the mean of
    ln(p(w_i | w_{i-1})) under p = λ·p_bigram + (1-λ)·p_unigram, with
    the first token scored by its unigram probability. Interpolation
    (Jelinek-Mercer) handles unseen bigrams without zero-probability
    spikes; ``lambda_pct`` is an integer percentage so the mixture
    weight is exactly representable.

    Cross-engine exactness: p_bi = c(w1,w2)/c(w1·) and p_uni =
    c(w2)/T are pure functions of exact integer counts; the mixture
    λ·p_bi + (1-λ)·p_uni is computed in one fixed operation order,
    ln of that double is quantized to micro-unit longs before the
    per-doc fold. Tokens travel as engine-portable 60-bit md5 hashes
    (bigram key = two hashes packed into a struct — never string
    concatenation of raw text across the wire).

    Scale: one bigram count groupBy (map-side combined), one unigram
    count groupBy, one broadcast 1-row total, two hash joins of the
    doc's bigram stream against the count tables, one per-doc fold.
    Linear in corpus token count.
    """
    lam = lambda_pct / 100.0
    stream = token_hash_positions(docs, id_col, text_col)
    w = Window.partitionBy("_id").orderBy("_p")
    pairs = stream.select(
        "_id", "_p", F.lag("_h").over(w).alias("_h1"), F.col("_h").alias("_h2")
    )
    uni = stream.groupBy("_h").agg(F.count("*").alias("_cu"))
    total = uni.agg(F.sum("_cu").alias("_t"))
    bi = (
        pairs.filter(F.col("_h1").isNotNull())
        .groupBy("_h1", "_h2")
        .agg(F.count("*").alias("_cb"))
    )
    ctx = bi.groupBy("_h1").agg(F.sum("_cb").alias("_cc"))
    scored = (
        pairs.join(uni.select(F.col("_h").alias("_h2"), "_cu"), "_h2")
        .crossJoin(F.broadcast(total))
        .join(bi, ["_h1", "_h2"], "left")
        .join(ctx, "_h1", "left")
        .select(
            "_id",
            F.round(
                F.log(
                    F.when(
                        F.col("_h1").isNull(),
                        F.col("_cu").cast("double") / F.col("_t").cast("double"),
                    ).otherwise(
                        F.lit(lam)
                        * (
                            F.coalesce("_cb", F.lit(0)).cast("double")
                            / F.col("_cc").cast("double")
                        )
                        + F.lit(1.0 - lam)
                        * (
                            F.col("_cu").cast("double")
                            / F.col("_t").cast("double")
                        )
                    )
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("_lp"),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("_lp").alias("_s"))
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            micro_avg(F.col("_s"), F.col("n_tokens")).alias("avg_logprob"),
        )
    )


def source_unigram_kl(
    docs: DataFrame,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source distribution drift: KL(p_source ‖ p_corpus) over
    +1-smoothed hashed-unigram buckets — the monitoring statistic that
    flags an ingestion source whose content distribution has drifted
    from the corpus (feed swapped language, went template-spam, or
    changed domain). A retrain/remix decision reads this per source
    the way dsir_select reads the same machinery per document.

    KL terms are pure functions of exact integer counts; each of the
    ``n_buckets`` terms is quantized to a nano-unit long before the
    per-source sum (64 doubles summed in engine-dependent order would
    drift in the last bits), so the statistic replays exactly in SQL.
    Scale: one (source, bucket) count aggregate — bounded keys — plus
    a bucket-level corpus rollup; nothing corpus-sized shuffles twice.
    """
    stream = token_buckets(docs, source_col, "_src", n_buckets, text_col)
    sc = stream.groupBy("_src", "_b").agg(F.count("*").alias("_c"))
    stot = sc.groupBy("_src").agg(F.sum("_c").alias("_ts"))
    cc = sc.groupBy("_b").agg(F.sum("_c").alias("_cc"))
    ctot = cc.agg(F.sum("_cc").alias("_t"))
    buckets = docs.sparkSession.range(n_buckets).select(F.col("id").alias("_b"))
    grid = stot.crossJoin(F.broadcast(buckets))
    # LEFT join + coalesce on the corpus side too: a bucket no token
    # hashes into still carries smoothed mass on BOTH sides, and for a
    # small source those are exactly the positive KL terms — an inner
    # join dropped them and let the "KL" go negative (caught by the
    # drifted-source invariant test).
    full = (
        grid.join(sc, ["_src", "_b"], "left")
        .select("_src", "_b", "_ts", F.coalesce("_c", F.lit(0)).alias("_c"))
        .join(F.broadcast(cc), "_b", "left")
        .select("*", F.coalesce("_cc", F.lit(0)).alias("_ccf"))
        .drop("_cc")
        .withColumnRenamed("_ccf", "_cc")
        .crossJoin(F.broadcast(ctot))
    )
    ps = (F.col("_c") + 1).cast("double") / (F.col("_ts") + n_buckets).cast("double")
    pc = (F.col("_cc") + 1).cast("double") / (F.col("_t") + n_buckets).cast("double")
    term = (ps * (F.log(ps) - F.log(pc)) * 1_000_000_000)
    return (
        full.select(
            "_src", F.round(term, 0).cast("long").alias("_k")
        )
        .groupBy("_src")
        .agg(
            F.round(
                F.sum("_k").cast("double") / F.lit(1_000_000_000.0), 6
            ).alias("kl_nats")
        )
        .select(F.col("_src").alias(source_col), "kl_nats")
    )


def build_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int = 8,
) -> None:
    """Materialize the BM25 retrieval state as an on-disk inverted
    index, so N later searches amortize ONE corpus scan (the bucketing
    argument applied to text retrieval — bm25_topk recomputes term
    stats per call, which is right for batch joins and wrong for
    online lookups).

    Layout under ``path``:

    * ``postings/`` — (term `_h`, doc, tf, dl), denormalized so a
      search needs no doc-table join; range-partitioned AND sorted on
      `_h` so file/row-group min-max stats prune a term lookup to a
      sliver, with a bloom filter on `_h` (io.write_parquet_bloom)
      catching the equality probes min-max can't.
    * ``terms/`` — (_h, df) document frequencies.
    * ``stats/`` — one row (n_docs, sum_dl).

    All three are plain parquet: any Spark session (or engine) can
    serve queries with no session state, and incremental maintenance
    is a partition-wise merge of new postings.
    """
    from finance_data_pipeline_spark.io import write_parquet_bloom

    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    ).select(F.col(id_col), F.xxhash64("_t").alias("_h"))
    tf = toks.groupBy(id_col, "_h").agg(F.count("*").alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    postings = tf.join(dl, id_col)
    write_parquet_bloom(
        postings.repartitionByRange(n_files, "_h").sortWithinPartitions("_h"),
        f"{path}/postings",
        bloom_cols=["_h"],
    )
    tf.groupBy("_h").agg(F.count("*").cast("long").alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{path}/terms")
    dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_text: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_id: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Online BM25 search against a build_text_index layout: tokenize
    the query with the EXACT corpus tokenizer (a 1-row frame through
    the same expression — no Python re-implementation to drift), push
    the hashed term IN-list into the postings scan (min-max prune +
    bloom row-group skip), and score only the matched slivers.

    Identical arithmetic to bm25_topk (idf, decimal-cast contribution
    sum, 6-dp round, id tie-break), so the two agree exactly on the
    same corpus — asserted in tests. Driver-side pulls are the 1-row
    stats and the query's own term hashes, both bounded by the query,
    never the corpus.
    """
    q = spark.createDataFrame([(query_text,)], "text string")
    hashes = [
        r._h
        for r in q.select(F.explode(tokens("text")).alias("_t"))
        .select(F.xxhash64("_t").alias("_h"))
        .distinct()
        .collect()
    ]
    n_docs, sum_dl = spark.read.parquet(f"{index_path}/stats").first()
    avgdl = float(sum_dl) / float(n_docs)
    post = spark.read.parquet(f"{index_path}/postings").filter(
        F.col("_h").isin(hashes)
    )
    if exclude_id is not None:
        post = post.filter(F.col(id_col) != exclude_id)
    terms = spark.read.parquet(f"{index_path}/terms").filter(
        F.col("_h").isin(hashes)
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfv = F.col("tf").cast("double")
    contrib = (
        idf
        * (tfv * (1.0 + k1))
        / (tfv + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.lit(avgdl)))
    ).cast("decimal(28,12)")
    return (
        post.join(F.broadcast(terms), "_h")
        .withColumn("_c", contrib)
        .groupBy(id_col)
        .agg(F.round(F.sum("_c").cast("double"), 6).alias("score"))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def merge_text_index(
    spark,
    index_path: str,
    new_docs: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int = 8,
) -> None:
    """Incremental maintenance for build_text_index: fold a batch of
    NEW documents into an existing index without rescanning the old
    corpus — postings union (one pass over the new batch only), term
    document-frequencies added, the 1-row stats summed. Equals a full
    rebuild over old+new exactly (tested), which is the property that
    makes the index trustworthy under continuous ingestion.

    Writes to ``out_path`` rather than in place — the same
    commit-then-swap discipline as compact_parquet: a failed merge
    must never corrupt the serving index. Old postings are passed
    through the range-repartition with the new ones so the merged
    layout keeps its `_h` pruning property.
    """
    from finance_data_pipeline_spark.io import write_parquet_bloom

    toks = new_docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    ).select(F.col(id_col), F.xxhash64("_t").alias("_h"))
    tf = toks.groupBy(id_col, "_h").agg(F.count("*").alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    new_postings = tf.join(dl, id_col)

    old_postings = spark.read.parquet(f"{index_path}/postings")
    merged = old_postings.select(id_col, "_h", "tf", "dl").unionByName(
        new_postings.select(id_col, "_h", "tf", "dl")
    )
    write_parquet_bloom(
        merged.repartitionByRange(n_files, "_h").sortWithinPartitions("_h"),
        f"{out_path}/postings",
        bloom_cols=["_h"],
    )

    new_df = tf.groupBy("_h").agg(F.count("*").cast("long").alias("df"))
    old_df = spark.read.parquet(f"{index_path}/terms")
    (
        old_df.unionByName(new_df)
        .groupBy("_h")
        .agg(F.sum("df").cast("long").alias("df"))
        .write.mode("overwrite")
        .parquet(f"{out_path}/terms")
    )

    new_stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    (
        spark.read.parquet(f"{index_path}/stats")
        .unionByName(new_stats)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
        .write.mode("overwrite")
        .parquet(f"{out_path}/stats")
    )


def quality_ensemble_rank(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Rank-ensemble quality score: three heterogeneous per-document
    signals — the heuristic quality_score, token count, and
    distinct-token ratio — each converted to a within-language
    percent_rank, then averaged. Rank-averaging is the standard way a
    curation pipeline combines signals on incomparable scales (a raw
    weighted sum would let the unbounded token count dominate the
    [0,1] heuristics); ranking within language keeps one language's
    length distribution from crowding out another's.

    percent_rank is (rank-1)/(n-1) with ANSI tie semantics in both
    Spark and DuckDB, so the ensemble is exactly reproducible in the
    SQL oracle; values are exact small rationals in doubles and the
    3-way average is the same IEEE arithmetic on both sides (rounded
    to 6 dp for the hash anyway).

    Scale shape: one codegen Project computes all three signals in a
    single scan pass, then ONE shuffle on lang feeds three window
    functions over the same (lang, signal) sort — doc-level rows only.
    Languages are the partition keys, so skew follows the corpus lang
    mix; a 90%-English corpus puts 90% of doc-level rows in one
    partition — acceptable because rows are narrow doc-level tuples
    (the window never sees text), and a two-level rank (salted
    pre-rank + merge) is the escape hatch if a single language's DOC
    COUNT outgrows an executor.

    Returns (doc_id, lang, q_rank, len_rank, ttr_rank, ensemble_rank).
    """
    toks = tokens(text_col)
    n_tok = F.size(toks)
    # nullif: an empty doc must score 0, not fail the job under ANSI
    # division (NULL ratio -> the punctuation term contributes 0).
    n_chars = F.nullif(F.length(F.col(text_col)), F.lit(0))
    punct_ratio = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", "")) / n_chars
    all_stop = [w for ws in _LANG_MARKERS.values() for w in ws]
    score = (
        F.when((n_tok >= 10) & (n_tok <= 100_000), 0.4).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.3).otherwise(0.0)
        + F.when(_marker_hits(toks, all_stop) >= 2, 0.3).otherwise(0.0)
    )
    sig = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        F.round(score, 6).alias("_q"),
        n_tok.cast("long").alias("_len"),
        F.round(
            F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 6
        ).alias("_ttr"),
    )
    def _pr(col, out):
        # order by the signal alone: percent_rank gives tied rows the
        # same value, so no id tiebreak is needed (or wanted — it would
        # split ties nondeterministically between engines).
        w = Window.partitionBy("lang").orderBy(F.asc(col))
        return F.percent_rank().over(w).alias(out)
    ranked = sig.select(
        id_col,
        "lang",
        _pr("_q", "q_rank"),
        _pr("_len", "len_rank"),
        _pr("_ttr", "ttr_rank"),
    )
    return ranked.select(
        id_col,
        "lang",
        F.round("q_rank", 6).alias("q_rank"),
        F.round("len_rank", 6).alias("len_rank"),
        F.round("ttr_rank", 6).alias("ttr_rank"),
        F.round(
            (F.col("q_rank") + F.col("len_rank") + F.col("ttr_rank")) / 3.0, 6
        ).alias("ensemble_rank"),
    )


def sentence_split_udtf(max_words: int = 25):
    """Spark 4 Python UDTF (user-defined TABLE function) — the
    row→rows extension API, registered for SQL LATERAL use: split a
    document into sentences on [.!?]+ runs, then split any span longer
    than ``max_words`` words into fixed ``max_words``-word segments
    (the standard segmentation fallback for unpunctuated text — ASR
    transcripts, OCR dumps, and this corpus' delimiter-free word
    stream, where pure punctuation splitting degenerates to one
    segment per document and the fan-out path would never execute).
    Output sentences are single-space re-joins of the word chunk, so
    the SQL oracle's array_to_string matches Python's " ".join exactly.
    Arrow-optimized (``useArrow=True`` → ArrowEvalPythonUDTF: batched
    Arrow transfer, not the row-pickling BatchEvalPython the plan
    sweep bans).

    Policy note: this exists to cover the UDTF extension surface —
    for hot-path fan-outs the JVM-native explode/transform forms
    (doc_chunks, line segmentation) remain the 100 TB path; a Python
    generator per row costs Python CPU however the data arrives.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string", useArrow=True)
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            import re

            i = 0
            for seg in re.split(r"[.!?]+", text or ""):
                ws = seg.split()
                for k in range(0, len(ws), max_words):
                    yield (doc_id, i, " ".join(ws[k : k + max_words]))
                    i += 1

    return SentenceSplit


# --- round 4: character entropy / n-gram diversity / novelty -------------

# The character classes the entropy ranges over: lowercase letters,
# digits, space. Fixed ORDER matters — both engines chain the float
# additions in this exact sequence, so the IEEE result is identical.
_ENTROPY_SYMBOLS = list("abcdefghijklmnopqrstuvwxyz0123456789 ")


def char_entropy(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Shannon entropy (bits) of the normalized text's character
    distribution over [a-z0-9 ] — the classic gibberish/boilerplate
    signal (low entropy = repeated filler, high = encoded noise).

    Scale shape: NO explode and NO shuffle — each symbol's count is
    ``length(s) - length(translate(s, ch, ''))``, a row-local codegen
    expression, so the whole scan is one narrow map stage regardless of
    document size. Symbols outside the class (punctuation, unicode) are
    simply not counted, mirroring the SQL oracle exactly. A doc with NO
    counted characters scores entropy 0 (every term takes its 0.0
    branch in both engines), with ``n_sym = 0`` flagging the case.
    """
    s = F.lower(F.trim(F.col(text_col)))
    counts = [
        (F.length(s) - F.length(F.translate(s, ch, ""))).cast("long")
        for ch in _ENTROPY_SYMBOLS
    ]
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    docs = docs.select(
        F.col(id_col),
        *[c.alias(f"_c{i}") for i, c in enumerate(counts)],
        total.alias("n_sym"),
    )
    tot = F.nullif(F.col("n_sym").cast("double"), F.lit(0.0))
    terms = [
        F.when(
            F.col(f"_c{i}") > 0,
            -(F.col(f"_c{i}") / tot) * F.log2(F.col(f"_c{i}") / tot),
        ).otherwise(F.lit(0.0))
        for i in range(len(_ENTROPY_SYMBOLS))
    ]
    h = terms[0]
    for t in terms[1:]:
        h = h + t
    return docs.select(
        id_col, "n_sym", F.round(h, 6).alias("entropy_bits")
    )


def char_entropy_oracle_sql() -> str:
    """The DuckDB twin of char_entropy over the ``documents`` view,
    generated from the same symbol list so count and term order match
    the Spark expression chain exactly."""
    sym_sql = []
    for ch in _ENTROPY_SYMBOLS:
        lit = "''''" if ch == "'" else ch
        sym_sql.append(f"length(s) - length(translate(s, '{lit}', ''))")
    counts = ",\n    ".join(
        f"CAST({e} AS BIGINT) AS c{i}" for i, e in enumerate(sym_sql)
    )
    total = " + ".join(f"c{i}" for i in range(len(sym_sql)))
    terms = " + ".join(
        f"CASE WHEN c{i} > 0 THEN -(c{i} / tot) * log2(c{i} / tot) ELSE 0.0 END"
        for i in range(len(sym_sql))
    )
    return f"""WITH s0 AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
c AS (SELECT doc_id,
    {counts}
  FROM s0),
t AS (SELECT *, CAST({total} AS BIGINT) AS n_sym,
        nullif(CAST({total} AS DOUBLE), 0.0) AS tot FROM c)
SELECT doc_id, n_sym, round({terms}, 6) AS entropy_bits FROM t"""


def distinct_ngram_frac(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Fraction of distinct k-word grams per document — the direct
    n-gram-diversity quality signal (low fraction = templated/looping
    text; the memorization-screen complement of Gopher's top-bigram
    coverage rule). Entirely row-local array math: no explode, no
    shuffle, one narrow map stage at any corpus size."""
    grams = raw_word_ngrams(text_col, k)
    n = F.size(grams)
    nd = F.size(F.array_distinct(grams))
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_grams"),
        nd.cast("long").alias("n_distinct"),
        F.round(nd.cast("double") / n, 6).alias("distinct_frac"),
    )


def doc_novelty(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document novelty: the share of its distinct k-gram shingles
    that appear in NO other document. The cross-doc twin of
    distinct_ngram_frac — a doc can be internally diverse yet wholly
    assembled from corpus-common phrases (boilerplate mosaics score
    near 0 here).

    Scale shape: one explode of the distinct shingle set, one
    shingle-keyed count aggregate (map-side partial applies), one join
    back — the same bounded pattern as contamination_overlap; never
    all-pairs."""
    expl = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("sh")
    )
    # word_shingles is distinct per doc, so count(*) per shingle = the
    # number of distinct docs containing it.
    df_counts = expl.groupBy("sh").agg(F.count("*").alias("_nd"))
    per_doc = (
        expl.join(df_counts, "sh")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0)).cast("long").alias("n_shared"),
        )
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_shared",
        F.round(
            1.0 - F.col("n_shared").cast("double") / F.col("n_shingles"), 6
        ).alias("novelty"),
    )


def trigram_backoff_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Trigram LM quality score with STUPID BACKOFF (Brants et al.
    2007, "Large Language Models in Machine Translation") — the
    web-scale scoring rule that skips normalized smoothing entirely:

        S(w3|w1w2) = c(w1w2w3)/c(w1w2·)          if the trigram is seen
                   = 0.4 · S(w3|w2)              else
        S(w3|w2)   = c(w2w3)/c(w2·)              if the bigram is seen
                   = 0.4 · c(w3)/T               else

    Token 1 scores by unigram, token 2 by the bigram rule. Brants'
    point was exactly the 100 TB regime: backoff needs no discounting
    pass over the count tables, so counts stream straight out of
    map-side-combined groupBys.

    Cross-engine exactness: every branch is a pure function of exact
    integer counts, the 0.4 backoff factor is exactly representable,
    the branch taken is decided by count existence (deterministic),
    and the resulting double quantizes to micro-unit longs before the
    per-doc fold (the bigram_logprob discipline). Tokens travel as
    60-bit md5 hashes; n-gram keys are hash tuples, never raw text.

    Scale: three count groupBys (tri/bi/uni), one broadcast total,
    LEFT joins of the doc's trigram stream against the three count
    tables, one per-doc fold. Linear in corpus tokens; no windows
    beyond the per-doc position lags.
    """
    stream = token_hash_positions(docs, id_col, text_col)
    w = Window.partitionBy("_id").orderBy("_p")
    trips = stream.select(
        "_id",
        "_p",
        F.lag("_h", 2).over(w).alias("_h1"),
        F.lag("_h", 1).over(w).alias("_h2"),
        F.col("_h").alias("_h3"),
    )
    uni = stream.groupBy(F.col("_h").alias("_h3")).agg(F.count("*").alias("_cu"))
    total = uni.agg(F.sum("_cu").alias("_t"))
    bi = (
        trips.filter(F.col("_h2").isNotNull())
        .groupBy(F.col("_h2"), F.col("_h3"))
        .agg(F.count("*").alias("_cb"))
    )
    bctx = bi.groupBy("_h2").agg(F.sum("_cb").alias("_cbc"))
    tri = (
        trips.filter(F.col("_h1").isNotNull())
        .groupBy("_h1", "_h2", "_h3")
        .agg(F.count("*").alias("_ct"))
    )
    tctx = tri.groupBy("_h1", "_h2").agg(F.sum("_ct").alias("_ctc"))
    p_uni = F.col("_cu").cast("double") / F.col("_t").cast("double")
    p_bi = F.col("_cb").cast("double") / F.col("_cbc").cast("double")
    p_tri = F.col("_ct").cast("double") / F.col("_ctc").cast("double")
    bi_backoff = F.when(F.col("_cb").isNotNull(), p_bi).otherwise(
        F.lit(0.4) * p_uni
    )
    score = (
        F.when(F.col("_h2").isNull(), p_uni)  # token 1
        .when(F.col("_h1").isNull(), bi_backoff)  # token 2
        .when(F.col("_ct").isNotNull(), p_tri)
        .otherwise(F.lit(0.4) * bi_backoff)
    )
    scored = (
        trips.join(uni, "_h3")
        .crossJoin(F.broadcast(total))
        .join(bi, ["_h2", "_h3"], "left")
        .join(bctx, "_h2", "left")
        .join(tri, ["_h1", "_h2", "_h3"], "left")
        .join(tctx, ["_h1", "_h2"], "left")
        .select(
            "_id",
            F.round(F.log(score) * 1_000_000, 0).cast("long").alias("_lp"),
        )
    )
    return (
        scored.groupBy("_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("_lp").alias("_s"))
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            micro_avg(F.col("_s"), F.col("n_tokens")).alias("avg_backoff_logprob"),
        )
    )


def js_divergence_sources(
    docs: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source
    hashed-unigram distributions (+1 smoothing) — the SYMMETRIC,
    bounded [0, ln 2] companion of source_unigram_kl: KL answers "how
    far is this source from the corpus", JS ranks which source PAIRS
    carry redundant vs complementary content when composing a training
    mix. Same machinery: one (source, bucket) count aggregate, then a
    C(n_sources, 2) × n_buckets grid (sources are a bounded key), each
    JS term quantized to a nano-unit long before the per-pair sum so
    the float statistic replays exactly in SQL."""
    stream = token_buckets(docs, source_col, "_src", n_buckets, text_col)
    sc = stream.groupBy("_src", "_b").agg(F.count("*").alias("_c"))
    stot = sc.groupBy("_src").agg(F.sum("_c").alias("_ts"))
    pairs = (
        stot.select(F.col("_src").alias("_sa"), F.col("_ts").alias("_tsa"))
        .crossJoin(
            F.broadcast(
                stot.select(
                    F.col("_src").alias("_sb"), F.col("_ts").alias("_tsb")
                )
            )
        )
        .filter(F.col("_sa") < F.col("_sb"))
    )
    buckets = docs.sparkSession.range(n_buckets).select(F.col("id").alias("_b"))
    grid = pairs.crossJoin(F.broadcast(buckets))
    ca = sc.select(
        F.col("_src").alias("_sa"), "_b", F.col("_c").alias("_ca")
    )
    cb = sc.select(
        F.col("_src").alias("_sb"), "_b", F.col("_c").alias("_cb")
    )
    full = (
        grid.join(F.broadcast(ca), ["_sa", "_b"], "left")
        .join(F.broadcast(cb), ["_sb", "_b"], "left")
        .select(
            "_sa", "_sb",
            F.coalesce("_ca", F.lit(0)).alias("_ca"),
            F.coalesce("_cb", F.lit(0)).alias("_cb"),
            "_tsa", "_tsb",
        )
    )
    pa = (F.col("_ca") + 1).cast("double") / (F.col("_tsa") + n_buckets).cast(
        "double"
    )
    pb = (F.col("_cb") + 1).cast("double") / (F.col("_tsb") + n_buckets).cast(
        "double"
    )
    m = (pa + pb) / 2
    term = 0.5 * pa * (F.log(pa) - F.log(m)) + 0.5 * pb * (
        F.log(pb) - F.log(m)
    )
    q = full.select(
        "_sa", "_sb",
        F.round(term * 1_000_000_000, 0).cast("long").alias("_k"),
    )
    return (
        q.groupBy("_sa", "_sb")
        .agg(
            F.round(
                F.sum("_k").cast("double") / 1_000_000_000.0, 6
            ).alias("js_nats")
        )
        .select(
            F.col("_sa").alias("source_a"),
            F.col("_sb").alias("source_b"),
            "js_nats",
        )
        .orderBy("source_a", "source_b")
    )
