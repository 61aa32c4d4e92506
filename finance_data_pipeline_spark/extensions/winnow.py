"""Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003).

Robust local document fingerprinting: hash every k-gram, slide a
window of ``w`` consecutive hashes, and keep the minimum of each
window (rightmost on ties). The selected set is guaranteed to share a
fingerprint with any other document that shares a run of at least
``w + k - 1`` tokens, while storing only ~2/(w+1) of the grams — the
density/guarantee trade-off that makes plagiarism-style span detection
affordable at corpus scale, where storing every gram is not.

Spark shape: tokenize → posexplode grams → portable 60-bit md5 gram
hash → one window function per document (ROWS BETWEEN CURRENT AND w-1
FOLLOWING) → distinct. One shuffle on doc_id; everything else is
row-local whole-stage codegen, so the operator scales linearly with
corpus bytes. The (hash asc, pos desc) window winner is encoded as a
fixed-width sortable string so the same ``min`` replays verbatim in
the DuckDB oracle (no engine-specific struct comparison).

Reference parity note: the reference repo has no fingerprinting
surface (fetch_and_store.py validates rows, nothing more); this
extends the §2.11 dedup family (SURVEY.md) with the standard
shared-span primitive its corpus tables call for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finance_data_pipeline_spark.extensions.dedup import md5_token_hash, raw_word_ngrams

# pos is encoded descending as (_POS_BASE - pos) so the lexicographic
# string min prefers the RIGHTMOST position among equal hashes — the
# paper's tie rule. 2e9 bounds token positions far past any real doc.
_POS_BASE = 2_000_000_000


def _grams_with_pos(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, pos, gram) for every overlapping k-gram, 1-based positions.
    Docs shorter than k tokens contribute their whole text at pos 1."""
    return docs.select(
        F.col(id_col), F.posexplode(raw_word_ngrams(text_col, k)).alias("_p0", "gram")
    ).select(
        F.col(id_col),
        (F.col("_p0") + 1).cast("long").alias("pos"),
        md5_token_hash("gram").alias("gram_hash"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Selected fingerprints (id, pos, gram_hash), distinct.

    A gram is selected iff it is the minimum (hash asc, rightmost on
    ties) of at least one window of ``w`` consecutive gram hashes.
    Windows are anchored at each valid start position; a doc with
    fewer than ``w`` grams is one (shorter) window, so every doc
    yields at least one fingerprint.
    """
    g = _grams_with_pos(docs, id_col, text_col, k)
    enc = F.concat(
        F.lpad(F.col("gram_hash").cast("string"), 19, "0"),
        F.lpad((F.lit(_POS_BASE) - F.col("pos")).cast("string"), 10, "0"),
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    n_grams = Window.partitionBy(id_col)
    sel = (
        g.withColumn("_enc", enc)
        .withColumn("_win_min", F.min("_enc").over(win))
        .withColumn("_m", F.count("*").over(n_grams))
        # only windows fully inside the doc (or the single clipped
        # window of a short doc) define selections
        .filter(F.col("pos") <= F.greatest(F.col("_m") - (w - 1), F.lit(1)))
        .select(
            F.col(id_col),
            (F.lit(_POS_BASE) - F.substring("_win_min", 20, 10).cast("long")).alias(
                "pos"
            ),
            F.substring("_win_min", 1, 19).cast("long").alias("gram_hash"),
        )
        .distinct()
    )
    return sel


def winnowing_shared_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 100,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints
    (id_a < id_b, shared count) — the cheap cross-doc span-overlap
    detector the fingerprints exist for.

    Scale guard: fingerprints whose document frequency exceeds
    ``max_df`` (boilerplate grams present in a large fraction of the
    corpus) are dropped before the self-join, bounding every posting
    list — the same stop-gram discipline as the prefix-filtered
    similarity joins (dedup.string_sim_join). The join then touches
    only ~2/(w+1) of grams per doc instead of all of them.
    """
    fp = winnowing_fingerprints(docs, id_col, text_col, k, w).select(
        F.col(id_col).alias("_id"), "gram_hash"
    )
    # distinct hashes per doc (positions collapse for matching)
    fp = fp.distinct()
    # (_id, gram_hash) is distinct after the line above, so per-hash
    # doc frequency and per-pair shared counts are plain count(*) —
    # countDistinct planned an extra Expand + second exchange per
    # aggregate for rows that cannot contain duplicates (guide §2.4).
    rare = (
        fp.groupBy("gram_hash")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("gram_hash")
    )
    fp = fp.join(rare, "gram_hash")
    a = fp.select(F.col("_id").alias("id_a"), "gram_hash")
    b = fp.select(F.col("_id").alias("id_b"), "gram_hash")
    return (
        a.join(b, "gram_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
