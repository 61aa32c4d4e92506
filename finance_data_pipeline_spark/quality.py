"""Data-quality rules (SURVEY.md P6/A11/J2).

The reference's ``DataQualityChecker`` validates row-by-row in Python
(fetch_and_store.py:60-120), logs violations (:122-168), and summarizes
counts (:170-185); plus a price-continuity heuristic (:285-294). Here
each rule is a named boolean ``Column`` — one codegen'd predicate pass
instead of ``iterrows``; ``flag`` preserves the logging behavior as an
array column, ``clean`` filters, ``summary`` aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Zero-volume is only an error for major tickers (fetch_and_store.py:117-118).
MAJOR_SYMBOLS = ("AAPL", "GOOGL", "MSFT", "AMZN", "TSLA")

# Each entry: (violation label, predicate that is TRUE when the rule is
# VIOLATED). Labels mirror fetch_and_store.py's issue strings.
def _rules() -> list[tuple[str, Column]]:
    c = F.col
    return [
        ("missing_open", c("open").isNull()),
        ("missing_high", c("high").isNull()),
        ("missing_low", c("low").isNull()),
        ("missing_close", c("close").isNull()),
        ("missing_volume", c("volume").isNull()),
        ("nonpositive_open", c("open") <= 0),
        ("nonpositive_high", c("high") <= 0),
        ("nonpositive_low", c("low") <= 0),
        ("nonpositive_close", c("close") <= 0),
        ("negative_volume", c("volume") < 0),
        ("high_lt_low", c("high") < c("low")),
        ("high_lt_open_close", c("high") < F.greatest(c("open"), c("close"))),
        ("low_gt_open_close", c("low") > F.least(c("open"), c("close"))),
        # try_divide: open == 0 rows (the reference's NaN→0 ingest
        # default, fetch_and_store_multi.py:164-168) must not crash the
        # validator under ANSI mode — they are already invalid via
        # nonpositive_open; a null ratio simply leaves this rule unfired.
        ("extreme_move", F.try_divide(F.abs(c("close") - c("open")), c("open")) > 0.5),
        (
            "zero_volume_major",
            (c("volume") == 0) & c("symbol").isin(*MAJOR_SYMBOLS),
        ),
    ]


def violation_array() -> Column:
    """Array of violated rule names for each row (empty = valid)."""
    parts = [F.when(pred, F.lit(name)) for name, pred in _rules()]
    return F.filter(F.array(*parts), lambda x: x.isNotNull())


def is_valid() -> Column:
    """Conjunction of all rules passing — the P6 composed predicate.

    Null-safe: a null predicate (e.g. ``open <= 0`` with null open)
    counts as violated via its matching missing_* rule, so validity is
    'no rule fired'."""
    cond = F.lit(True)
    for _, pred in _rules():
        cond = cond & ~F.coalesce(pred, F.lit(True))
    # missing_* rules make null comparisons explicit; a row with null
    # open already fails missing_open, so coalesce(pred, True) only
    # hardens rules whose operands are null.
    return cond


def clean(df: DataFrame) -> DataFrame:
    """Drop invalid rows (reference filters them out, fetch_and_store.py:122-168)."""
    return df.filter(is_valid())


def flag(df: DataFrame) -> DataFrame:
    """Annotate rows with their violations (preserves check_dataframe_quality logging)."""
    return df.withColumn("violations", violation_array())


def summary(df: DataFrame) -> DataFrame:
    """A11 — violation frequency, sorted desc (fetch_and_store.py:170-185)."""
    return (
        flag(df)
        .select(F.explode("violations").alias("violation"))
        .groupBy("violation")
        .count()
        .orderBy(F.desc("count"), "violation")
    )


def continuity_check(new_batch: DataFrame, stored: DataFrame) -> DataFrame:
    """J2 — price-continuity heuristic (fetch_and_store.py:285-294).

    Compare each symbol's first new ``open`` to its last stored
    ``close``; flag when the ratio falls outside [0.5, 2.0]. Left join:
    never-seen symbols are continuous by definition. ``stored`` per-
    symbol aggregates are tiny → broadcast to avoid shuffling the batch.
    """
    last_close = (
        stored.groupBy("symbol").agg(F.max_by("close", "date").alias("last_close"))
    )
    first_new = (
        new_batch.groupBy("symbol").agg(
            F.min_by("open", "date").alias("first_open"),
            F.min("date").alias("first_date"),
        )
    )
    ratio = F.col("first_open") / F.col("last_close")
    return (
        first_new.join(F.broadcast(last_close), "symbol", "left")
        .withColumn(
            "discontinuous",
            F.when(F.col("last_close").isNull(), F.lit(False)).otherwise(
                ~ratio.between(0.5, 2.0)
            ),
        )
        .withColumn("ratio", ratio)
    )


def profile_columns(
    df: DataFrame, cols: list[tuple[str, str]], exact: bool = True
) -> DataFrame:
    """Table profiling (the ANALYZE/data-quality sweep a pipeline runs
    before trusting a new drop): per column — null count, distinct
    count, min and max — in ONE aggregation pass, reshaped long via
    ``stack`` so downstream checks diff profiles across loads.

    ``cols`` is (name, kind) with kind ``money`` routing min/max
    through decimal(18,2) (engine-stable string form for TPC-H price
    doubles); anything else prints through a plain string cast.

    Scale notes: exact count(DISTINCT) over n columns runs through
    Spark's expand operator — an n× row blow-up before the shuffle.
    That is the oracle-checkable default here; at 100 TB pass
    ``exact=False`` for approx_count_distinct (HLL sketches, one pass,
    no expand) — the profile becomes an estimate, which is what
    production profilers ship. min/max/null-counts are map-side
    combined either way.
    """
    if not cols:
        raise ValueError("profile_columns needs at least one column")

    def fmt(c: Column, kind: str) -> Column:
        if kind == "money":
            c = c.cast("decimal(18,2)")
        return c.cast("string")

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, kind in cols:
        nd = (
            F.countDistinct(F.col(name))
            if exact
            else F.approx_count_distinct(name)
        )
        aggs += [
            F.sum(F.col(name).isNull().cast("long")).alias(f"{name}__nulls"),
            nd.alias(f"{name}__nd"),
            fmt(F.min(F.col(name)), kind).alias(f"{name}__min"),
            fmt(F.max(F.col(name)), kind).alias(f"{name}__max"),
        ]
    row = df.agg(*aggs)
    # Backtick-quote the derived identifiers so profiled column names
    # with spaces/punctuation survive the stack() expression; the
    # literal label escapes its single quotes.
    stack = ", ".join(
        "'{lbl}', `{n}__nulls`, `{n}__nd`, `{n}__min`, `{n}__max`".format(
            lbl=name.replace("'", "''"), n=name
        )
        for name, _ in cols
    )
    return row.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        ),
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    p: int = 9,
    by: list[str] | None = None,
    hash_col: str | None = None,
) -> DataFrame:
    """Deterministic HyperLogLog distinct-count estimate (Flajolet et
    al. 2007) with an EXACT replay: unlike approx_count_distinct's
    opaque sketch, every step here is a pure function of the
    engine-portable 60-bit md5 — bucket = h mod 2^p, rank = leading
    zeros of the remaining 52-bit field + 1 — so the estimate itself
    is fully SQL-oracle-checkable, closing the gap where approximate
    operators usually get only a rows-only check.

    Numeric discipline: the harmonic sum Σ 2^-M_j is accumulated as
    the exact integer Σ 2^(field+1-M_j) (every term a power of two;
    the total bounded by m·2^(field+1) ≤ 2^61 for p ≤ 10), so the only
    float math is the final alpha·m²·2^(field+1)/sum division —
    identical IEEE doubles in both engines. The scale is field+1 (not
    field) so the deepest possible rank — rest == 0 ⇒ M_j = field+1 —
    contributes the integer 1: with scale field the shift amount went
    NEGATIVE there, which Spark masks to 1L<<63 while DuckDB throws,
    the one input (probability ~2^-51 per row) where the engines
    diverged. Small-range (linear counting) correction applied per the
    paper.

    One groupBy on 2^p buckets (map-side-combined max) + one tiny
    final aggregate — constant state at any cardinality, the same
    scale shape as a real HLL. Returns one row:
    (present_buckets, est_distinct, exact_distinct).

    ``by`` turns it into the GROUPED sketch — one independent
    2^p-bucket HLL per group key (the per-partition cardinality report
    a 100 TB pipeline actually emits: distinct users per event type,
    distinct docs per source, ...). State is groups·2^p rows — still
    constant per group at any cardinality — and every group's estimate
    replays in SQL exactly like the global one. Returns one row per
    group: (*by, present_buckets, est_distinct, exact_distinct).
    """
    if not 4 <= p <= 10:
        raise ValueError("p must be in [4, 10] (bucket count 16..1024)")
    m = 1 << p
    field = 60 - p  # bits left after the bucket index
    # hash_col: pre-computed 60-bit hash injection seam. The deep-rank
    # edge (rest == 0 ⇒ rank = field+1) has probability ~2^(p-60) per
    # row — unreachable by any feasible key search — so the regression
    # test for the negative-shift bug injects the hash directly. The
    # production path always derives it from md5(key).
    if hash_col is not None:
        h = F.col(hash_col).cast("long")
    else:
        from finance_data_pipeline_spark.extensions.dedup import md5_token_hash

        h = md5_token_hash(F.col(key_col).cast("string"))
    by = list(by or [])
    # integer div, NOT float division — h has 60 bits and doubles hold 53
    b = df.select(*by, h.alias("_h")).select(
        *by,
        (F.col("_h") % m).alias("bucket"),
        F.expr(f"_h div {m}").alias("rest"),
    )
    rank = F.when(F.col("rest") == 0, F.lit(field + 1)).otherwise(
        F.lit(field) - F.length(F.bin(F.col("rest"))) + 1
    )
    per_bucket = b.groupBy(*by, "bucket").agg(F.max(rank).alias("mj"))
    agg = per_bucket.groupBy(*by).agg(
        F.count("*").alias("present"),
        # coalesce: an empty input has no buckets; the harmonic sum is
        # then all-empty-bucket mass and linear counting yields est 0
        F.coalesce(
            F.sum(F.expr(f"shiftleft(1L, cast({field + 1} - mj as int))")),
            F.lit(0),
        ).alias("_s"),
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    scaled_total = F.col("_s") + (F.lit(m) - F.col("present")) * F.lit(
        1 << (field + 1)
    )
    raw = (
        F.lit(alpha)
        * F.lit(float(m * m))
        * F.lit(float(1 << (field + 1)))
        / scaled_total.cast("double")
    )
    zeros = F.lit(m) - F.col("present")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    if by:
        exact = df.groupBy(*by).agg(
            F.countDistinct(key_col).alias("exact_distinct")
        )
        return agg.join(exact, by).select(
            *by,
            F.col("present").alias("present_buckets"),
            F.round(est, 4).alias("est_distinct"),
            "exact_distinct",
        )
    exact = df.select(F.countDistinct(key_col).alias("exact_distinct"))
    return agg.crossJoin(F.broadcast(exact)).select(
        F.col("present").alias("present_buckets"),
        F.round(est, 4).alias("est_distinct"),
        "exact_distinct",
    )


def k_anonymity(df: DataFrame, qi_cols: list[str], k: int = 5) -> DataFrame:
    """Privacy audit over a set of quasi-identifier columns: the size of
    every QI equivalence class, flagging classes smaller than ``k``
    (re-identifiable under k-anonymity).

    Companion to the PII scrub (text.pii_scrub): scrubbing removes
    direct identifiers from payloads, but a training-data release is
    still linkable through quasi-identifier combinations in its
    metadata. One hash-aggregate shuffle on the QI tuple; output is
    bounded by the QI cross-domain, not the row count, so the audit
    frame broadcasts at any scale. Callers bin continuous columns
    (e.g. balance → band) BEFORE the audit — raw continuous QIs make
    every class size 1 and the report meaningless.
    """
    g = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).cast("long").alias("class_n"))
    return g.withColumn("at_risk", F.col("class_n") < k)


# Benford's-law expected first-digit probabilities log10(1 + 1/d),
# baked as literals so BOTH engines compare against the exact same
# doubles (runtime log10 could differ in the last ulp between libms).
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_first_digit(
    df: DataFrame, value_col: str = "value", scale: int = 100
) -> DataFrame:
    """Benford's-law audit of a monetary column: observed first-
    significant-digit shares vs the log10(1+1/d) law, with the
    per-digit chi-square contribution — the classic fabricated-data /
    ingestion-bug screen for financial pipelines (Benford 1938;
    Nigrini's forensic-accounting use is the textbook application).

    Engine portability: the value is converted to integer minor units
    first (``CAST(round(value·scale) AS BIGINT)``) and the digit taken
    from the INTEGER's decimal string — integer→string is exact in
    every engine, where a floor(log10(·)) digit extraction can flip at
    power-of-ten boundaries when two libms disagree by one ulp.
    Non-positive amounts are excluded (Benford applies to positive
    magnitudes).

    Scale shape: one map-side-combined 9-group aggregate over a
    row-local digit projection; the 9-row result then joins the
    baked-in expectation literals — constant-size state at any
    row count.

    Returns (digit, n, obs_share, exp_share, chi2_term) — 9 rows.
    """
    cents = F.round(F.col(value_col) * scale).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(cents > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spark = df.sparkSession
    expected = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_P.items()], "digit int, exp_share double"
    )
    tot = counts.agg(F.sum("n").alias("_tot"))
    return (
        expected.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.round(F.coalesce("n", F.lit(0)) / F.col("_tot"), 6).alias("obs_share"),
            "exp_share",
            F.round(
                (F.coalesce("n", F.lit(0)) / F.col("_tot") - F.col("exp_share"))
                * (F.coalesce("n", F.lit(0)) / F.col("_tot") - F.col("exp_share"))
                / F.col("exp_share")
                * F.col("_tot"),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )
