"""Scalar-function surface (SURVEY.md §2.8, F1-F11).

Every scalar the reference computes in Python maps to a built-in
``pyspark.sql.functions`` Column expression — JVM-side, codegen'd, no
UDFs. Exposed as named helpers so the API surface is explicit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let_(col: Column, fn) -> Column:
    """Expression-level let-binding: evaluate ``col`` ONCE per row and
    reference it any number of times inside ``fn`` (a lambda Column →
    Column). HOF lambda variables are bound VALUES, so this survives
    CollapseProject / predicate pushdown, which re-inline a plain
    column alias into every downstream reference and would re-evaluate
    an expensive expression per reference."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def norm_symbol(col: Column | str) -> Column:
    """F1 — .strip().upper() on ticker input (fetch_and_store.py:356)."""
    return F.upper(F.trim(col))


def fmt_date(col: Column | str, fmt: str = "yyyy-MM-dd") -> Column:
    """F2 — strftime('%Y-%m-%d') (fetch_and_store_multi.py:158)."""
    return F.date_format(col, fmt)


def parse_date(col: Column | str) -> Column:
    """F3 — pd.to_datetime (dashboard.py:64)."""
    return F.to_date(col)


def next_day(col: Column | str) -> Column:
    """F4 — last_date + timedelta(days=1) (fetch_and_store_multi.py:272)."""
    return F.date_add(col, 1)


def days_back_cutoff(n: int) -> Column:
    """F4 — now − timedelta(days_back) (analyze_visualize.py:73)."""
    return F.date_sub(F.current_date(), n)


def pct_change_expr(new: Column, old: Column) -> Column:
    """F6 — (new−old)/old (fetch_and_store.py:287)."""
    return (new - old) / old


def sign_color(col: Column | str) -> Column:
    """F8 — 'green' if x>0 else 'red' (analyze_visualize.py:200)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c > 0, F.lit("green")).otherwise(F.lit("red"))


def csv_symbols(col: Column | str) -> Column:
    """F9 — split comma-separated symbol input, trimmed + uppercased
    (analyze_visualize.py:395-396)."""
    return F.transform(F.split(col, ","), lambda s: F.upper(F.trim(s)))


def json_prop(col: Column | str, key: str) -> Column:
    """F11 — JSON field access on events.props."""
    return F.get_json_object(col, f"$.{key}")


def round_portable(col: Column, k: int) -> Column:
    """Cross-engine-STABLE rounding of a float expression to k digits:
    scale, round at the integer level, descale — mirror in SQL as
    ``round(x * 1eK, 0) / 1eK``.

    ``round(x, k)`` itself is NOT portable: Spark converts the double
    to its EXACT decimal expansion before HALF_UP, while DuckDB rounds
    the float-scaled value, and for a double whose exact expansion sits
    within an ulp of the .5 boundary at digit k the two disagree in the
    last digit (the round-7 sf0.1 sweep measured ~1-in-10^4 rows on a
    round(x, 10) column; driver-SF corpora just happen not to contain
    boundary rows). ``round(y, 0)`` on the scaled double IS identical
    in both engines — exact halves are representable doubles and both
    round half away from zero — the same integer-level trick
    force_index_eom's micro-unit smoothing documents. Like round(),
    this can emit −0.0 for tiny negatives; add ``+ 0.0`` per the
    signed-zero convention where the column can go negative."""
    s = float(10**k)
    return F.round(col * s, 0) / F.lit(s)


def dot(a: Column | str, b: Column | str) -> Column:
    """F11 — array dot product via higher-order functions (JVM-side,
    no UDF): fold over zip_with products in array order. Elements are
    cast to double first so float inputs accumulate identically to the
    DuckDB oracle's DOUBLE[] math."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with the engine-wide zero-norm convention: a
    zero-NORM vector scores 0.0 to everything (instead of failing the
    job under ANSI division) — keeps argmax/top-k well-defined and
    deterministic, matching _assign_blocks' documented rule. A NULL
    vector is different (ADVICE r6): it is missing data, not a
    degenerate direction, so the score is NULL and aggregate consumers
    (pairwise_label_cosine's avg) skip the pair instead of silently
    counting a 0 — the NULL gate reads the input arrays, never the
    folds, so nothing is double-evaluated. Oracles whose data can
    contain zero vectors must replicate the guard as a CASE (see
    registry _PQ_SCORE); the driver test corpora contain none, so
    existing oracles are unaffected.

    try_divide + coalesce, NOT a when(norms != 0) guard: the norm
    expressions are interpreted HOF folds that Catalyst never CSEs, so
    a when-guard referencing them in both branches evaluates every
    fold twice per row — measurable on the crossJoin top-k hot path.
    try_divide evaluates each operand once and yields NULL on a zero
    divisor; coalesce maps that to the 0.0 convention."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.when(
        ca.isNotNull() & cb.isNotNull(),
        F.coalesce(
            F.try_divide(dot(ca, cb), l2_norm(ca) * l2_norm(cb)), F.lit(0.0)
        ),
    )


def fixed_point_sum(col: Column | str, scale: int) -> Column:
    """Exact order-independent sum of a fixed-point double column
    (2dp prices, 6dp rates) without 128-bit decimal aggregation: scale
    to integer cents (round() resolves the <1ulp gap between x*scale
    and the true scaled value), sum as plain longs inside whole-stage
    codegen, divide once at the end. Numerically identical to
    sum(CAST(x AS DECIMAL))::DOUBLE — both perform one rounding at the
    final division — at ~half the wall-clock (measured on TPC-H Q1).
    Exact while the group total stays below 2^63/scale; beyond that
    (extreme-scale global sums) use the decimal path."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * scale).cast("long")) / float(scale)


def decimal_sum(col: Column) -> Column:
    """Exact, summation-order-independent sum of a double column:
    ``CAST(sum(CAST(x AS DECIMAL(38,18))) AS DOUBLE)``, the form the
    DuckDB oracles spell, so both engines round once, at the end."""
    return F.sum(col.cast("decimal(38,18)")).cast("double")


def micro_avg(s: Column, n: Column, scale: int = 1_000_000) -> Column:
    """Exact fixed-point mean of a micro-unit BIGINT sum: integer
    half-away-from-zero rounding of ``s / n`` (still in micro-units),
    then one division by ``scale`` — both engines derive the IDENTICAL
    double from identical BIGINTs, so there is no ``round(double, 6)``
    whose half-boundary Spark (exact decimal expansion, HALF_UP) and
    DuckDB (scaled-float) can resolve differently. The natural-text
    probe caught exactly that divergence in dsir_selected_corpus
    (-0.06262 vs -0.062619 on the same exact sums); this is the
    class-level fix, paired with ``micro_avg_sql`` in registry.py so
    the rounding is spelled identically on both sides.

    The inner division uses Spark's integer ``div`` (IntegralDivide),
    which matches DuckDB's BIGINT ``//`` bit-for-bit over the full
    int64 range — a double-rounded ``(mag - mag % d) / d`` would be
    exact only while ``mag = 2*|s| + n`` stays below 2^53 (ADVICE r8:
    sums above ~9e15 micro-units could diverge by one ulp).
    """
    mag = 2 * F.abs(s) + n
    d = 2 * n
    q = F.call_function("div", mag, d)
    return F.when(s < 0, -q).otherwise(q).cast("double") / F.lit(float(scale))
