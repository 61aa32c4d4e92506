"""Relational operator surface (SURVEY.md §2.2-2.4, 2.6-2.7).

The reference's 8 SQL query shapes (SELECTs with equality/range
predicates, DISTINCT, MAX-per-key, ORDER BY … LIMIT) plus the join menu
its upsert/validation semantics decompose into. Thin, well-named
compositions over DataFrame built-ins — the engine's value is that each
is declared, tested, and oracle-checked; Catalyst supplies pushdown,
pruning, and join strategy (broadcast vs sort-merge) automatically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- projections (P1) ----------------------------------------------------

def project(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P1 — column projection; prunes the Parquet scan to these columns."""
    return df.select(*cols)


# --- joins (J1-J7) -------------------------------------------------------

def equi_join(left: DataFrame, right: DataFrame, on, how: str = "inner",
              broadcast_right: bool = False) -> DataFrame:
    """J1/J2 — equi join; hint broadcast for dimension tables so the fact
    side never shuffles (at 100 TB, region/nation/customer dims are
    broadcast-able; lineitem is not)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    return left.join(right, on, "left_anti")


def theta_join(left: DataFrame, right: DataFrame, cond: Column) -> DataFrame:
    """J7 — cross join + predicate (nested-loop); the X3 similarity join
    builds on this with norm-bound pruning."""
    return left.crossJoin(right).filter(cond)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """J6+ — as-of join: each left row picks the latest right row with
    ``right.ts <= left.ts`` per key (the reference's "state as of a
    point in time" pattern behind its incremental boundary,
    fetch_and_store_multi.py:269-276, generalized).
    ``direction="forward"`` flips the inequality — the EARLIEST right
    row with ``right.ts >= left.ts`` (pandas merge_asof's forward
    direction: next-quote settlement pricing, next-restock lookup).

    Spark-first physical plan: tag + union + last-value-ignorenulls
    window, NOT a range-predicate join. A naive
    ``left.join(right, ts >= ts)`` explodes to O(|L|·|R|) per key before
    a per-row max; the union form is one shuffle on (key, ts) and one
    linear window pass — the only formulation that survives 100 TB.
    Forward direction is the same pass with the window order reversed —
    no second formulation to maintain. Equal timestamps match in both
    directions (right sorts before left at the same ts).
    ``direction="nearest"`` composes both passes and picks the match
    with the smaller |Δt| per row (ties → backward, the earlier row —
    a FIXED documented rule, since engines must agree bit-for-bit);
    costs two window passes instead of one, still never a range join.

    NULL contract (pinned by tests/test_null_contracts.py): NULL
    timestamps sort NULLS-FIRST in the backward pass — a NULL-ts right
    row fills only NULL-ts left rows (both precede every real
    timestamp), and a NULL-ts left row sees only NULL-ts right state.
    pandas merge_asof raises on NaT keys instead; callers wanting that
    strictness filter NULL timestamps first.
    """
    from pyspark.sql import Window

    if direction == "nearest":
        r2 = right.select(key, right_ts, *right_cols).withColumn(
            "_r_ts_val", F.col(right_ts)
        )
        cols2 = [*right_cols, "_r_ts_val"]
        step = asof_join(left, r2, key, left_ts, right_ts, cols2, "backward")
        for c in cols2:
            step = step.withColumnRenamed(f"{c}_asof", f"_bwd_{c}")
        step = asof_join(step, r2, key, left_ts, right_ts, cols2, "forward")
        for c in cols2:
            step = step.withColumnRenamed(f"{c}_asof", f"_fwd_{c}")
        # NTZ timestamps can't cast straight to double — route through
        # timestamp (session tz is pinned UTC) to fractional epoch secs.
        def _secs(c):
            return F.col(c).cast("timestamp").cast("double")

        lts = _secs(left_ts)
        db = lts - _secs("_bwd__r_ts_val")
        df_ = _secs("_fwd__r_ts_val") - lts
        choose_bwd = F.col("_fwd__r_ts_val").isNull() | (
            F.col("_bwd__r_ts_val").isNotNull() & (db <= df_)
        )
        out = step.select(
            "*",
            *[
                F.when(choose_bwd, F.col(f"_bwd_{c}"))
                .otherwise(F.col(f"_fwd_{c}"))
                .alias(f"{c}_asof")
                for c in right_cols
            ],
        )
        return out.drop(
            *[f"_bwd_{c}" for c in cols2], *[f"_fwd_{c}" for c in cols2]
        )
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    lt = left.select(
        "*",
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
    ).withColumn("_ts", F.col(left_ts))
    rt = right.select(
        F.col(key),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        F.col(right_ts).alias("_ts"),
    )
    # Left rows carry their own columns; right rows only (key, ts, payload).
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(lt.dtypes)[c]))
    unioned = lt.unionByName(rt.select(*lt.columns))
    ts_order = F.col("_ts") if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy(key)
        .orderBy(ts_order, "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in right_cols
        ],
    )
    return filled.filter(F.col("_side") == 1).drop(
        "_side", "_ts", *[f"_r_{c}" for c in right_cols]
    )


def windowed_pair_join(
    df: DataFrame,
    key: str,
    ts: str,
    id_col: str,
    radius_sec: int = 300,
) -> DataFrame:
    """J7+ — self range-join within a time radius, the temporal
    proximity join behind burst/coincidence detection: all pairs of
    rows sharing ``key`` whose timestamps lie within ``radius_sec`` of
    each other, each pair exactly once (``id_a < id_b``).

    Scalable formulation: a naive ``df JOIN df ON |t1-t2| <= r`` is a
    per-key Cartesian theta join — O(k²) rows examined per key. Here
    timestamps bucket into ``radius_sec``-wide bins; any qualifying
    pair's bins differ by at most 1, so ONE side fans out to its
    {bin-1, bin, bin+1} neighborhood and the join is a plain equi join
    on (key, bin) with the exact |Δt| ≤ r predicate as a post-filter.
    3× replication of one side buys an equi-shuffle plan whose cost is
    (rows per key·bin)², the local density — not the key's full
    history. Each pair matches exactly once: the probe side keeps its
    single natural bin and the build side's three exploded bins are
    distinct. Returns (key, id_a, id_b, dt_sec) with
    dt_sec = t_b - t_a (sign preserved).
    """
    epoch = F.unix_timestamp(F.col(ts)).cast("long")
    base = df.select(
        F.col(key).alias("_k"), F.col(id_col).alias("_id"), epoch.alias("_t")
    )
    a = base.select(
        F.col("_k"),
        F.col("_id").alias("id_a"),
        F.col("_t").alias("_ta"),
        F.explode(
            F.array(
                F.expr(f"_t div {radius_sec} - 1"),
                F.expr(f"_t div {radius_sec}"),
                F.expr(f"_t div {radius_sec} + 1"),
            )
        ).alias("_bin"),
    )
    b = base.select(
        F.col("_k"),
        F.col("_id").alias("id_b"),
        F.col("_t").alias("_tb"),
        F.expr(f"_t div {radius_sec}").alias("_bin"),
    )
    return (
        a.join(b, ["_k", "_bin"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_tb") - F.col("_ta")) <= radius_sec)
        )
        .select(
            F.col("_k").alias(key),
            "id_a",
            "id_b",
            (F.col("_tb") - F.col("_ta")).alias("dt_sec"),
        )
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
    row_mix: bool = False,
) -> DataFrame:
    """Skew-resistant equi join: the skewed (left) side gets a per-row
    salt in [0, salt); the right side is replicated once per salt value;
    the join key becomes (key, salt), splitting each hot key's rows
    across `salt` shuffle partitions instead of one straggler task.

    AQE's skew-join handles most cases at runtime
    (spark.sql.adaptive.skewJoin.enabled, on in tune_session); explicit
    salting is for the pathological single-key hot spot AQE can't split
    further (one key > one partition's memory). The salt is a hash of
    the whole left row, NOT rand(): seeded RNG is partition-layout-
    dependent, so a rand salt changes row placement between runs — the
    same reproducibility rule the sampling module keys on. Costs a
    `salt`× replication of the right side — keep the replicated side
    the small one.

    Limitation of the default whole-row-hash salt: FULLY IDENTICAL
    duplicate rows (a common shape of a pathological hot key) all hash
    to the same salt and still land in one partition. Pass
    ``row_mix=True`` to mix a per-row physical id into the salt, which
    spreads identical rows too — at the explicit cost of layout
    dependence (row placement, not the JOIN RESULT, varies with input
    partitioning; result rows are identical either way).
    """
    salt_src = [F.col(c) for c in left.columns]
    if row_mix:
        salt_src.append(F.monotonically_increasing_id())
    salt_col = F.pmod(F.xxhash64(*salt_src), F.lit(salt))
    salted_l = left.withColumn("_salt", salt_col)
    salted_r = right.join(
        F.broadcast(
            right.sparkSession.range(salt).select(F.col("id").cast("bigint").alias("_salt"))
        ),
        how="cross",
    )
    return salted_l.join(salted_r, [key, "_salt"], how).drop("_salt")


def range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    how: str = "inner",
) -> DataFrame:
    """Interval containment join: point ∈ [lo, hi). The ranges side is
    broadcast (band tables are small by construction), so each executor
    scans its point partition once with no shuffle — at 100 TB the fact
    side never moves."""
    cond = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    return points.join(F.broadcast(ranges), cond, how)


# --- aggregations (A1-A3, A12) -------------------------------------------

def max_per_key(df: DataFrame, key: str, col: str) -> DataFrame:
    """A1 — SELECT MAX(col) GROUP BY key (fetch_and_store_multi.py:34,
    all symbols in one pass instead of one query per symbol)."""
    return df.groupBy(key).agg(F.max(col).alias(f"max_{col}"))


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """A2 — SELECT DISTINCT col ORDER BY col (analyze_visualize.py:43)."""
    return df.select(col).distinct().orderBy(col)


def rollup_agg(df: DataFrame, group_cols: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """A12 — rollup with grand totals; group cols coalesced to 'ALL' so
    subtotal rows are unambiguous (and oracle-comparable)."""
    out = df.rollup(*group_cols).agg(*aggs)
    for c in group_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit("ALL")))
    return out


def cube_agg(df: DataFrame, group_cols: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    out = df.cube(*group_cols).agg(*aggs)
    for c in group_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit("ALL")))
    return out


# --- sorts / limits (O1-O4) ----------------------------------------------

def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """O2/O4 — ORDER BY … LIMIT k. Spark plans TakeOrderedAndProject:
    per-partition heaps + a k-row driver merge — no global sort."""
    return df.orderBy(*order).limit(k)


# --- set ops (§2.7) -------------------------------------------------------

def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


# --- temporal versioning (SCD2 / gaps-and-islands) ------------------------

def change_islands(
    df: DataFrame,
    key: str,
    order_col: str,
    value: Column,
    value_name: str = "value",
) -> DataFrame:
    """Collapse consecutive rows with the same tracked value into
    validity ranges — the slowly-changing-dimension (SCD2) history
    builder, and the classic gaps-and-islands pattern.

    Emits one row per (key, run of equal values):
    ``(key, value, valid_from, valid_to, n_rows)`` where valid_to is
    the last order_col of the run (inclusive; the "current" version has
    the key's max order_col).

    Physical plan: lag + conditional running count inside ONE window
    partition pass per key, then a groupBy on (key, island) — two
    bounded-key shuffles, linear work, no self-join. The naive
    formulation (join each row to its predecessor range) is quadratic
    per key and never acceptable at 100 TB.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("_ord")
    tagged = (
        df.select(F.col(key), F.col(order_col).alias("_ord"), value.alias("_val"))
        .withColumn(
            "_chg",
            F.when(F.lag("_val").over(w).eqNullSafe(F.col("_val")), 0).otherwise(1),
        )
        .withColumn("_island", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        tagged.groupBy(key, "_island")
        .agg(
            F.first("_val").alias(value_name),
            F.min("_ord").alias("valid_from"),
            F.max("_ord").alias("valid_to"),
            F.count("*").alias("n_rows"),
        )
        .drop("_island")
    )



def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Change-data-capture between two snapshots of the same table:
    one row per key that differs, labelled ``added`` (key only in
    new), ``removed`` (key only in old), or ``changed`` (key in both,
    any non-key column differs). The diff primitive behind incremental
    re-syncs and audit reports when the upstream system (the
    reference's MySQL store, fetch_and_store.py:302-326) can't emit a
    changelog itself.

    Implementation: one full-outer join on the key with the non-key
    columns packed into structs — null-safe struct equality compares
    the whole row in a single codegen expression, so the operator
    costs exactly one co-partitioned shuffle per side regardless of
    column count. At 100 TB both sides partition by the same key and
    AQE handles skew; no collect, no per-column joins.

    NULL contract (pinned by tests/test_null_contracts.py): VALUE
    columns compare null-safely (NULL == NULL is "unchanged"), but a
    NULL KEY is not an identity — SQL join semantics never match it
    to itself, so a NULL-key row present in both snapshots reports as
    a removed + added PAIR, not "changed".
    """
    keys = list(keys)
    rest = [c for c in old.columns if c not in keys]
    if rest != [c for c in new.columns if c not in keys]:
        raise ValueError("snapshot_diff: snapshots must share a schema")
    o = old.select(*keys, F.struct(*rest).alias("_old"))
    n = new.select(*keys, F.struct(*rest).alias("_new"))
    joined = o.join(n, keys, "full_outer")
    return joined.select(
        *keys,
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    ).filter(
        F.col("_old").isNull()
        | F.col("_new").isNull()
        | ~F.col("_old").eqNullSafe(F.col("_new"))
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top: int = 10
) -> DataFrame:
    """Join-key skew diagnostic: the ``top`` heaviest keys with their
    row share and ratio to the mean per-key load — the measurement you
    take BEFORE reaching for salted_join / AQE skew hints. A key whose
    ratio_to_avg is in the hundreds will dominate one shuffle
    partition at any cluster size; this makes that visible from a
    single map-side-combined aggregate instead of a failed 100 TB run.

    share and ratio are integer-derived doubles (cnt/total,
    cnt·n_keys/total), so the profile replays exactly in SQL.

    Returns (key value aliased to ``key``, cnt, share, ratio_to_avg),
    heaviest first, rounded to 6 dp; ties broken by ascending key.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("cnt")
    )
    # Top-k via orderBy+limit = TakeOrderedAndProject (per-partition
    # heaps + driver merge of k rows) — never a global single-partition
    # sort or window over the full key set; the 2-value stats row
    # broadcasts back. Both stay distributed at any key cardinality.
    stats = counts.agg(
        F.sum("cnt").alias("_total"), F.count("*").alias("_nkeys")
    )
    heaviest = counts.orderBy(F.desc("cnt"), "key").limit(top)
    return (
        heaviest.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("_total").cast("double"), 6).alias(
                "share"
            ),
            F.round(
                (F.col("cnt").cast("double") * F.col("_nkeys").cast("double"))
                / F.col("_total").cast("double"),
                6,
            ).alias("ratio_to_avg"),
        )
    )


def salting_plan(
    df: DataFrame,
    key_col: str,
    hot_ratio: float = 1.5,
) -> DataFrame:
    """Prescriptive companion of key_skew_profile: for every key whose
    load exceeds ``hot_ratio``× the mean per-key load, emit the salt
    factor that levels it — ``ceil(cnt · n_keys / total)`` splits the
    hot key into roughly mean-sized shards, which is exactly the
    fan-out salted_join needs. The output IS the configuration you
    feed a salted join (or an AQE skew-hint review) before launching
    the 100 TB run; an empty result means no key needs salting.

    Same scale shape as key_skew_profile: one map-side-combined count,
    a broadcast 2-value stats row, a row-local filter. Ratios are
    integer-derived doubles — exact in the SQL oracle.

    Returns (key, cnt, ratio_to_avg, salt_factor), hot keys only.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").alias("_total"), F.count("*").alias("_nkeys")
    )
    ratio = (F.col("cnt").cast("double") * F.col("_nkeys").cast("double")) / F.col(
        "_total"
    ).cast("double")
    return (
        counts.crossJoin(F.broadcast(stats))
        .withColumn("ratio_to_avg", F.round(ratio, 6))
        .filter(F.col("ratio_to_avg") > hot_ratio)
        .select(
            "key",
            "cnt",
            "ratio_to_avg",
            F.ceil(ratio).cast("long").alias("salt_factor"),
        )
    )


# --- multi-dimensional layout / data skipping ---------------------------


def zorder_expr(xb: str, yb: str, bits: int = 8) -> str:
    """Bit-interleave expression text for a 2-D Z-order (Morton) value.

    Plain integer ``>> & << |`` arithmetic so the SAME string evaluates
    identically under Spark SQL and any ANSI engine — the registry
    embeds it in both the DataFrame plan and the DuckDB oracle.
    """
    terms = []
    for i in range(bits):
        terms.append(f"((({xb} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yb} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_layout_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    bits: int = 8,
    rect_tenths: tuple[int, int] = (4, 6),
) -> DataFrame:
    """Quantify file skipping under three physical layouts — linear by
    ``x``, linear by ``y``, Z-order on both — for a rectangle predicate
    covering tenths ``[lo, hi)`` of each dimension's range.

    Rows are assigned to ``n_files`` equal-width buckets of the layout
    key (the deterministic, shuffle-free stand-in for what
    ``repartitionByRange(z).sortWithinPartitions(z)`` produces with
    sampled quantiles on a real write). Per file the min/max of BOTH
    dimensions — exactly the parquet footer stats a reader consults —
    decide whether the rectangle can skip it. Output per layout:
    ``files_hit`` (files whose [min,max] box intersects the rectangle),
    ``rows_scanned`` (rows actually read), ``rows_match`` (true
    selectivity, identical across layouts by construction).

    Scale: one broadcast of the 1-row global bounds, then a single scan
    feeding a 3-way GROUPING SETS aggregate (one Expand, one shuffle on
    (layout, file)) and a tiny per-layout rollup — the three layouts are
    costed in one pass, never three. All integer arithmetic (``DIV``,
    shifts), so the audit is engine-portable and exactly reproducible.
    """
    lo_t, hi_t = rect_tenths
    width = 1 << bits
    base = df.select(
        F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    )
    b = base.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )
    g = (
        base.join(F.broadcast(b))
        .selectExpr(
            "x",
            "y",
            f"((x - xmin) * {width}) DIV (xmax - xmin + 1) AS xb",
            f"((y - ymin) * {width}) DIV (ymax - ymin + 1) AS yb",
            f"xmin + ((xmax - xmin + 1) * {lo_t}) DIV 10 AS x_lo",
            f"xmin + ((xmax - xmin + 1) * {hi_t}) DIV 10 - 1 AS x_hi",
            f"ymin + ((ymax - ymin + 1) * {lo_t}) DIV 10 AS y_lo",
            f"ymin + ((ymax - ymin + 1) * {hi_t}) DIV 10 - 1 AS y_hi",
            "xmin",
            "xmax",
            "ymin",
            "ymax",
        )
        .withColumn("zv", F.expr(zorder_expr("xb", "yb", bits)))
        .selectExpr(
            "*",
            f"(zv * {n_files}) DIV {1 << (2 * bits)} AS f_zorder",
            f"((x - xmin) * {n_files}) DIV (xmax - xmin + 1) AS f_linear_x",
            f"((y - ymin) * {n_files}) DIV (ymax - ymin + 1) AS f_linear_y",
        )
    )
    in_rect = (
        (F.col("x") >= F.col("x_lo"))
        & (F.col("x") <= F.col("x_hi"))
        & (F.col("y") >= F.col("y_lo"))
        & (F.col("y") <= F.col("y_hi"))
    ).cast("long")
    per_file = (
        g.withColumn("in_rect", in_rect)
        .groupingSets(
            [["f_zorder"], ["f_linear_x"], ["f_linear_y"]],
            "f_zorder",
            "f_linear_x",
            "f_linear_y",
        )
        .agg(
            F.expr(
                "CASE WHEN grouping(f_zorder) = 0 THEN 'zorder' "
                "WHEN grouping(f_linear_x) = 0 THEN 'linear_x' "
                "ELSE 'linear_y' END"
            ).alias("layout"),
            F.min("x").alias("fx0"),
            F.max("x").alias("fx1"),
            F.min("y").alias("fy0"),
            F.max("y").alias("fy1"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("in_rect").cast("long").alias("n_match"),
            F.min("x_lo").alias("x_lo"),
            F.min("x_hi").alias("x_hi"),
            F.min("y_lo").alias("y_lo"),
            F.min("y_hi").alias("y_hi"),
        )
    )
    hit = (
        (F.col("fx1") >= F.col("x_lo"))
        & (F.col("fx0") <= F.col("x_hi"))
        & (F.col("fy1") >= F.col("y_lo"))
        & (F.col("fy0") <= F.col("y_hi"))
    )
    return (
        per_file.withColumn("hit", hit.cast("long"))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("files_total"),
            F.sum("hit").cast("long").alias("files_hit"),
            F.sum(F.when(F.col("hit") == 1, F.col("n")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_match").cast("long").alias("rows_match"),
        )
        .orderBy("layout")
    )


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    depth: int = 3,
    width: int = 8192,
    include_exact: bool = True,
) -> DataFrame:
    """Equi-join cardinality estimate from count-min sketch inner
    products (Cormode & Muthukrishnan 2005 §4.2) — the optimizer-style
    pre-flight that decides broadcast vs shuffle vs salt BEFORE running
    a join: |A ⋈ B| = Σ_k f_A(k)·f_B(k), estimated as
    min_d Σ_cell A_d[cell]·B_d[cell], always ≥ the true size.

    Each side collapses to a depth×width integer sketch (one map-side-
    combined groupBy; constant state at any input size), so at 100 TB
    the estimate costs two scans and a broadcast-sized join of two
    ~24k-cell frames — never the join itself. Hashes are disjoint
    md5-slice folds of the key (same family as cms_term_counts), so the
    whole estimate replays bit-identically in SQL. A depth row with NO
    overlapping cells proves the key sets are disjoint — the estimate
    for that row is 0, not "absent" (left join against the row range).

    Output: one row with ``est_rows`` (and ``exact_rows`` when
    ``include_exact`` — the audit mode; turn it off at scale, the exact
    side is the computation the sketch exists to avoid).
    """
    spark = left.sparkSession

    def cells(df: DataFrame, key: str, cnt_name: str) -> DataFrame:
        k = df.select(F.col(key).cast("string").alias("k"))
        return (
            k.select(
                F.posexplode(
                    F.array(
                        *[
                            F.conv(
                                F.substring(F.md5("k"), 1 + 10 * j, 10), 16, 10
                            ).cast("long")
                            % width
                            for j in range(depth)
                        ]
                    )
                ).alias("row", "cell")
            )
            .groupBy("row", "cell")
            .agg(F.count(F.lit(1)).alias(cnt_name))
        )

    ca = cells(left, left_key, "cnt_a")
    cb = cells(right, right_key, "cnt_b")
    dots = (
        ca.join(cb, ["row", "cell"])
        .groupBy("row")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("dot"))
    )
    rows = spark.range(depth).select(F.col("id").cast("int").alias("row"))
    est = (
        rows.join(dots, "row", "left")
        .select(F.coalesce("dot", F.lit(0)).alias("dot"))
        .agg(F.min("dot").cast("long").alias("est_rows"))
    )
    if not include_exact:
        return est
    ea = (
        left.select(F.col(left_key).cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    eb = (
        right.select(F.col(right_key).cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    exact = (
        ea.join(eb, "k")
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("long")
            .alias("exact_rows")
        )
    )
    return est.crossJoin(exact)


def fd_audit(df: DataFrame, pairs: Sequence[tuple[str, str]]) -> DataFrame:
    """Approximate functional-dependency audit (the data-profiling
    primitive behind schema discovery à la Metanome/HyFD, public):
    for each candidate (determinant → dependent) pair, how many
    determinant groups exist, how many are VIOLATING (more than one
    distinct dependent value), and the violation rate. A 0.0 rate
    certifies the FD holds on this snapshot — the check that catches
    denormalization drift (one order key with two statuses) before a
    downstream join silently fans out.

    Scale shape: one exact distinct-aggregate shuffle PER PAIR (the
    pair list is a handful of hand-picked candidates, not the n²
    column cross product), each collapsing to a single row before the
    constant-size union — nothing driver-side, output bounded by
    len(pairs).
    """
    out = None
    for det, dep in pairs:
        g = df.groupBy(det).agg(F.countDistinct(dep).alias("_n_dep"))
        r = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("_n_dep") > 1).cast("long")).cast("long").alias("n_violations"),
        ).select(
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            "n_groups",
            "n_violations",
            F.round(F.col("n_violations") / F.col("n_groups"), 6).alias(
                "violation_rate"
            ),
        )
        out = r if out is None else out.unionByName(r)
    return out


def skyline_2d(
    df: DataFrame, x: str, y: str, keep_cols: Sequence[str] = ()
) -> DataFrame:
    """2-D skyline (Pareto frontier, maximizing both ``x`` and ``y``):
    rows not dominated by any other row — the classic Börzsönyi et al.
    2001 SKYLINE operator, as a distributed plan instead of the naive
    O(n²) NOT EXISTS self-join.

    Formulation: with mt(x) = max y at each distinct x and
    M(x) = max mt over all STRICTLY GREATER x, a row survives iff
    y = mt(x) and (M(x) is NULL or y > M(x)). The running max runs
    over the DISTINCT-x frame — bounded by the x value domain, not
    the row count — so the only unbounded-data shuffles are one
    groupBy(x) and the survivor semi-join; the ordered window touches
    |distinct x| rows. Ties: identical (x, y) points all survive
    (no strict dominance between them), matching the NOT EXISTS
    definition the oracle uses as an independent formulation.

    NULL contract (pinned by tests/test_null_contracts.py): rows with
    a NULL coordinate are EXCLUDED — a point with an unknown dimension
    has no place in a dominance order (NULL x drops at the frontier
    equi-join; NULL y can never equal the group max). Callers wanting
    NULLs ranked assign a sentinel first.
    """
    from pyspark.sql import Window

    mt = df.groupBy(x).agg(F.max(y).alias("_mt"))
    # Unpartitioned window — WindowExec warns, but the frame is the
    # distinct-x aggregate (bounded by the x value domain), not rows.
    w = (
        Window.orderBy(F.desc(x)).rowsBetween(Window.unboundedPreceding, -1)
    )
    fr = mt.select(x, "_mt", F.max("_mt").over(w).alias("_M"))
    cols = [x, y, *keep_cols]
    return (
        df.join(F.broadcast(fr), x)
        .filter(
            (F.col(y) == F.col("_mt"))
            & (F.col("_M").isNull() | (F.col(y) > F.col("_M")))
        )
        .select(*cols)
    )


def fk_orphan_audit(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity audit: how many child rows (and distinct
    child keys) have no matching parent — the FK orphan check a
    lakehouse needs because nothing enforces constraints at write
    time. Orphans are found with a LEFT ANTI join (never a fan-out);
    totals are map-side-combined counts. One row out.

    NULL contract (pinned by tests/test_null_contracts.py): a NULL
    child key counts as an orphan ROW — deliberate deviation from ANSI
    MATCH SIMPLE (where NULL FKs pass): in a lakehouse audit a NULL
    key is a data defect worth surfacing, not a satisfied constraint.
    The KEY metrics (n_child_keys / n_orphan_keys) use countDistinct,
    which ignores NULLs — so rows and keys can diverge on NULL-bearing
    data by design.
    """
    orphans = child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "left_anti",
    )
    tot = child.agg(
        F.count(F.lit(1)).cast("long").alias("n_child_rows"),
        F.countDistinct(child_key).cast("long").alias("n_child_keys"),
    )
    orp = orphans.agg(
        F.count(F.lit(1)).cast("long").alias("n_orphan_rows"),
        F.countDistinct(child_key).cast("long").alias("n_orphan_keys"),
    )
    return tot.crossJoin(orp).select(
        "n_child_rows",
        "n_child_keys",
        "n_orphan_rows",
        "n_orphan_keys",
        F.round(F.col("n_orphan_rows") / F.col("n_child_rows"), 6).alias(
            "orphan_row_rate"
        ),
    )


def global_rank(
    df: DataFrame,
    col: str,
    keep_cols: Sequence[str],
    bins: int = 32,
) -> DataFrame:
    """EXACT global rank() (ties share a rank) WITHOUT the
    single-partition window a plain ``Window.orderBy`` collapses to —
    the distributed total-order pattern the RFM/ensemble docstrings
    reference as the 100 TB path.

    Mechanics: approx_percentile picks ≤ bins-1 split values (a
    bounded driver collect, like the IVF trainer's sample); rows are
    assigned to range bins by VALUE COMPARISON, so equal values always
    share a bin and every row in an earlier bin is STRICTLY smaller.
    Global rank = (rows in earlier bins) + (rank within bin) — the
    first term from a broadcast cumulative bin-count frame, the second
    from a window partitioned by bin (state bounded by the largest
    bin, ~n/bins under any boundary quality). The output is exact for
    ANY split choice — approx_percentile's estimation error only skews
    bin sizes, never ranks — so the sketch's nondeterminism cannot
    reach the result.

    NULL contract: rows with a NULL ``col`` are EXCLUDED up front —
    a NULL has no position in a total order, and leaving such rows in
    would give them a NULL ``_bin`` that (a) sorts NULLS-FIRST into
    the cumulative offsets window, inflating every real rank, and
    (b) silently vanishes at the inner ``_bin`` equi-join. Callers
    that must rank NULLs assign them a sentinel value first.
    """
    from pyspark.sql import Window

    df = df.filter(F.col(col).isNotNull())
    splits = [
        s
        for s in (
            df.agg(
                F.percentile_approx(
                    col, [i / bins for i in range(1, bins)], 10_000
                ).alias("s")
            ).first()["s"]
            or []
        )
        if s is not None
    ]
    splits = sorted(set(splits))
    c = F.col(col)
    bin_expr = F.lit(0)
    for s in splits:
        bin_expr = bin_expr + (c > F.lit(s)).cast("int")
    binned = df.select(*keep_cols, col, bin_expr.alias("_bin"))
    counts = binned.groupBy("_bin").agg(F.count(F.lit(1)).alias("_bn"))
    # Unpartitioned window — WindowExec warns, but it runs over the
    # ≤ bins-row counts frame (bounded driver state by design).
    wcum = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_bin", F.coalesce(F.sum("_bn").over(wcum), F.lit(0)).alias("_before")
    )
    wbin = Window.partitionBy("_bin").orderBy(col)
    return (
        binned.join(F.broadcast(offsets), "_bin")
        .select(
            *keep_cols,
            col,
            (F.col("_before") + F.rank().over(wbin)).cast("long").alias("rank"),
        )
    )


def binned_cum_weights(
    g: DataFrame,
    value_col: str,
    weight_cols: Sequence[str],
    bins: int = 32,
) -> DataFrame:
    """EXACT exclusive cumulative weight sums over a value-ordered
    distinct-value frame WITHOUT a single-partition global window —
    the companion of :func:`global_rank` for CDF/rank-sum statistics
    (KS drift, Mann-Whitney midranks).

    ``g`` must have ONE row per distinct ``value_col`` (the caller's
    groupBy guarantees it), with integer weight columns (tie counts,
    per-group tallies). For each weight ``w`` the output adds
    ``{w}_lt`` = the total of ``w`` over all STRICTLY SMALLER values.
    Inclusive cumulatives are then ``{w}_lt + w`` row-locally, and
    midranks are ``cnt_lt + (cnt + 1) / 2`` — all exact.

    Mechanics mirror global_rank: approx_percentile proposes ≤ bins-1
    split values (bounded driver state); rows bin by VALUE COMPARISON,
    so ties share a bin and earlier bins hold strictly smaller values;
    the cross-bin offsets come from a broadcast ≤ bins-row frame and
    the within-bin running sums from a window PARTITIONED by bin
    (state ~n_distinct/bins). Split-estimation error only skews bin
    sizes, never sums, so the sketch's nondeterminism cannot reach
    the result.

    NULL contract: rows with a NULL ``value_col`` are EXCLUDED up
    front (before split estimation AND the bin counts) — a NULL value
    has no place in a CDF/rank-sum, and leaving the row in would give
    it a NULL ``_bin`` whose weights sort NULLS-FIRST into the offsets
    window (inflating every real row's ``{w}_lt``) while the row
    itself silently drops at the ``_bin`` equi-join. Callers that
    need NULL-weight mass must bucket it separately.
    """
    from pyspark.sql import Window

    g = g.filter(F.col(value_col).isNotNull())
    splits = [
        s
        for s in (
            g.agg(
                F.percentile_approx(
                    value_col, [i / bins for i in range(1, bins)], 10_000
                ).alias("s")
            ).first()["s"]
            or []
        )
        if s is not None
    ]
    splits = sorted(set(splits))
    c = F.col(value_col)
    bin_expr = F.lit(0)
    for s in splits:
        bin_expr = bin_expr + (c > F.lit(s)).cast("int")
    binned = g.select(*g.columns, bin_expr.alias("_bin"))
    counts = binned.groupBy("_bin").agg(
        *[F.sum(w).alias(f"_bn_{w}") for w in weight_cols]
    )
    # Unpartitioned window — WindowExec warns, but it runs over the
    # ≤ bins-row counts frame (bounded driver state by design).
    wcum = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_bin",
        *[
            F.coalesce(F.sum(f"_bn_{w}").over(wcum), F.lit(0)).alias(f"_before_{w}")
            for w in weight_cols
        ],
    )
    wbin = (
        Window.partitionBy("_bin")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return binned.join(F.broadcast(offsets), "_bin").select(
        *g.columns,
        *[
            (
                F.col(f"_before_{w}") + F.coalesce(F.sum(w).over(wbin), F.lit(0))
            )
            .cast("long")
            .alias(f"{w}_lt")
            for w in weight_cols
        ],
    )
