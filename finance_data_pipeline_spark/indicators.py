"""Technical-indicator library (SURVEY.md §2.5, W1-W16).

The reference computes thirteen indicator columns per symbol in eager
pandas (analyze_visualize.py:98-141) and two dashboard MAs
(dashboard.py:35-38), one symbol at a time. Here every indicator is a
``Column`` over ``Window.partitionBy(symbol).orderBy(time)`` — one
shuffle by symbol computes all symbols at once, and Catalyst collapses
same-frame window expressions into a single WindowExec pass.

Exact pandas semantics preserved (SURVEY.md §7.4):

* ``rolling(n, min_periods=1)`` (SMA, Volume MA) → plain windowed avg
  (Spark windows are natively min_periods=1).
* ``rolling(n)`` default ``min_periods=n`` (MA50/200, Bollinger,
  Volatility) → warm-up mask ``count(x) over frame >= n`` — counting
  non-null observations exactly like pandas.
* pandas ``.std()`` is sample std (ddof=1) → ``stddev_samp``.
* ``ewm(span, adjust=True)`` (EMA/MACD) is not window-expressible →
  Arrow-batched ``applyInPandas`` per symbol (§2.9); exact parity with
  pandas, rows-only oracle check.
* RSI uses the algebraic form ``100 − 100·loss/(gain+loss)`` so
  zero-loss runs yield 100 without dividing by zero; fully FLAT
  windows (gain+loss == 0) are NULL in both engines via an explicit
  guard — the bare division is an ANSI DIVIDE_BY_ZERO job failure on
  Spark and NaN (not NULL) on DuckDB doubles.

Only EMA touches Python; everything else is whole-stage-codegen'd JVM.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def sym_window(time_col: str = "date") -> WindowSpec:
    """The universal per-symbol time frame (SURVEY.md §1.1)."""
    return Window.partitionBy("symbol").orderBy(time_col)


def rolling(time_col: str, n: int) -> WindowSpec:
    return sym_window(time_col).rowsBetween(-(n - 1), 0)


def sma(col: str, n: int, time_col: str = "date") -> Column:
    """W1 — rolling(n, min_periods=1).mean() (analyze_visualize.py:106-108)."""
    return F.avg(col).over(rolling(time_col, n))


def _min_periods(col: str, n: int, time_col: str, expr: Column) -> Column:
    """pandas default min_periods=n: null until the frame holds n
    non-null observations."""
    return F.when(F.count(col).over(rolling(time_col, n)) >= n, expr)


def ma(col: str, n: int, time_col: str = "date") -> Column:
    """W2 — rolling(n).mean(), min_periods=n (dashboard.py:36-37)."""
    return _min_periods(col, n, time_col, F.avg(col).over(rolling(time_col, n)))


def rolling_std(col: str, n: int, time_col: str = "date") -> Column:
    """Sample std over n rows with min_periods=n (W7/W11)."""
    return _min_periods(col, n, time_col, F.stddev_samp(col).over(rolling(time_col, n)))


def bollinger(n: int = 20, k: float = 2.0, col: str = "close", time_col: str = "date") -> dict[str, Column]:
    """W7 — middle/upper/lower bands (analyze_visualize.py:120-123)."""
    mid = ma(col, n, time_col)
    std = rolling_std(col, n, time_col)
    return {
        "bb_middle": mid,
        "bb_upper": mid + k * std,
        "bb_lower": mid - k * std,
    }


def diff(col: str = "close", time_col: str = "date") -> Column:
    """W10 — close.diff() (analyze_visualize.py:126)."""
    return F.col(col) - F.lag(col, 1).over(sym_window(time_col))


def simple_return(col: str = "close", time_col: str = "date") -> Column:
    """The per-symbol simple return ``close / lag(close) - 1``
    (pandas ``pct_change()``, analyze_visualize.py:133); the first row
    per symbol is NULL. Every return-based query builds on this one
    expression, and its oracles replay it as ``close / lag(close)
    OVER (PARTITION BY symbol ORDER BY <time_col>) - 1``.
    ``daily_return`` is this value ×100, and exact sums of returns go
    through ``DECIMAL(38,18)`` (``functions.decimal_sum``).

    ``functions.pct_change_expr`` computes ``(new - old) / old``, which
    is the same number in exact arithmetic but not the same IEEE double,
    so returns must not be built on it."""
    return F.col(col) / F.lag(col, 1).over(sym_window(time_col)) - 1


def daily_return(col: str = "close", time_col: str = "date") -> Column:
    """W9 — pct_change()*100 (analyze_visualize.py:133)."""
    return simple_return(col, time_col) * 100


def rsi(n: int = 14, col: str = "close", time_col: str = "date") -> Column:
    """W8 — Cutler's RSI (analyze_visualize.py:126-130): simple rolling
    mean of clamped deltas, NOT Wilder smoothing.

    pandas detail: ``delta.where(delta > 0, 0)`` maps the first-row NaN
    delta to 0 (NaN > 0 is False), so gain/loss series start at 0, not
    NaN — the rolling(14) mean is non-null from row 14 onward.
    """
    d = diff(col, time_col)
    gain = F.when(d > 0, d).otherwise(F.lit(0.0))
    loss = F.when(d < 0, -d).otherwise(F.lit(0.0))
    avg_gain = F.avg(gain).over(rolling(time_col, n))
    avg_loss = F.avg(loss).over(rolling(time_col, n))
    # Row i has i+1 observations of gain/loss (row 0's delta contributes
    # a 0); pandas rolling(n) needs n rows → mask by row count.
    warm = F.row_number().over(sym_window(time_col)) >= n
    # Flat-window guard (adversarial probe finding): n bars of equal
    # closes make avg_gain + avg_loss == 0 — a bare division is an
    # ANSI DIVIDE_BY_ZERO that kills the whole job on real data (one
    # flat symbol suffices), and DuckDB's double 0/0 is NaN, not an
    # error. Convention: flat-window RSI is NULL in BOTH engines (the
    # engine-wide NULL-ratio rule; the oracle carries the same CASE).
    denom = avg_gain + avg_loss
    return F.when(warm & (denom > 0), 100.0 - 100.0 * avg_loss / denom)


def volatility(n: int = 30, time_col: str = "date", ret: Column | None = None) -> Column:
    """W11 — rolling(30).std() of Daily_Return (analyze_visualize.py:136).

    The first return is null, so the mask counts non-null returns in the
    frame (pandas min_periods counts observations, not rows).
    """
    r = ret if ret is not None else daily_return(time_col=time_col)
    frame = rolling(time_col, n)
    return F.when(F.count(r).over(frame) >= n, F.stddev_samp(r).over(frame))


def volume_ma(n: int = 20, time_col: str = "date") -> Column:
    """W12 — rolling(20, min_periods=1).mean() of volume (analyze_visualize.py:139)."""
    return F.avg("volume").over(rolling(time_col, n))


def normalize_to_100(col: str = "close", time_col: str = "date") -> Column:
    """W13 — close / first close per symbol × 100 (analyze_visualize.py:313-315)."""
    first = F.first(col).over(sym_window(time_col).rowsBetween(Window.unboundedPreceding, 0))
    return F.col(col) / first * 100


def last_row_per_symbol(df: DataFrame, time_col: str = "date") -> DataFrame:
    """W14/W15 — latest row per symbol (fetch_and_store.py:208-214)."""
    w = Window.partitionBy("symbol").orderBy(F.desc(time_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# --- EMA family (W3-W6): exact pandas ewm(adjust=True) ------------------


def with_ema_macd(
    df: DataFrame,
    spans: Sequence[int] = (12, 26),
    signal_span: int = 9,
    col: str = "close",
    time_col: str = "date",
) -> DataFrame:
    """W3-W6 — EMA_12/EMA_26/MACD/Signal/Histogram via applyInPandas.

    pandas ``ewm(span=n, adjust=True)`` computes the finite-weight form
    EMAₜ = Σᵢ(1−α)ⁱ·xₜ₋ᵢ / Σᵢ(1−α)ⁱ — not the recursive form — and the
    reference relies on it (analyze_visualize.py:111-117). Running real
    pandas per symbol partition is the only exact-parity physical plan;
    symbol partitions are small (≤ thousands of rows) and ship via
    Arrow. At 100 TB the groupBy keys this to one shuffle.
    """
    s1, s2 = spans
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + (
        f", ema_{s1} double, ema_{s2} double,"
        " macd double, macd_signal double, macd_histogram double"
    )
    sort_cols = [time_col]

    def add_ewm(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols)
        e1 = pdf[col].ewm(span=s1, adjust=True).mean()
        e2 = pdf[col].ewm(span=s2, adjust=True).mean()
        macd = e1 - e2
        sig = macd.ewm(span=signal_span, adjust=True).mean()
        return pdf.assign(
            **{
                f"ema_{s1}": e1,
                f"ema_{s2}": e2,
                "macd": macd,
                "macd_signal": sig,
                "macd_histogram": macd - sig,
            }
        )

    return df.groupBy("symbol").applyInPandas(add_ewm, schema=out_schema)



def with_ewma_volatility(
    df: DataFrame,
    span: int = 20,
    annualize: int = 252,
    col: str = "close",
    time_col: str = "date",
) -> DataFrame:
    """W-family extension — RiskMetrics-style EWMA volatility: the
    pandas ``ewm(span, adjust=True)`` mean of SQUARED daily returns,
    square-rooted and annualized by √annualize. The exponentially
    weighted estimator reacts to regime shifts faster than the
    equal-weight rolling stddev (indicators.volatility) — the classic
    J.P. Morgan RiskMetrics (1996, public) construction, expressed in
    the same adjust=True form as the EMA family so the identical
    recurrence-replay oracle proves every value bit-exactly.

    The first row per symbol (undefined return) is DROPPED before the
    ewm — not NaN-skipped inside it — so the weight sequence is a pure
    function of the row index and the recursive-CTE oracle replays it
    without pandas' ignore_na gap-weight rules.

    Physical plan: one groupBy(symbol) shuffle into Arrow-batched
    pandas partitions, exactly like with_ema_macd; symbol partitions
    are bounded (one symbol's history), never corpus-sized.

    Returns (symbol, date, ret, ewma_var, ewma_vol_ann).
    """
    out_schema = (
        "symbol string, "
        f"`{time_col}` date, ret double, ewma_var double, ewma_vol_ann double"
    )
    ann = float(annualize)

    def add_vol(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([time_col])
        ret = pdf[col] / pdf[col].shift(1) - 1
        out = pd.DataFrame(
            {"symbol": pdf["symbol"], time_col: pdf[time_col], "ret": ret}
        ).iloc[1:]
        var = (out["ret"] * out["ret"]).ewm(span=span, adjust=True).mean()
        out["ewma_var"] = var
        # np.sqrt is the IEEE correctly-rounded sqrt — identical to the
        # SQL oracle's sqrt(); (x ** 0.5) would route through pow().
        import numpy as np

        out["ewma_vol_ann"] = np.sqrt(var * ann)
        return out

    return df.groupBy("symbol").applyInPandas(add_vol, schema=out_schema)


# --- batched indicator application --------------------------------------


def with_indicators(df: DataFrame, time_col: str = "date", include_ema: bool = True) -> DataFrame:
    """The full EP2 indicator sweep (analyze_visualize.py:98-141) as one
    lazy plan. All same-frame windows share one WindowExec pass."""
    ret = daily_return(time_col=time_col)
    bb = bollinger(time_col=time_col)
    out = df.withColumns(
        {
            "sma_5": sma("close", 5, time_col),
            "sma_20": sma("close", 20, time_col),
            "sma_50": sma("close", 50, time_col),
            "bb_middle": bb["bb_middle"],
            "bb_upper": bb["bb_upper"],
            "bb_lower": bb["bb_lower"],
            "rsi": rsi(14, time_col=time_col),
            "daily_return": ret,
            "volatility_30d": volatility(30, time_col=time_col, ret=ret),
            "volume_ma_20": volume_ma(20, time_col=time_col),
        }
    )
    if include_ema:
        out = with_ema_macd(out, time_col=time_col)
    return out


# --- calendar regularization + resampling --------------------------------


def calendar_fill(stocks: DataFrame, time_col: str = "date") -> DataFrame:
    """Densify each symbol's history to an unbroken daily calendar and
    forward-fill the close over the introduced gaps.

    The reference tolerates holes in its per-symbol history (the upsert
    re-fetch never backfills skipped sessions; quality.continuity_check
    only *detects* them, fetch_and_store.py:285-294). This is the repair
    operator: every symbol gets one row per day between its first and
    last observation, with ``is_filled`` marking synthesized rows,
    ``close_ffill`` carrying the last known close forward, and volume 0
    on non-trading rows — the shape a downstream join or indicator pass
    can rely on without per-row null checks.

    Scale: the gap fan-out is ``sequence(min,max)`` per symbol — output
    is bounded by symbols × calendar span regardless of input skew, and
    both the left join and the forward-fill window shuffle once on
    (symbol). No driver-side calendar, no cross join against a global
    date dimension (which would densify symbols outside their own
    trading range).
    """
    span = stocks.groupBy("symbol").agg(
        F.min(time_col).alias("_d0"), F.max(time_col).alias("_d1")
    )
    days = span.select(
        "symbol", F.explode(F.sequence("_d0", "_d1")).alias(time_col)
    )
    joined = days.join(
        stocks.select("symbol", time_col, "close", "volume"),
        ["symbol", time_col],
        "left",
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "symbol",
        time_col,
        F.col("close").isNull().alias("is_filled"),
        F.last("close", ignorenulls=True).over(w).alias("close_ffill"),
        F.coalesce("volume", F.lit(0)).cast("long").alias("volume"),
    )


def resample_ohlc(stocks: DataFrame, grain: str = "week", time_col: str = "date") -> DataFrame:
    """Downsample daily OHLCV bars to a coarser grain (week/month) with
    the correct per-field semantics: open = first bar's open, close =
    last bar's close (``min_by``/``max_by`` on the timestamp — no
    window, no sort), high/low = extrema, volume = sum.

    The reference's analyze step plots daily bars only; any longer-term
    view re-reads MySQL and re-aggregates in pandas per symbol
    (analyze_visualize.py:98-141). Here the downsample is one partial-
    aggregated shuffle on (symbol, bucket) — ``min_by``/``max_by`` are
    single-pass JVM aggregates, so the plan has no WindowExec and
    map-side combine applies; at 100 TB the shuffle carries one row per
    symbol-bucket, not per bar.
    """
    bucket = F.date_trunc(grain, F.col(time_col).cast("timestamp")).cast("date")
    return stocks.groupBy("symbol", bucket.alias("bucket_start")).agg(
        F.min_by("open", time_col).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", time_col).alias("close"),
        F.sum("volume").cast("long").alias("volume"),
        F.count(F.lit(1)).cast("long").alias("n_bars"),
    )


def with_holt_linear(
    df: DataFrame,
    col: str = "close",
    time_col: str = "date",
) -> DataFrame:
    """Holt's linear-trend exponential smoothing (the classic
    level+trend forecaster; Holt 1957, public) with α = β = 1/2:
    lₜ = ½yₜ + ½(lₜ₋₁+bₜ₋₁), bₜ = ½(lₜ−lₜ₋₁) + ½bₜ₋₁, initialized
    l₁ = y₁, b₁ = y₂−y₁. The halves are exact binary fractions and the
    update is written in ONE fixed operation order, so the whole
    recurrence replays bit-identically in the recursive-CTE oracle
    (the EMA family's parity discipline extended to a coupled
    two-state recurrence). Emits per row the smoothed level, trend,
    and the one-step-ahead forecast l+b — the first forecasting
    operator, complementing the descriptive indicator set.

    Physical plan: one groupBy(symbol) Arrow shuffle; the per-symbol
    Python loop is O(history) on bounded arrays, the same trade
    with_ema_macd makes for exact pandas parity.
    """
    out_schema = (
        f"symbol string, `{time_col}` date, level double, trend double,"
        " forecast_next double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([time_col]).reset_index(drop=True)
        y = pdf[col].tolist()
        rows = []
        if len(y) >= 2:
            l_prev = y[0]
            b_prev = y[1] - y[0]
            rows.append((pdf["symbol"][0], pdf[time_col][0], l_prev, b_prev,
                         l_prev + b_prev))
            for t in range(1, len(y)):
                l = 0.5 * y[t] + 0.5 * (l_prev + b_prev)
                b = 0.5 * (l - l_prev) + 0.5 * b_prev
                rows.append((pdf["symbol"][t], pdf[time_col][t], l, b, l + b))
                l_prev, b_prev = l, b
        return pd.DataFrame(
            rows, columns=["symbol", time_col, "level", "trend", "forecast_next"]
        )

    return df.groupBy("symbol").applyInPandas(fit, schema=out_schema)


# --- advanced indicator family (extends the reference's EP2 menu) --------
#
# The reference computes SMA/EMA/MACD/RSI/Bollinger (analyze_visualize.py:
# 98-141). The families below are the rest of the standard technical-
# analysis menu over the same (symbol, time) keyed bars — every one a
# windowed JVM expression over sym_window (no UDFs), so the whole family
# rides the single per-symbol shuffle that the W1-W16 sweep already pays.


def _prev_close(time_col: str) -> Column:
    # First bar has no prior close; coalescing to the current close makes
    # TR degrade to high-low there (the textbook convention) in BOTH
    # engines without relying on null-skipping greatest() semantics.
    return F.coalesce(F.lag("close").over(sym_window(time_col)), F.col("close"))


def true_range(time_col: str = "bar_ts") -> Column:
    """TR = max(high-low, |high-prev_close|, |low-prev_close|) (Wilder)."""
    prev = _prev_close(time_col)
    return F.greatest(
        F.col("high") - F.col("low"),
        F.abs(F.col("high") - prev),
        F.abs(F.col("low") - prev),
    )


def with_atr(df: DataFrame, n: int = 14, time_col: str = "bar_ts") -> DataFrame:
    """ATR as the n-bar simple moving average of TR (the SMA variant;
    Wilder's recursive EMA smoothing is the ewm path — see with_ema_macd
    for why recursion leaves the window algebra). min_periods=1 like W1."""
    tr = df.withColumn("tr", true_range(time_col))
    return tr.withColumn(f"atr_{n}", F.avg("tr").over(rolling(time_col, n)))


def stochastic_k(n: int = 14, time_col: str = "bar_ts") -> Column:
    """%K = 100·(close − LL_n)/(HH_n − LL_n); flat windows → null."""
    hh = F.max("high").over(rolling(time_col, n))
    ll = F.min("low").over(rolling(time_col, n))
    return 100.0 * (F.col("close") - ll) / F.nullif(hh - ll, F.lit(0.0))


def with_stochastic(
    df: DataFrame, n: int = 14, d: int = 3, time_col: str = "bar_ts"
) -> DataFrame:
    """Stochastic oscillator: fast %K plus its d-bar SMA (%D). Two
    selects because %D averages a window expression — still one
    WindowExec pass per frame, same shuffle."""
    k = df.withColumn("pct_k", stochastic_k(n, time_col))
    return k.withColumn("pct_d", F.avg("pct_k").over(rolling(time_col, d)))


def williams_r(n: int = 14, time_col: str = "bar_ts") -> Column:
    """%R = 100·(close − HH_n)/(HH_n − LL_n) — the stochastic's mirror.

    Written in the sign-safe form rather than the textbook
    −100·(HH − close)/(HH − LL): when close == HH the textbook
    numerator is −0.0 and the two engines' round() disagree on the
    zero's sign (DuckDB keeps −0.0, Spark's BigDecimal round emits
    +0.0). close − HH is +0.0 at equality and bit-identical
    everywhere else because IEEE negation is exact.
    """
    hh = F.max("high").over(rolling(time_col, n))
    ll = F.min("low").over(rolling(time_col, n))
    return 100.0 * (F.col("close") - hh) / F.nullif(hh - ll, F.lit(0.0))


def with_obv(df: DataFrame, time_col: str = "bar_ts") -> DataFrame:
    """On-balance volume: cumulative signed volume (sign of the close
    delta). Integer end-to-end — volume is LongType — so the running
    sum is exact under any engine's summation."""
    delta = diff(time_col=time_col)
    signed = (
        F.when(delta > 0, F.col("volume"))
        .when(delta < 0, -F.col("volume"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    stamped = df.withColumn("_sv", signed)
    cum = sym_window(time_col).rowsBetween(Window.unboundedPreceding, 0)
    return stamped.withColumn("obv", F.sum("_sv").over(cum)).drop("_sv")


def typical_price() -> Column:
    return (F.col("high") + F.col("low") + F.col("close")) / 3.0


def with_mfi(df: DataFrame, n: int = 14, time_col: str = "bar_ts") -> DataFrame:
    """Money Flow Index: volume-weighted RSI over the typical price.
    Raw flow = tp·volume classified by the tp delta's sign; MFI =
    100·pos/(pos+neg) — the same div-safe algebraic form as RSI (W8)."""
    tp = typical_price()
    base = df.withColumn("_tp", tp).withColumn(
        "_dtp", F.col("_tp") - F.lag("_tp").over(sym_window(time_col))
    )
    flow = base.withColumn(
        "_pos", F.when(F.col("_dtp") > 0, F.col("_tp") * F.col("volume")).otherwise(F.lit(0.0))
    ).withColumn(
        "_neg", F.when(F.col("_dtp") < 0, F.col("_tp") * F.col("volume")).otherwise(F.lit(0.0))
    )
    w = rolling(time_col, n)
    out = flow.withColumn(
        f"mfi_{n}",
        100.0 * F.sum("_pos").over(w) / F.nullif(F.sum("_pos").over(w) + F.sum("_neg").over(w), F.lit(0.0)),
    )
    return out.drop("_dtp", "_pos", "_neg").withColumnRenamed("_tp", "tp")


def with_cci(df: DataFrame, n: int = 20, time_col: str = "bar_ts") -> DataFrame:
    """Commodity Channel Index: (tp − SMA_n(tp)) / (0.015·MAD_n) where
    MAD is the mean absolute deviation from the *current* frame mean.
    MAD is not a window primitive: the frame is materialized with
    collect_list over the same ROWS frame (bounded at n elements — never
    a per-key blowup) and folded row-locally with F.aggregate, keeping
    the whole computation JVM-side with one WindowExec pass."""
    tp = typical_price()
    w = rolling(time_col, n)
    base = df.withColumn("_tp", tp).withColumn(
        "_tps", F.collect_list("_tp").over(w)
    ).withColumn("_m", F.avg("_tp").over(w))
    mad = F.aggregate(
        F.col("_tps"),
        F.lit(0.0),
        lambda acc, x: acc + F.abs(x - F.col("_m")),
    ) / F.size("_tps")
    out = base.withColumn(
        f"cci_{n}",
        (F.col("_tp") - F.col("_m")) / F.nullif(0.015 * mad, F.lit(0.0)),
    )
    return out.drop("_tps", "_m").withColumnRenamed("_tp", "tp")


def donchian(n: int = 20, time_col: str = "bar_ts") -> dict[str, Column]:
    """Donchian channel: n-bar extrema of high/low plus the midline."""
    hh = F.max("high").over(rolling(time_col, n))
    ll = F.min("low").over(rolling(time_col, n))
    return {"dc_upper": hh, "dc_lower": ll, "dc_mid": (hh + ll) / 2.0}


def with_keltner(
    df: DataFrame, n: int = 20, atr_n: int = 10, mult: float = 2.0,
    time_col: str = "bar_ts",
) -> DataFrame:
    """Keltner channel (SMA variant): mid = SMA_n(typical price), bands
    at ±mult·ATR_atr_n. Composes with_atr — both families share the one
    per-symbol sort."""
    base = with_atr(df.withColumn("_tp", typical_price()), atr_n, time_col)
    mid = F.avg("_tp").over(rolling(time_col, n))
    atr_col = F.col(f"atr_{atr_n}")
    return (
        base.withColumn("kc_mid", mid)
        .withColumn("kc_upper", mid + mult * atr_col)
        .withColumn("kc_lower", mid - mult * atr_col)
        .drop("_tp")
    )


def roc(n: int = 10, col: str = "close", time_col: str = "bar_ts") -> Column:
    """Rate of change: 100·(close/close_{t−n} − 1); null in the warm-up."""
    prev = F.lag(col, n).over(sym_window(time_col))
    return 100.0 * (F.col(col) / prev - 1.0)


def candlestick_flags(time_col: str = "bar_ts") -> dict[str, Column]:
    """Classic single/two-bar candlestick patterns as boolean columns.
    All row-local string-free arithmetic except the engulfing pair's
    lag; deterministic, codegen-friendly.

    * doji — body ≤ 10% of the bar's range
    * hammer — lower shadow ≥ 2× body and upper shadow ≤ body
    * bullish_engulf — up bar whose body strictly contains the prior
      down bar's body
    * bearish_engulf — the mirror image
    """
    body = F.abs(F.col("close") - F.col("open"))
    rng = F.col("high") - F.col("low")
    upper = F.col("high") - F.greatest("open", "close")
    lower = F.least("open", "close") - F.col("low")
    w = sym_window(time_col)
    p_open, p_close = F.lag("open").over(w), F.lag("close").over(w)
    up, down = F.col("close") > F.col("open"), F.col("close") < F.col("open")
    p_up, p_down = p_close > p_open, p_close < p_open
    return {
        "is_doji": body <= 0.1 * rng,
        "is_hammer": (lower >= 2.0 * body) & (upper <= body) & (rng > 0),
        "bullish_engulf": up & p_down
        & (F.col("open") < p_close) & (F.col("close") > p_open),
        "bearish_engulf": down & p_up
        & (F.col("open") > p_close) & (F.col("close") < p_open),
    }


def with_ichimoku(df: DataFrame, time_col: str = "bar_ts") -> DataFrame:
    """Ichimoku Kinko Hyo (9/26/52): conversion/base midlines of the
    rolling high-low envelope, spans A/B shifted 26 bars back onto the
    current row (the data-frame convention for the cloud drawn 26
    ahead), and the chikou lagging close 26 ahead. Midlines are
    single-pass window extrema; the shifts are lag/lead over the same
    per-symbol sort, so the family still costs one shuffle."""
    def mid(n: int) -> Column:
        return (
            F.max("high").over(rolling(time_col, n))
            + F.min("low").over(rolling(time_col, n))
        ) / 2.0

    w = sym_window(time_col)
    base = df.withColumns(
        {"tenkan": mid(9), "kijun": mid(26), "_mid52": mid(52)}
    )
    return base.withColumns(
        {
            "senkou_a": F.lag((F.col("tenkan") + F.col("kijun")) / 2.0, 26).over(w),
            "senkou_b": F.lag("_mid52", 26).over(w),
            "chikou": F.lead("close", 26).over(w),
        }
    ).drop("_mid52")


def calendar_interpolate(stocks: DataFrame, time_col: str = "date") -> DataFrame:
    """calendar_fill's linear-interpolation twin: the densified daily
    calendar with gap closes interpolated between the bracketing
    observations (time-weighted), not just carried forward — the
    repair an indicator pass wants when gaps are long enough that LOCF
    biases returns.

    Same scale shape as calendar_fill: per-symbol sequence() fan-out
    bounded by the trading span, one (symbol) shuffle shared by the
    join and all four IGNORE NULLS windows. The span boundaries are
    observed rows, so the edge guards never fire on real data but keep
    degenerate inputs defined.
    """
    span = stocks.groupBy("symbol").agg(
        F.min(time_col).alias("_d0"), F.max(time_col).alias("_d1")
    )
    days = span.select(
        "symbol", F.explode(F.sequence("_d0", "_d1")).alias(time_col)
    )
    j = days.join(
        stocks.select("symbol", time_col, "close"), ["symbol", time_col], "left"
    )
    w_prev = (
        Window.partitionBy("symbol")
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("symbol")
        .orderBy(time_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_date = F.when(F.col("close").isNotNull(), F.col(time_col))
    base = j.select(
        "symbol",
        F.col(time_col),
        "close",
        F.last("close", ignorenulls=True).over(w_prev).alias("_pc"),
        F.last(known_date, ignorenulls=True).over(w_prev).alias("_pd"),
        F.first("close", ignorenulls=True).over(w_next).alias("_nc"),
        F.first(known_date, ignorenulls=True).over(w_next).alias("_nd"),
    )
    frac = F.datediff(F.col(time_col), F.col("_pd")).cast("double") / F.datediff(
        "_nd", "_pd"
    )
    interp = (
        F.when(F.col("close").isNotNull(), F.col("close"))
        .when(F.col("_pc").isNull(), F.col("_nc"))
        .when(F.col("_nc").isNull(), F.col("_pc"))
        .otherwise(F.col("_pc") + (F.col("_nc") - F.col("_pc")) * frac)
    )
    return base.select(
        "symbol",
        F.col(time_col),
        F.col("close").isNull().alias("is_filled"),
        interp.alias("close_interp"),
    )


def with_adx(df: DataFrame, n: int = 14, time_col: str = "bar_ts") -> DataFrame:
    """Average Directional Index, SMA-smoothed (Cutler-style) variant.

    Directional movement classifies each bar's range expansion:
    +DM = high − prev_high when that up-move exceeds the down-move
    (prev_low − low) and is positive, else 0; −DM symmetrically. The
    directional indicators normalize n-bar ΣDM by n-bar ΣTR, DX is the
    scaled absolute DI spread, and ADX is the n-bar SMA of DX. Wilder's
    original recursive smoothing is an EWM recurrence (the same reason
    W3 routes through with_ema_macd); the SMA variant keeps every term
    inside closed window algebra — like RSI (W8, Cutler) and ATR — so
    the oracle is exact. One per-symbol sort feeds the lags, the n-bar
    sums and the DX average: a single WindowExec chain, no extra
    shuffle. Extends the reference's indicator menu
    (fetch_and_store_multi.py:136-170's SMA/EMA/RSI family)."""
    w = sym_window(time_col)
    up = F.col("high") - F.lag("high").over(w)
    dn = F.lag("low").over(w) - F.col("low")
    base = df.withColumn(
        "_pdm",
        F.when(up.isNull() | dn.isNull(), F.lit(0.0))
        .when((up > dn) & (up > 0), up)
        .otherwise(F.lit(0.0)),
    ).withColumn(
        "_ndm",
        F.when(up.isNull() | dn.isNull(), F.lit(0.0))
        .when((dn > up) & (dn > 0), dn)
        .otherwise(F.lit(0.0)),
    ).withColumn("_tr", true_range(time_col))
    wn = rolling(time_col, n)
    tr_n = F.sum("_tr").over(wn)
    pdi = 100.0 * F.sum("_pdm").over(wn) / F.nullif(tr_n, F.lit(0.0))
    ndi = 100.0 * F.sum("_ndm").over(wn) / F.nullif(tr_n, F.lit(0.0))
    di = base.withColumn("pdi", pdi).withColumn("ndi", ndi)
    dx = 100.0 * F.abs(F.col("pdi") - F.col("ndi")) / F.nullif(
        F.col("pdi") + F.col("ndi"), F.lit(0.0)
    )
    out = di.withColumn("_dx", dx).withColumn(
        f"adx_{n}", F.avg("_dx").over(rolling(time_col, n))
    )
    return out.drop("_pdm", "_ndm", "_tr", "_dx")


def aroon(n: int = 25, time_col: str = "bar_ts") -> dict[str, "Column"]:
    """Aroon up/down: 100·(n − bars_since_extremum)/n over an n+1-bar
    lookback. bars-since is recovered with the struct-max trick —
    max(struct(value, row_number)) over the frame yields the row number
    of the window maximum with last-wins tie-breaking, identical
    lexicographic struct ordering in Spark and the DuckDB oracle
    (max({'v': …, 'r': …}) OVER …) — no self-join, no collect, one
    window pass. Warm-up rows (fewer than n+1 bars) are null."""
    w = sym_window(time_col)
    wn = w.rowsBetween(-n, 0)
    rn = F.row_number().over(w)
    hi_r = F.max(F.struct(F.col("high").alias("v"), rn.alias("r"))).over(wn)["r"]
    lo_r = F.max(F.struct((-F.col("low")).alias("v"), rn.alias("r"))).over(wn)["r"]
    full = rn >= n + 1
    up = F.when(full, 100.0 * (n - (rn - hi_r)) / n)
    down = F.when(full, 100.0 * (n - (rn - lo_r)) / n)
    return {"aroon_up": up, "aroon_down": down, "aroon_osc": up - down}


def with_cmf(df: DataFrame, n: int = 20, time_col: str = "bar_ts") -> DataFrame:
    """Chaikin Money Flow: Σ(money-flow volume)/Σvolume over n bars,
    where the money-flow multiplier locates the close inside the bar's
    range ((close−low)−(high−close))/(high−low); flat bars contribute 0
    (nullif-guarded in both engines). Volume sums are integer-exact;
    the mfv sum is a windowed double (self-rounded at the query edge,
    same policy as W1's sliding means)."""
    mfm = ((F.col("close") - F.col("low")) - (F.col("high") - F.col("close"))) / F.nullif(
        F.col("high") - F.col("low"), F.lit(0.0)
    )
    base = df.withColumn("_mfv", F.coalesce(mfm, F.lit(0.0)) * F.col("volume"))
    wn = rolling(time_col, n)
    out = base.withColumn(
        f"cmf_{n}",
        F.sum("_mfv").over(wn) / F.sum("volume").over(wn),
    )
    return out.drop("_mfv")


def range_volatility(df: DataFrame, time_col: str = "bar_ts") -> DataFrame:
    """Per-symbol range-based volatility estimators over the full
    sample: close-to-close (the baseline), Parkinson (1980, high-low),
    Garman-Klass (1980, OHLC) and Rogers-Satchell (1991, drift-free) —
    each a closed-form function of per-bar log-range terms, so the
    whole family is ONE map-side-combined aggregate per symbol after a
    lag for the c2c return. Per-bar terms are identical IEEE math in
    both engines; the cross-row sums go through DECIMAL(38,18) so the
    result is summation-order exact (the registry's float-sum
    discipline). At 100 TB this is a pure partial-aggregate scan —
    no window state beyond the one lag, no data movement besides the
    per-symbol combine.

    Bars with any nonpositive price have undefined log-range terms —
    a zero low exists in real (and sf0.1) data and the bare ratio is
    an ANSI job-killing division by zero. Such bars contribute NULL
    terms (skipped by the count/sum pairs) in BOTH engines."""
    ln2 = 0.6931471805599453
    w = sym_window(time_col)
    pos = (
        (F.col("open") > 0)
        & (F.col("high") > 0)
        & (F.col("low") > 0)
        & (F.col("close") > 0)
    )
    lagc = F.lag("close").over(w)
    r = F.when(
        (F.col("close") > 0) & (lagc > 0), F.log(F.col("close") / lagc)
    )
    hl = F.log(F.col("high") / F.col("low"))
    co = F.log(F.col("close") / F.col("open"))
    rs_term = (
        F.log(F.col("high") / F.col("close")) * F.log(F.col("high") / F.col("open"))
        + F.log(F.col("low") / F.col("close")) * F.log(F.col("low") / F.col("open"))
    )
    base = df.select(
        "symbol",
        r.alias("_r"),
        F.when(pos, hl * hl).alias("_hl2"),
        F.when(pos, 0.5 * hl * hl - (2.0 * ln2 - 1.0) * co * co).alias("_gk"),
        F.when(pos, rs_term).alias("_rs"),
    )
    dec = lambda c: F.sum(F.col(c).cast("decimal(38,18)")).cast("double")
    stats = base.groupBy("symbol").agg(
        F.count("_r").cast("long").alias("n_rets"),
        F.count("_hl2").cast("long").alias("n_bars"),
        dec("_r").alias("_sr"),
        F.sum((F.col("_r") * F.col("_r")).cast("decimal(38,18)")).cast("double").alias("_srr"),
        dec("_hl2").alias("_shl"),
        dec("_gk").alias("_sgk"),
        dec("_rs").alias("_srs"),
    )
    n_rets = F.nullif(F.col("n_rets"), F.lit(0)).cast("double")
    n_bars = F.nullif(F.col("n_bars"), F.lit(0)).cast("double")
    var_cc = (F.col("_srr") - F.col("_sr") * F.col("_sr") / n_rets) / F.nullif(
        F.col("n_rets") - 1, F.lit(0)
    )
    return stats.select(
        "symbol",
        "n_bars",
        F.sqrt(var_cc).alias("vol_cc"),
        F.sqrt(F.col("_shl") / (4.0 * ln2 * n_bars)).alias("vol_parkinson"),
        F.sqrt(F.col("_sgk") / n_bars).alias("vol_gk"),
        F.sqrt(F.col("_srs") / n_bars).alias("vol_rs"),
    )


def with_kama(
    df: DataFrame, n: int = 10, fast: int = 2, slow: int = 30,
    time_col: str = "bar_ts",
) -> DataFrame:
    """Kaufman Adaptive Moving Average — the canonical *time-varying-α*
    recursion (vs the constant-α EMA family):

        ER_t = |P_t − P_{t−n}| / Σ_{i<n} |ΔP_{t−i}|
        sc_t = (ER_t·(2/(fast+1) − 2/(slow+1)) + 2/(slow+1))²
        KAMA_t = KAMA_{t−1} + sc_t·(P_t − KAMA_{t−1}),  seeded at bar n+1

    Exactness contract: the two ER ingredients are quantized to
    micro-unit longs (CAST(round(|·|·10⁶) AS BIGINT)) BEFORE the n-bar
    sum, so the rolling denominator is an integer — exact under any
    window-sum algorithm (Spark re-scan vs DuckDB segment tree would
    otherwise drift in the last bit and the recursion would amplify
    it). ER, sc and the recursion step are then identical IEEE double
    math in both engines, making the WITH RECURSIVE oracle bit-exact
    (the ema_macd discipline, extended to adaptive α). A flat window
    (zero quantized volatility) takes ER = 0 → the slow constant α.

    Physical plan: lags + integer window sums stay JVM-side; only the
    1-multiply recursion runs in applyInPandas per symbol partition
    (Arrow-shipped, one shuffle — with_ema_macd's layout). Warm-up
    rows (< n+1 bars) emit NULL."""
    w = sym_window(time_col)
    q = lambda c: F.round(c * 1_000_000, 0).cast("long")
    base = df.withColumn("_qd", q(F.abs(F.col("close") - F.lag("close").over(w)))) \
             .withColumn("_qc", q(F.abs(F.col("close") - F.lag("close", n).over(w)))) \
             .withColumn("_rn", F.row_number().over(w))
    vol = F.sum("_qd").over(w.rowsBetween(-(n - 1), 0))
    er = F.when(
        F.col("_rn") > n,
        F.when(vol > 0, F.col("_qc").cast("double") / vol.cast("double")).otherwise(
            F.lit(0.0)
        ),
    )
    f_a, s_a = 2.0 / (fast + 1), 2.0 / (slow + 1)
    _sc_base = er * (f_a - s_a) + s_a
    # explicit multiply, not pow(x, 2): both engines then share one IEEE
    # operation instead of trusting two libms to agree on power()
    sc = _sc_base * _sc_base
    staged = base.withColumn("_sc", sc).drop("_qd", "_qc")

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
    ) + ", kama double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        closes = pdf["close"].to_numpy()
        scs = pdf["_sc"].to_numpy()
        rns = pdf["_rn"].to_numpy()
        kama = [None] * len(pdf)
        k = None
        for i in range(len(pdf)):
            if rns[i] == n + 1:
                k = closes[i]
            elif rns[i] > n + 1 and k is not None:
                k = k + scs[i] * (closes[i] - k)
            if rns[i] >= n + 1:
                kama[i] = k
        return pdf.assign(kama=kama).drop(columns=["_sc", "_rn"])

    return staged.groupBy("symbol").applyInPandas(fold, schema=out_schema)


def with_dema_tema(
    df: DataFrame,
    span: int = 20,
    col: str = "close",
    time_col: str = "date",
) -> DataFrame:
    """DEMA/TEMA — double/triple exponential moving averages
    (DEMA = 2·E1 − E2, TEMA = 3·E1 − 3·E2 + E3 where E2 = EMA(E1),
    E3 = EMA(E2)), the reduced-lag trend extensions of the reference's
    EMA menu (analyze_visualize.py:111-117). Same exact-parity plan as
    with_ema_macd: real pandas ewm(adjust=True) per symbol partition,
    one Arrow-batched shuffle; the oracle replays the stacked
    recurrences in three recursive CTEs bit-identically."""
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + (f", ema_{span} double, dema_{span} double, tema_{span} double")

    def add(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([time_col])
        e1 = pdf[col].ewm(span=span, adjust=True).mean()
        e2 = e1.ewm(span=span, adjust=True).mean()
        e3 = e2.ewm(span=span, adjust=True).mean()
        return pdf.assign(
            **{
                f"ema_{span}": e1,
                f"dema_{span}": 2 * e1 - e2,
                f"tema_{span}": 3 * e1 - 3 * e2 + e3,
            }
        )

    return df.groupBy("symbol").applyInPandas(add, schema=out_schema)


def with_heikin_ashi(df: DataFrame, time_col: str = "bar_ts") -> DataFrame:
    """Heikin-Ashi smoothed candles — ha_close = (O+H+L+C)/4 row-local;
    ha_open is the recursion (prev_ha_open + prev_ha_close)/2 seeded
    with (O+C)/2; ha_high/ha_low fold the raw extremes in. The
    recursion runs as an explicit loop inside one pandas group per
    symbol (same exact-parity plan as with_ema_macd: the oracle replays
    the identical IEEE sequence in a recursive CTE)."""
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", ha_open double, ha_high double, ha_low double, ha_close double"

    def add(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([time_col]).reset_index(drop=True)
        o = pdf["open"].to_numpy()
        h = pdf["high"].to_numpy()
        low = pdf["low"].to_numpy()
        c = pdf["close"].to_numpy()
        ha_c = (o + h + low + c) / 4
        ha_o = ha_c.copy()
        if len(pdf):
            ha_o[0] = (o[0] + c[0]) / 2
            for i in range(1, len(pdf)):
                ha_o[i] = (ha_o[i - 1] + ha_c[i - 1]) / 2
        import numpy as np

        ha_h = np.maximum(h, np.maximum(ha_o, ha_c))
        ha_l = np.minimum(low, np.minimum(ha_o, ha_c))
        return pdf.assign(ha_open=ha_o, ha_high=ha_h, ha_low=ha_l, ha_close=ha_c)

    return df.groupBy("symbol").applyInPandas(add, schema=out_schema)


def with_garch_vol(
    df: DataFrame,
    alpha: float = 0.1,
    beta: float = 0.85,
    col: str = "close",
    time_col: str = "date",
    seed_col: str = "seed_var",
) -> DataFrame:
    """GARCH(1,1) conditional variance with FIXED (α, β) and
    variance-targeted ω = (1−α−β)·σ²_uncond: v_t = ω + α·r²_{t−1}
    + β·v_{t−1}, seeded at the unconditional variance. No MLE — the
    model is the standard RiskMetrics-style filter, which makes it a
    deterministic recursion the oracle replays in a recursive CTE.
    The per-symbol seed (exact-decimal sample variance) is computed
    Spark-side and joined in as ``seed_col`` so the pandas loop and
    the SQL recursion start from the SAME double."""
    if seed_col not in df.columns:
        raise ValueError(
            f"with_garch_vol requires a pre-joined '{seed_col}' column "
            "(per-symbol unconditional variance seed) — without the "
            "driver-side check the miss surfaces as a KeyError inside "
            "the Arrow worker of every task"
        )
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", ret double, garch_var double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values([time_col]).reset_index(drop=True)
        c = pdf[col].to_numpy()
        ret = np.empty(len(c))
        ret[:] = np.nan
        if len(c) > 1:
            ret[1:] = c[1:] / c[:-1] - 1
        seed = float(pdf[seed_col].iloc[0]) if len(pdf) else 0.0
        omega = (1 - alpha - beta) * seed
        v = np.empty(len(c))
        v[:] = np.nan
        if len(c) > 1:
            v[1] = seed
            for i in range(2, len(c)):
                v[i] = omega + alpha * (ret[i - 1] * ret[i - 1]) + beta * v[i - 1]
        return pdf.assign(ret=ret, garch_var=v)

    return df.groupBy("symbol").applyInPandas(fold, schema=out_schema)
