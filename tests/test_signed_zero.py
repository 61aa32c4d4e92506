"""Signed-zero parity contract (the round-6 driver red row).

The engine asymmetry: DuckDB's ``round()`` is the C library round and
preserves IEEE ``-0.0`` (``round(-0.0001, 2)`` is ``-0.0``), while
Spark's BigDecimal-backed ``round`` normalizes every zero to ``+0.0``.
Python's ``==`` calls them equal, but the driver's value hash is
byte-level and distinguishes them — which is how ``williams_r_14``
(close == 14-bar high ⇒ ``-100·0.0 = -0.0`` on the DuckDB side) became
the first red row in project history, and how ``force_index_eom``
(flat ``high == low`` bars ⇒ negative midpoint move × ``0.0``) was one
round away from being the second.

Engine-wide convention, pinned here: any output column whose
expression can produce ``-0.0`` (a negative factor times an exact
zero, or a negative quantity rounding to zero at the output precision)
must either be written in a sign-safe form (``williams_r`` uses
``100·(close − HH)`` instead of ``−100·(HH − close)``) or carry a
terminal ``+ 0.0`` on BOTH engines (``force_index_eom`` does). The
local parity comparator (tools/parity_compare.py: ``values_match`` per
cell, ``mismatch`` per frame) is signbit-sensitive so the
pre-validation gate is as strict as a byte-level value hash, not Python's ``==``.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tools.parity_compare import mismatch, values_match


def _signbit(x: float) -> bool:
    return math.copysign(1.0, x) < 0


def test_engine_round_asymmetry_is_real(spark):
    """The root cause, pinned: if either engine ever changes its
    round()-of-tiny-negative behavior, the sign-safe rewrites and
    `+ 0.0` normalizations need re-auditing — this test is the tripwire."""
    # NB: DuckDB float literals are DECIMAL (no signed zero) — the
    # asymmetry lives on DOUBLE inputs, which is what the parquet
    # columns (high/low/close/volume) are in every affected query.
    duck = duckdb.sql(
        "SELECT round(CAST(-0.0001 AS DOUBLE), 2) AS z"
    ).fetchone()[0]
    assert duck == 0.0 and _signbit(duck), "DuckDB round no longer emits -0.0"
    sprk = spark.range(1).select(F.round(F.lit(-0.0001), 2).alias("z")).first().z
    assert sprk == 0.0 and not _signbit(sprk), "Spark round now emits -0.0"
    # negative × exact zero is -0.0 on DOUBLE (IEEE, pre-round)
    duck2 = duckdb.sql(
        "SELECT CAST(-100.0 AS DOUBLE) * CAST(0.0 AS DOUBLE) AS z"
    ).fetchone()[0]
    assert _signbit(duck2)


def test_plus_zero_normalization_works_in_both_engines(spark):
    """`x + 0.0` maps -0.0 → +0.0 and is the identity elsewhere — the
    sanctioned normalization for expressions that can't be rewritten
    sign-safe (force_index_eom registry query, both engines)."""
    duck = duckdb.sql(
        "SELECT round(CAST(-0.0001 AS DOUBLE), 2) + 0.0 AS z"
    ).fetchone()[0]
    assert duck == 0.0 and not _signbit(duck)
    sprk = (
        spark.range(1)
        .select((F.lit(-100.0) * F.lit(0.0) + F.lit(0.0)).alias("z"))
        .first()
        .z
    )
    assert sprk == 0.0 and not _signbit(sprk)
    assert duckdb.sql("SELECT -1.5 + 0.0").fetchone()[0] == -1.5


def test_williams_r_sign_safe_at_envelope_top(spark):
    """close == rolling-high bars yield +0.0 (never -0.0) from the
    sign-safe form, and the interior values are the textbook %R."""
    from finance_data_pipeline_spark import indicators

    bars = spark.createDataFrame(
        [
            ("A", 1, 10.0, 8.0, 10.0),   # close == high == HH -> %R = 0.0
            ("A", 2, 10.0, 8.0, 8.0),    # close == LL -> %R = -100
            ("A", 3, 10.0, 8.0, 9.0),    # midpoint -> -50
            ("A", 4, 10.0, 8.0, 10.0),   # envelope top again -> 0.0
        ],
        "symbol string, bar_ts int, high double, low double, close double",
    )
    got = {
        r.bar_ts: r.wr
        for r in bars.select(
            "bar_ts", indicators.williams_r(14, "bar_ts").alias("wr")
        ).collect()
    }
    assert got[2] == -100.0 and got[3] == -50.0
    for ts in (1, 4):
        assert got[ts] == 0.0 and not _signbit(got[ts]), f"bar {ts}: -0.0 leaked"


def test_parity_comparator_is_signbit_sensitive():
    """The local gate must have the driver's sensitivity: -0.0 vs +0.0
    is a mismatch (scalar and inside arrays), matching signs pass,
    NaN == NaN, and NULL/NaN sentinels are mutually equal (pandas
    erases the distinction differently per engine)."""
    assert not values_match(-0.0, 0.0)
    assert not values_match(0.0, -0.0)
    assert values_match(0.0, 0.0)
    assert values_match(-0.0, -0.0)
    assert values_match(1.5, 1.5)
    assert not values_match(1.5, 1.5000001)
    nan = float("nan")
    assert values_match(nan, nan)
    assert values_match(None, None)
    assert values_match(None, nan) and values_match(nan, None)
    assert not values_match(None, 0.0) and not values_match(nan, 0.0)
    # arrays: element-wise, not str() (str truncates long numpy arrays)
    assert not values_match([1.0, -0.0], [1.0, 0.0])
    assert values_match([1.0, -0.0], [1.0, -0.0])
    assert not values_match([1.0], [1.0, 2.0])
    assert not values_match([1.0], 1.0)
    big_a = np.zeros(600)
    big_b = np.zeros(600)
    big_b[599] = 1e-12  # str() of both truncates to the same "[0. 0. ... 0.]"
    assert not values_match(big_a, big_b)


_TS = pd.Series(pd.to_datetime(["2024-01-02", "2024-01-01"]))


@pytest.mark.parametrize(
    "got, want, error",
    [
        (pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1, 2, 3]}), "rows"),
        (pd.DataFrame({"a": [1], "b": [2]}), pd.DataFrame({"a": [1], "c": [2]}), "cols"),
        (pd.DataFrame({"A": [1]}), pd.DataFrame({"a": [1]}), None),
        # DuckDB sum() over integers is HUGEINT, materialized as float64
        (pd.DataFrame({"n": [1, 2]}), pd.DataFrame({"n": [1.0, 2.0]}), "dtype-kind"),
        (
            pd.DataFrame({"s": ["x", None]}, dtype=object),
            pd.DataFrame({"s": ["x", np.nan]}, dtype=object),
            None,
        ),
        (pd.DataFrame({"z": [-0.0]}), pd.DataFrame({"z": [0.0]}), "value"),
        (
            pd.DataFrame({"ts": _TS.astype("datetime64[ns]")}),
            pd.DataFrame({"ts": [t.to_pydatetime() for t in _TS]}, dtype=object),
            None,
        ),
        (
            pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
            pd.DataFrame({"k": [3, 1, 2], "v": ["c", "a", "b"]}),
            None,
        ),
    ],
    ids=[
        "row-count",
        "column-set",
        "column-case",
        "int-vs-float",
        "none-vs-nan",
        "signed-zero",
        "datetime-vs-python",
        "row-order",
    ],
)
def test_parity_mismatch_frames(got, want, error):
    """The frame compare every parity gate shares: row count and column
    set (case-insensitive), dtype kind, NULL/NaN unification, temporal
    normalization and order-insensitivity, cell by cell through the
    signbit-sensitive values_match."""
    errs = mismatch(got, want)
    if error is None:
        assert errs == []
    else:
        assert errs and errs[0].startswith(error), errs


def test_pairwise_correlation_tiny_negative_corr_is_plus_zero(spark, tmp_path):
    """A return correlation in (-5e-5, 0) rounds to -0.0 in DuckDB and
    +0.0 in Spark; the registry query and its oracle both carry the
    terminal ``+ 0.0``, so the two engines hash-equal on it."""
    from finance_data_pipeline_spark.registry import ORACLES, QUERIES
    # Designed hourly returns: a alternates, b is orthogonal to a with
    # zero mean, minus eps·a — so corr(a, b) ≈ -eps, a tiny negative.
    eps = 2e-5
    a = [0.01, -0.01] * 4
    b = [r - eps * x for r, x in zip([0.01, 0.01, -0.01, -0.01] * 2, a)]
    rows = []
    for uid, rets in ((0, a), (1, b)):
        close = 100.0
        for h in range(len(rets) + 1):
            if h:
                close *= 1 + rets[h - 1]
            rows.append((uid, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=h), close))
    events = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    con = duckdb.connect()
    con.register("ev", events)
    con.sql(f"COPY ev TO '{tmp_path}/events.parquet' (FORMAT PARQUET)")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")

    raw = con.sql(
        "WITH b AS (SELECT user_id, ts, value / lag(value) OVER "
        "(PARTITION BY user_id ORDER BY ts) - 1 AS r FROM events) "
        "SELECT corr(x.r, y.r) FROM b x JOIN b y ON x.ts = y.ts "
        "WHERE x.user_id = 0 AND y.user_id = 1"
    ).fetchone()[0]
    assert -5e-5 < raw < 0, raw

    got = QUERIES["pairwise_correlation"](spark, str(tmp_path)).collect()
    want = con.sql(ORACLES["pairwise_correlation"]).fetchall()
    assert len(got) == len(want) == 1
    assert got[0].corr_ab == 0.0 and not _signbit(got[0].corr_ab)
    assert values_match(got[0].corr_ab, want[0][2])
