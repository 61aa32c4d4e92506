"""Vacuity guard over every oracle's OUTPUT (round-5 lesson): a hash
check on an empty frame, an all-NULL column, or an all-zero metric
column verifies nothing — nine queries shipped that way before the
round-5 sweep (singular OLS, never-firing crossover, cliques-only link
prediction, ...). This test re-runs the sweep in DuckDB only (no Spark
— both engines produce the same frame when the hash check passes) and
pins the known-benign residue as an explicit PER-SF allowlist, so any
NEW degenerate output fails CI with the column named instead of riding
a vacuously-green driver row.

Both driver-relevant SFs are swept (VERDICT r5 item 6): the driver
checks at sf0.01, the local parity suite at sf0.001, and a column can
be degenerate at one SF and not the other — warm-up NULLs vanish once
enough bars exist, candlestick patterns start firing at sf0.01, and
nations_customers_only is non-empty ONLY at sf0.001.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tools.parity_compare import oracle_connection

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

# Known-benign degenerate outputs per SF — each a REAL property of the
# synthetic corpus/fixture, documented at its query:
#   - warm-up masks (sf0.001 only): ma_200 is defined NULL until 200
#     bars exist (~30-bar fixture); pairs zscore needs its rolling
#     window filled — both fill in at sf0.01's longer history
#   - corpus facts (both SFs): no punctuation / phone patterns /
#     duplicate lines / NULL cells in the generated data
#   - by-construction zeros: silence runs start at t=0; in-sample VaR
#     never rejects (the documented Kupiec property); no structural
#     breaks in the random-walk fixture; quality scores are integers
#     with >50% mass at the median (MAD 0); single-language docs give
#     the runner-up language zero marker hits
#   - sf0.001-only zeros: query_id 0 is a valid id (one query doc at
#     that SF); candlestick patterns need more bars to fire; canonical
#     dedup finds no casing/whitespace twins in the tiny corpus
#   - nations_customers_only (sf0.01 only): the anti-join is genuinely
#     empty — every nation with customers also has suppliers at that
#     SF. Both engines agreeing on emptiness is a weak but real check
#     (the row-count/schema compare still runs); the sf0.001 sweep
#     covers the non-empty behavior of the same plan.
ALLOWED_EMPTY = {
    SFS[0]: set(),
    SFS[1]: {"nations_customers_only"},
}
ALLOWED_NULL = {
    SFS[0]: {
        ("ma_warmup", "ma_200"),
        ("dashboard_frame", "ma_200"),
        ("pairs_spread_zscore", "zscore"),
    },
    SFS[1]: set(),
}
_ZERO_BOTH = {
    ("text_stats", "punct_ratio"),
    ("pii_scrub", "n_phone"),
    ("gopher_quality", "symbol_word_ratio"),
    ("gopher_quality", "dup_line_frac"),
    ("gopher_quality", "keep"),
    ("profile_table", "n_nulls"),
    ("canonical_dedup_stats", "n_dropped"),
    ("media_silence_runs", "first_run_start"),
    ("robust_quality_by_lang", "mad_quality"),
    ("robust_quality_by_lang", "n_outliers"),
    ("cusum_break", "is_break"),
    ("var_backtest_kupiec", "reject_95"),
    ("lang_id_margin", "second_hits"),
}
ALLOWED_ZERO = {
    SFS[0]: _ZERO_BOTH
    | {
        ("ann_topk_lsh", "query_id"),
        ("candlestick_patterns", "is_hammer"),
        ("candlestick_patterns", "bullish_engulf"),
        ("candlestick_patterns", "bearish_engulf"),
    },
    SFS[1]: set(_ZERO_BOTH),
}


@pytest.fixture(scope="module", params=SFS, ids=["sf0.001", "sf0.01"])
def sf_frames(request):
    from finance_data_pipeline_spark.registry import ORACLES

    sf_dir = request.param
    con = oracle_connection(sf_dir)
    return sf_dir, {name: con.sql(sql).df() for name, sql in ORACLES.items()}


def test_no_oracle_is_empty(sf_frames):
    sf_dir, frames = sf_frames
    empty = {n for n, df in frames.items() if len(df) == 0}
    new = empty - ALLOWED_EMPTY[sf_dir]
    assert not new, f"vacuous (empty) oracle outputs at {sf_dir}: {sorted(new)}"


def test_no_new_all_null_columns(sf_frames):
    sf_dir, frames = sf_frames
    found = {
        (n, c)
        for n, df in frames.items()
        for c in df.columns
        if len(df) and df[c].isna().all()
    }
    new = found - ALLOWED_NULL[sf_dir]
    assert not new, (
        f"new all-NULL oracle columns at {sf_dir} "
        f"(hash checks them vacuously): {sorted(new)}"
    )


def test_no_new_all_zero_metric_columns(sf_frames):
    sf_dir, frames = sf_frames
    found = set()
    for n, df in frames.items():
        if len(df) <= 1:
            continue  # single-row summaries legitimately hit exact zeros
        for c in df.columns:
            col = df[c]
            if not pd.api.types.is_numeric_dtype(col):
                continue
            nn = col.dropna()
            if len(nn) and (nn == 0).all():
                found.add((n, c))
    new = found - ALLOWED_ZERO[sf_dir]
    assert not new, f"new all-zero oracle metric columns at {sf_dir}: {sorted(new)}"
