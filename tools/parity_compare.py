"""The one owner of the parity contract: every local gate (the
oracle-parity test, tools/mini_driver.py and the probes built on it,
tools/layout_invariance_probe.py) compares two result frames with
``mismatch`` and opens its DuckDB oracle views with
``oracle_connection``, so the gates cannot drift apart again.

The driver hashes raw value bytes, so it is sensitive to things
Python's ``==`` ignores: the sign of zero (``-0.0 == 0.0`` is True but
the hashes differ — the round-6 ``williams_r_14`` red row happened
precisely because the local gates compared with ``==`` and said 50/50
while the driver said 49/50). Exact equality otherwise: no
tolerance, because the driver has none. NULL and NaN are mutually
equal: pandas materialization erases the NULL/NaN distinction (and
mixes None/np.nan sentinels across engines), so post-pandas the
comparator cannot and must not split them. Arrays
(embedding columns) compare element-wise — ``str()`` of a long numpy
array truncates with ``...`` and would silently pass differing tails.
The hash is dtype-sensitive too, so the dtype *kind* of every column
must agree as well as its values.

Importing this module loads pandas and duckdb only, never Spark.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

# Value mismatches reported per compare before the cell loop stops.
MAX_VALUE_MISMATCHES = 5


def _is_seq(v) -> bool:
    import numpy as np

    return isinstance(v, (list, tuple, np.ndarray))


def _isna(v) -> bool:
    """Missing-value sentinel: pandas materializes SQL NULL as None
    (Spark toPandas, object columns) or float NaN (duckdb .df(), and
    any NULL in a float64 column) depending on engine and dtype — the
    underlying arrow value is NULL either way, so the driver sees them
    as equal and the comparator must too (an adversarial-probe false
    positive on a NULL boolean taught us this)."""
    return v is None or (isinstance(v, float) and math.isnan(v))


def values_match(a, b) -> bool:
    if _is_seq(a) or _is_seq(b):
        if not (_is_seq(a) and _is_seq(b)):
            return False
        return len(a) == len(b) and all(
            values_match(x, y) for x, y in zip(a, b)
        )
    if _isna(a) or _isna(b):
        return _isna(a) and _isna(b)
    try:
        fa, fb = float(a), float(b)
    except (TypeError, ValueError):
        return str(a) == str(b)
    if math.isnan(fa) and math.isnan(fb):
        return True
    if fa == fb:
        if fa == 0.0:
            return math.copysign(1.0, fa) == math.copysign(1.0, fb)
        return True
    return False


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per input table over ``sf_dir``'s parquet,
    as the oracle SQL expects."""
    from finance_data_pipeline_spark.schemas import DRIVER_TABLES

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Lowercased, column- and row-sorted copy of ``df`` with temporal
    columns at ``datetime64[us]`` and object columns as strings."""
    df = df.copy()
    df.columns = df.columns.str.lower()
    for c in df.columns:
        if "datetime" in str(df[c].dtype) or (
            df[c].dtype == object and len(df) and hasattr(df[c].iloc[0], "isoformat")
        ):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            # Unify NA sentinels BEFORE stringifying: Spark's toPandas
            # uses None where duckdb's .df() uses np.nan for the same
            # SQL NULL (seen on nullable booleans) — astype(str) would
            # freeze them as 'None' vs 'nan' and fake a mismatch.
            df[c] = df[c].where(pd.notna(df[c]), None).astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The differences between ``got`` and ``want`` as a byte-level
    value hash sees them, order-insensitively (at most ``MAX_VALUE_MISMATCHES``
    cell values); an empty list means the frames are equal."""
    errs = []
    if len(got) != len(want):
        errs.append(f"rows {len(got)} vs {len(want)}")
    if sorted(got.columns.str.lower()) != sorted(want.columns.str.lower()):
        errs.append(f"cols {sorted(got.columns)} vs {sorted(want.columns)}")
    if errs:
        return errs
    g, w = _canon(got), _canon(want)
    # DuckDB sum() over integers yields HUGEINT, which pandas
    # materializes as float64 while Spark yields int64: the values
    # compare equal but their value hashes do not (seen on
    # priority_line_counts / packed_sequences / token_budget_sample).
    # Empty frames carry no values to hash; their dtypes are not compared.
    kind_diff = {
        c: (g[c].dtype.kind, w[c].dtype.kind)
        for c in g.columns
        if g[c].dtype.kind != w[c].dtype.kind
    } if len(g) else {}
    if kind_diff:
        return [
            f"dtype-kind (got, want) {kind_diff}: cast the oracle (usually "
            "CAST(sum(...) AS BIGINT)) or the Spark column so both engines "
            "materialize the same type"
        ]
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not values_match(a, b):
                errs.append(f"value {c}[{i}]: {a!r} vs {b!r}")
                if len(errs) == MAX_VALUE_MISMATCHES:
                    return errs
    return errs
