"""Output checks: an order-insensitive, value-exact comparison of two
result frames, cell by cell with the engine's own comparator
(``tools/parity_compare.values_match``: exact, sign-of-zero aware,
NULL == NaN, element-wise on arrays)."""

from __future__ import annotations

import duckdb
import pandas as pd

from tools.parity_compare import values_match


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated table, as the oracles expect."""
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = df.columns.str.lower()
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        col = df[c]
        if "datetime" in str(col.dtype) or (
            col.dtype == object and len(col) and hasattr(col.iloc[0], "isoformat")
        ):
            df[c] = pd.to_datetime(col).astype("datetime64[us]")
        elif col.dtype == object:
            df[c] = col.where(pd.notna(col), None).astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else the first difference."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if sorted(got.columns.str.lower()) != sorted(want.columns.str.lower()):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not values_match(a, b):
                return f"{c}[{i}]: {a!r} vs {b!r}"
    return None
