"""Guards must survive ``python -O``: the interpreter strips ``assert``
statements under optimization, so a guard written as one silently stops
guarding. Every check in the engine package raises explicitly.
"""

from __future__ import annotations

import ast
import pathlib
import re

import finance_data_pipeline_spark

PACKAGE = pathlib.Path(finance_data_pipeline_spark.__file__).parent


def test_engine_package_has_no_assert_statements():
    found = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert not found, f"assert statements vanish under python -O: {found}"


def test_registry_queries_use_the_streaming_harness():
    """Scratch directories and stream drains go through
    streaming.scratch_dir / await_drained / drain_to_memory, which clean
    up and raise on timeout; a hand-written copy in a query does
    neither."""
    source = (PACKAGE / "registry.py").read_text()
    for banned in ("tempfile.mkdtemp(", "awaitTermination("):
        assert banned not in source, f"registry.py calls {banned}"


def test_registry_queries_use_the_returns_owners():
    """The simple return, the exact DECIMAL sum and the market return
    each have one owner: indicators.simple_return, functions.decimal_sum
    and registry._daily_returns/_market_return on the Spark side,
    _RET_SQL/_RET_BAR_SQL, RETURNS_CTE and MARKET_RETURN_CTE on the
    oracle side. A hand-written copy in a query can drift from the
    contract its oracle replays."""
    source = (PACKAGE / "registry.py").read_text()
    spark_return = re.compile(
        r'F\.col\("close"\)\s*/\s*F\.lag\("close"(?:,\s*1)?\)\.over\([^)]*\)\s*-\s*1\b'
    )
    assert not spark_return.search(source), "registry.py hand-writes a simple return"
    for banned in ('F.col("close") / F.lag("close")', "dec = lambda"):
        assert banned not in source, f"registry.py spells {banned}"
    for window in ("_W_DATE", "_W_BAR"):
        oracle_return = f"lag(close) OVER ({{{window}}}) - 1"
        assert source.count(oracle_return) == 1, (
            f"{oracle_return!r} is spelled outside its shared constant"
        )
