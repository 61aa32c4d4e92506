"""Guards must survive ``python -O``: the interpreter strips ``assert``
statements under optimization, so a guard written as one silently stops
guarding. Every check in the engine package raises explicitly.
"""

from __future__ import annotations

import ast
import pathlib

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
