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
