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


def _aliases(args):
    """(source, name) source text of each ``<column>.alias(<name>)``
    argument, or None when any argument is something else."""
    out = []
    for node in args:
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "alias"
            and len(node.args) == 1
        ):
            return None
        out.append((ast.unparse(node.func.value), ast.unparse(node.args[0])))
    return out


def _symmetrizations(tree: ast.AST):
    """Hand-written "both orientations" of a pair: ``struct(a AS src, b
    AS dst)`` next to ``struct(b AS src, a AS dst)``, the union form's
    ``select(a AS u, b AS v)`` next to ``select(b AS u, a AS v)``, or
    its swapped branch ``select(col(v) AS u, col(u) AS v)`` alone.
    Yields the enclosing function's name and the line."""
    for func in ast.walk(tree):
        if not isinstance(func, ast.FunctionDef):
            continue
        seen = {}
        for node in ast.walk(func):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("struct", "select")
                and len(node.args) == 2
            ):
                continue
            pair = _aliases(node.args)
            if pair is None:
                continue
            (s1, n1), (s2, n2) = pair
            kind = node.func.attr
            swapped = (kind, ((s2, n1), (s1, n2)))
            if s1 != s2 and swapped in seen:
                yield func.name, seen[swapped]
            elif kind == "select" and (s1, s2) == (f"F.col({n2})", f"F.col({n1})"):
                yield func.name, node.lineno
            seen[(kind, tuple(pair))] = node.lineno


def test_graph_loops_use_the_vertex_loop_owners():
    """Emitting both orientations of a pair has one owner,
    graph._symmetric, and the vertex-vector broadcast gate has one,
    graph._vector_join: a hand-written symmetrization or a second read
    of spark.sql.autoBroadcastJoinThreshold is a graph loop that can
    drift from the rule every other loop follows."""
    found = sorted(
        {
            f"{rel}:{line}"
            for rel in ("extensions/graph.py", "extensions/dedup.py", "registry.py")
            for name, line in _symmetrizations(ast.parse((PACKAGE / rel).read_text()))
            if (rel, name) != ("extensions/graph.py", "_symmetric")
        }
    )
    assert not found, f"pairs symmetrized outside graph._symmetric: {found}"
    readers = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {
            id(node)
            for func in ast.walk(tree)
            if isinstance(func, ast.FunctionDef) and func.name == "_vector_join"
            for node in ast.walk(func)
        }
        rel = str(path.relative_to(PACKAGE))
        for node in ast.walk(tree):
            reads = (
                isinstance(node, ast.Attribute)
                and node.attr == "autoBroadcastJoinThreshold"
            ) or (
                isinstance(node, ast.Constant)
                and node.value == "spark.sql.autoBroadcastJoinThreshold"
            )
            if reads and not (rel == "extensions/graph.py" and id(node) in owner):
                readers.append(f"{rel}:{node.lineno}")
    assert not readers, f"autoBroadcastJoinThreshold read outside graph._vector_join: {readers}"


def test_parity_gates_use_the_parity_owners():
    """The frame compare (``_canon``) and the DuckDB view over each
    input table have one owner, tools/parity_compare.py; a copy in a
    gate can drift from the value-hash compare. perfbench/ keeps its own
    copy because the benchmark owns it."""
    owner = PACKAGE.parent / "tools" / "parity_compare.py"
    found = []
    for path in sorted(
        p for d in ("tools", "tests") for p in (PACKAGE.parent / d).glob("*.py")
    ):
        if path == owner:
            continue
        rel = path.relative_to(PACKAGE.parent)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.FunctionDef) and node.name == "_canon":
                found.append(f"{rel}:{node.lineno} _canon defined")
            loops = (
                [node.iter]
                if isinstance(node, ast.For)
                else [g.iter for g in getattr(node, "generators", ())]
            )
            if any("DRIVER_TABLES" in ast.unparse(it) for it in loops) and (
                "CREATE VIEW" in ast.unparse(node)
            ):
                found.append(f"{rel}:{node.lineno} DRIVER_TABLES view loop")
    assert not found, f"parity code outside tools/parity_compare.py: {found}"
