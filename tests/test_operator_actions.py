"""Operators build plans; they do not run them.  A driver action inside
an operator (``collect``, ``count``, ...) is either loop control or a
data-path collect, and loop control has one home:
``operators/iterate.py``.  This parses every operator module and fails
on any other action call, so a new one has to go through the loop
driver or be argued into the allowlist below."""

from __future__ import annotations

import ast
from pathlib import Path

OPERATORS = Path(__file__).resolve().parents[1] / "pyspark_pipelining_spark" / "operators"

ACTIONS = {"collect", "count", "first", "take", "head", "toPandas", "toLocalIterator"}

# (module, enclosing function, action) -> reason
ALLOWED = {
    ("graph.py", "pagerank_int", "count"): (
        "the node count n is a driver scalar that parameterizes the"
        " integer rank constants the DuckDB oracle mirrors"
    ),
}


def _functions_aliases(tree: ast.Module) -> set[str]:
    """Names bound to ``pyspark.sql.functions`` (``F``), whose
    ``count``/``first`` are aggregate expressions, not actions."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            names |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.Import):
            names |= {a.asname for a in node.names if a.name == "pyspark.sql.functions" and a.asname}
    return names


def _action_calls(path: Path):
    """``(enclosing function, action, line)`` for every action call."""
    tree = ast.parse(path.read_text(), filename=str(path))
    functions = _functions_aliases(tree)

    def visit(node: ast.AST, fn: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn == "<module>":
                yield from visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ACTIONS
                and not (isinstance(child.func.value, ast.Name) and child.func.value.id in functions)
            ):
                yield fn, child.func.attr, child.lineno
            yield from visit(child, fn)

    yield from visit(tree, "<module>")


def test_driver_actions_only_in_the_loop_driver():
    found = {
        (path.name, fn, action): line
        for path in sorted(OPERATORS.glob("*.py"))
        if path.name != "iterate.py"
        for fn, action, line in _action_calls(path)
    }
    stray = {key: line for key, line in found.items() if key not in ALLOWED}
    assert not stray, f"driver actions outside operators/iterate.py: {stray}"
    # the allowlist names only calls that still exist (and proves the
    # parser sees an action when there is one)
    assert set(ALLOWED) <= set(found)

