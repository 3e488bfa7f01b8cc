"""Operators build plans; they do not run them.  A driver action inside
an operator (``collect``, ``count``, ...) is either loop control or a
data-path collect, and loop control has one home:
``operators/iterate.py``.  This parses every operator module and fails
on any other action call, so a new one has to go through the loop
driver or be argued into the allowlist below.

The same source-scan discipline pins the portable value hash: the
Spark-side ``md5 → substring → conv`` expression has one home,
``dedup.portable_hash60``, which the DuckDB oracles replay bit for bit."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_pipelining_spark"
OPERATORS = PACKAGE / "operators"

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



def _named_call(node: ast.AST, name: str) -> bool:
    if not (isinstance(node, ast.Call) and node.args):
        return False
    f = node.func
    return (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) == name


def _is_hash60(node: ast.AST) -> bool:
    """``conv(substring(md5(...), ...), ...)`` as a Column expression."""
    for name in ("conv", "substring"):
        if not _named_call(node, name):
            return False
        node = node.args[0]
    return _named_call(node, "md5")


# the same chain inside a SQL expression string passed to a call
# (``F.expr(...)``); oracle SQL spells the hash with '0x' || substr
_HASH60_SQL = re.compile(r"conv\s*\(\s*substring\s*\(\s*md5\s*\(", re.IGNORECASE)


def _sql_text(node: ast.AST) -> str:
    """The literal text of a (possibly formatted) string argument."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(_sql_text(v) if isinstance(v, ast.Constant) else "x" for v in node.values)
    return ""


def _hash60_sites(path: Path):
    """``(enclosing top-level function, line)`` of every md5 60-bit
    hash expression in a module."""
    tree = ast.parse(path.read_text(), filename=str(path))

    def visit(node: ast.AST, fn: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn == "<module>":
                yield from visit(child, child.name)
                continue
            if _is_hash60(child) or (
                isinstance(child, ast.Call)
                and any(_HASH60_SQL.search(_sql_text(a)) for a in child.args)
            ):
                yield fn, child.lineno
            yield from visit(child, fn)

    yield from visit(tree, "<module>")


def test_portable_hash_spelled_once():
    found = [
        (str(path.relative_to(PACKAGE)), fn, line)
        for path in sorted(PACKAGE.rglob("*.py"))
        for fn, line in _hash60_sites(path)
    ]
    assert [site[:2] for site in found] == [("operators/dedup.py", "portable_hash60")], (
        f"md5 60-bit hash spelled outside dedup.portable_hash60: {found}"
    )
