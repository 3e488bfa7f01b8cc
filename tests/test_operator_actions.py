"""Operators and query builders build plans; they do not run them.  A
driver action inside one (``collect``, ``count``, ...) is either loop
control or a data-path collect, and loop control has one home:
``operators/iterate.py``.  This parses every operator module, every
``queries*.py`` builder and the ``plans/`` stage graphs, and fails on
any other action call, so a new one has to go through the loop driver
or be argued into the allowlist below.  An action in a builder adds
jobs without moving the plan lock, so nothing else would catch it.

The same source-scan discipline pins each stage the two engines share:
the Spark-side ``md5 → substring → conv`` hash has one home,
``dedup.portable_hash60``, and each DuckDB spelling the oracles replay
bit for bit (the hash, the exact-cents sum and cast, the cosine and its
rank, the blob file name, the little-endian byte read, the WAV features,
the PNG channel stats, the graph edge table and its component walk) has
one renderer.  The media family's Spark halves are pinned the same way:
one WAV fold, one PNG decode shell."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

# source scans only: no Spark session, a few seconds
pytestmark = pytest.mark.quick

PACKAGE = Path(__file__).resolve().parents[1] / "pyspark_pipelining_spark"
OPERATORS = PACKAGE / "operators"
LOOP_DRIVER = OPERATORS / "iterate.py"
# every module that builds plans: operators, query builders, stage graphs
BUILDERS = [
    *sorted(OPERATORS.glob("*.py")),
    *sorted(PACKAGE.glob("queries*.py")),
    *sorted((PACKAGE / "plans").glob("*.py")),
]

ACTIONS = {"collect", "count", "first", "take", "head", "toPandas", "toLocalIterator"}

# (module, enclosing function, action) -> reason
ALLOWED: dict[tuple[str, str, str], str] = {}


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
        (str(path.relative_to(PACKAGE)), fn, action): line
        for path in BUILDERS
        if path != LOOP_DRIVER
        for fn, action, line in _action_calls(path)
    }
    stray = {key: line for key, line in found.items() if key not in ALLOWED}
    assert not stray, f"driver actions outside operators/iterate.py: {stray}"
    # the parser sees an action when there is one: the loop driver's probe
    assert ("iterate", "collect") in {(fn, a) for fn, a, _ in _action_calls(LOOP_DRIVER)}


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


def _docstrings(tree: ast.Module) -> set[int]:
    """``id`` of every docstring node: prose may name a spelling."""
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }


def _top_name(node: ast.AST) -> str | None:
    """The name a top-level statement binds: its def, class or
    assigned constant."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return node.name
    targets = node.targets if isinstance(node, ast.Assign) else [getattr(node, "target", None)]
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return names[0] if names else None


def _string_matcher(pattern: str):
    """Match string literals (docstrings excluded) against ``pattern``."""
    rx = re.compile(pattern, re.IGNORECASE)

    def match(node: ast.AST, docs: set[int]) -> bool:
        return (
            isinstance(node, (ast.Constant, ast.JoinedStr))
            and id(node) not in docs
            and bool(rx.search(_sql_text(node)))
        )

    return match


def _spark_hash(node: ast.AST, docs: set[int]) -> bool:
    return _is_hash60(node) or (
        isinstance(node, ast.Call) and any(_HASH60_SQL.search(_sql_text(a)) for a in node.args)
    )


def _sites(match) -> set[tuple[str, str]]:
    """``(module, top-level name)`` of every node ``match`` accepts."""
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        docs = _docstrings(tree)
        for top in tree.body:
            if any(match(node, docs) for node in ast.walk(top)):
                found.add((str(path.relative_to(PACKAGE)), _top_name(top) or "<module>"))
    return found


# twin stage -> (how its spelling is recognised, the one place it may
# live).  Each DuckDB spelling is a renderer beside its Spark half, so
# the two engines' halves of a shared stage cannot drift apart.
TWINS = {
    "spark_hash": (_spark_hash, ("operators/dedup.py", "portable_hash60")),
    "duck_hash": (_string_matcher(r"'0x' \|\| substr\(md5\("), ("operators/dedup.py", "duck_hash60")),
    "duck_money_sum": (
        # a window clause (or the renderer's own formatted one) may sit
        # between the sum and the cast
        _string_matcher(r"sum\(CAST\([^()]* AS DECIMAL\(18,\s*2\)\)\)[^()]*AS DOUBLE\)"),
        ("money.py", "duck_money_sum"),
    ),
    "money_type": (_string_matcher(r"^\s*decimal\(18,\s*2\)\s*$"), ("money.py", "D")),
    "duck_cosine": (_string_matcher(r"list_dot_product\("), ("operators/similarity.py", "duck_cosine")),
    "duck_rank": (
        _string_matcher(
            r"row_number\(\) OVER \(PARTITION BY query_id\s+ORDER BY [^)]*\) AS INTEGER\) AS rank"
        ),
        ("operators/similarity.py", "duck_rank"),
    ),
    "blob_file_name": (_string_matcher(r"regexp_extract\(filename"), ("queries_ann_media.py", "FILE_NAME")),
    "le_hex": (
        _string_matcher(r"(?<!'0x' )\|\|\s*substring\([^()]*,\s*2\)"),
        ("queries_ann_media.py", "_le_hex"),
    ),
    "cents": (
        _string_matcher(r"CAST\(\s*CAST\([^()]* AS DECIMAL\(18,\s*2\)\)\s*\*\s*100\s+AS BIGINT\)"),
        ("money.py", "cents"),
    ),
    # the media family: one WAV fold, one PNG decode shell, and their
    # DuckDB halves
    "wav_fold": (_string_matcher(r"named_struct\('peak'"), ("operators/multimodal.py", "wav_features")),
    "png_shell": (_string_matcher(r"m\.w BETWEEN 1 AND"), ("operators/multimodal.py", "_png_decode")),
    "duck_wav_features": (_string_matcher(r"lag\(v\) OVER"), ("queries_ann_media.py", "_sql_wav_features")),
    "duck_png_stats": (
        _string_matcher(r"CAST\(w \* h AS DOUBLE\)"),
        ("queries_ann_media.py", "_SQL_PNG_CHANNEL_STATS"),
    ),
    # the near-duplicate graph: one edge table (its reversed branch) and
    # one component walk on the DuckDB side
    "duck_edges": (
        _string_matcher(r"SELECT doc_2(\s+AS \w+)?,\s*doc_1(\s+AS \w+)?\s+FROM pairs"),
        ("operators/graph.py", "duck_edges"),
    ),
    "duck_components": (_string_matcher(r"JOIN walk w ON"), ("operators/dedup.py", "duck_components")),
}


@pytest.mark.parametrize("twin", list(TWINS))
def test_portable_hash_spelled_once(twin):
    match, home = TWINS[twin]
    found = _sites(match)
    assert found == {home}, f"{twin} spelled outside {home}: {sorted(found - {home})}"
