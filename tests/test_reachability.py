"""Every top-level def and constant in the engine is reached from
something that runs.

The roots are the code the system executes outside ``tests/``: the
module-level code of every package module (``QUERIES``, ``ORACLES``,
``__main__``), plus everything in ``tools/``, ``perfbench/``,
``bench.py`` and ``__spark_entry__.py``.  From there a def is reached
when reached code names it (as ``name`` or ``module.name``), and then
its own body is followed in turn; a module-level assignment is reached
when reached code reads the name it binds.  Resolution is by name only,
so a collision keeps a def alive rather than dropping it; ``__all__``
lists, ``import`` lines and assignment targets are not uses.  A def or
constant that only tests reach, or nothing at all, fails this gate:
delete it, or argue it into the allowlist below."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "pyspark_pipelining_spark"
ROOT_FILES = [
    *sorted((ROOT / "tools").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

# (module, def) -> reason it stays without a non-test caller: a SURVEY
# §2.1 source or sink that no registered query reproduces, or a
# reference implementation a test checks live code against
ALLOWED = {
    ("sources/sinks.py", "ingest_pandas"): "SURVEY §2.1 S3: pandas→Spark ingest",
    ("sources/sinks.py", "pandas_to_table"): "SURVEY §2.1 S3: pandas→Spark ingest + table save",
    ("sources/sinks.py", "write_excel_sheets"): "SURVEY §2.1 S5: multi-sheet Excel sink",
    ("sources/sinks.py", "excel_writer_args"): "SURVEY §2.1 S5: Excel append-vs-fresh writer mode",
    ("sources/sinks.py", "write_csv_report"): "SURVEY §2.1 S6: single-file CSV report sink",
    ("sources/registry.py", "read_jdbc"): "SURVEY §2.1 S7: JDBC/warehouse source",
    ("sources/registry.py", "jdbc_options"): "SURVEY §2.1 S7: JDBC read options",
    ("sources/registry.py", "list_tables"): "SURVEY §2.1 S9: catalog table listing",
    ("sources/registry.py", "table_exists"): "SURVEY §2.1 S9: catalog existence probe",
    ("sources/registry.py", "list_columns"): "SURVEY §2.1 S9: catalog column listing",
    ("sources/registry.py", "probe_schema"): "SURVEY §2.1 S9: zero-row schema probe",
    ("sources/registry.py", "check_timestamp_column"): "SURVEY §2.1 S9: timestamp column check",
    ("operators/similarity.py", "ivf_assign"): (
        "the reference test_with_ivf_cell_equals_inline_assign checks with_ivf_cell against"
    ),
}

DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _uses(nodes) -> set[str]:
    """Names that ``nodes`` read: bare names and attribute names.
    String constants (``__all__`` entries among them), import lines and
    assignment targets bind names but do not use them."""
    names = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
    return names


def _aliases(tree: ast.Module) -> dict[str, str]:
    """``asname -> name`` for every ``import name as asname``."""
    return {
        a.asname: a.name.rsplit(".", 1)[-1]
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        if a.asname
    }


def _module_level(tree: ast.Module) -> list[ast.AST]:
    """Module-level statements that run at import, minus def bodies:
    decorators and defaults do run, so they stay."""
    out = []
    for node in tree.body:
        if isinstance(node, DEFS):
            out += node.decorator_list
            if not isinstance(node, ast.ClassDef):
                out += node.args.defaults + [d for d in node.args.kw_defaults if d]
        else:
            out.append(node)
    return out


def _bound(node: ast.AST) -> list[str]:
    """The names a top-level statement defines: a def's or class's
    name, or the plain names a module-level assignment binds (dunders
    such as ``__all__`` excepted)."""
    if isinstance(node, DEFS):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        t.id
        for target in targets
        for t in ast.walk(target)
        if isinstance(t, ast.Name) and not t.id.startswith("__")
    ]


def unreached() -> dict[tuple[str, str], int]:
    """``(module, name) -> line`` for every top-level def or constant
    that no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    used: set[str] = set()
    aliases: dict[str, str] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        aliases.update(_aliases(tree))
        used |= _uses(_module_level(tree))
        for node in tree.body:
            for name in _bound(node):
                defs.setdefault(name, []).append((str(path.relative_to(PACKAGE)), node))
    for path in ROOT_FILES:
        tree = ast.parse(path.read_text(), filename=str(path))
        aliases.update(_aliases(tree))
        used |= _uses([tree])

    seen: set[str] = set()
    todo = list(used)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        if name in aliases:
            todo.append(aliases[name])
        for _, node in defs.get(name, ()):
            todo += _uses([node])
    return {
        (module, name): node.lineno
        for name, sites in defs.items()
        if name not in seen
        for module, node in sites
    }


@pytest.mark.quick
def test_every_engine_def_has_a_non_test_caller():
    found = unreached()
    stray = {key: line for key, line in found.items() if key not in ALLOWED}
    assert not stray, (
        f"defs and constants that no query, oracle, tool, perfbench or bench.py reaches: {stray}"
    )
    # the allowlist names only defs that exist and are still unreached
    assert set(ALLOWED) <= set(found), set(ALLOWED) - set(found)
