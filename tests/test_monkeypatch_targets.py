"""AST guard against vacuous DataFrame patches.

``pyspark.sql.DataFrame`` is the abstract base; the frames a classic
session builds are ``pyspark.sql.classic.dataframe.DataFrame``, which
overrides most of its methods. A ``monkeypatch.setattr`` on the base for
such a method never runs, so whatever the test asserts through it holds
vacuously. Patch the classic class (or ``type(df)``) instead."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

TESTS = Path(__file__).resolve().parent
ABSTRACT = {"pyspark.sql.DataFrame", "pyspark.sql.dataframe.DataFrame"}
SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _bindings(scope: ast.AST) -> dict[str, str]:
    """Name → dotted origin for the imports directly in ``scope`` (not in
    nested functions). The first import of a name wins: in the
    ``try: <classic import> except ImportError: <base import>`` form the
    try body's import is the one that runs on Spark 4."""
    nodes, stack = [], list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if not isinstance(node, SCOPES):
            nodes.append(node)
            stack.extend(ast.iter_child_nodes(node))
    out: dict[str, str] = {}
    for node in sorted(
        (n for n in nodes if isinstance(n, (ast.Import, ast.ImportFrom))),
        key=lambda n: (n.lineno, n.col_offset),
    ):
        for a in node.names:
            if isinstance(node, ast.ImportFrom):
                out.setdefault(a.asname or a.name, f"{node.module}.{a.name}")
            elif a.asname:
                out.setdefault(a.asname, a.name)
            else:
                head = a.name.split(".")[0]
                out.setdefault(head, head)
    return out


def _resolve(expr: ast.expr, scopes: list[dict[str, str]]) -> str:
    """Dotted origin of a Name/Attribute chain, innermost scope first."""
    head, *rest = ast.unparse(expr).split(".")
    for names in scopes:
        if head in names:
            return ".".join([names[head], *rest])
    return ".".join([head, *rest])


def vacuous_dataframe_patches(source: str) -> list[str]:
    """``line: target.attr`` for every ``*.setattr`` call in ``source`` that
    patches the abstract DataFrame for an attribute the classic class
    defines itself."""
    found: list[str] = []

    def visit(node: ast.AST, scopes: list[dict[str, str]]) -> None:
        if isinstance(node, SCOPES):
            scopes = [_bindings(node), *scopes]
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "setattr"
            and node.args
        ):
            first = node.args[0]
            target = attr = None
            if isinstance(first, ast.Constant) and isinstance(first.value, str):
                target, _, attr = first.value.rpartition(".")
            elif len(node.args) >= 2 and isinstance(node.args[1], ast.Constant):
                target, attr = _resolve(first, scopes), node.args[1].value
            if target in ABSTRACT and attr in vars(ClassicDataFrame):
                found.append(f"{node.lineno}: {target}.{attr}")
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(ast.parse(source), [])
    return found


def test_no_test_patches_the_abstract_dataframe_vacuously():
    hits = {
        path.name: bad
        for path in sorted(TESTS.rglob("*.py"))
        if (bad := vacuous_dataframe_patches(path.read_text()))
    }
    assert not hits, hits


def test_guard_flags_the_base_class_and_allows_the_classic_one():
    base = (
        "def test_x(monkeypatch):\n"
        "    from pyspark.sql import DataFrame\n"
        "    monkeypatch.setattr(DataFrame, 'collect', None)\n"
        "    monkeypatch.setattr(DataFrame, 'not_overridden_name', None)\n"
        "    monkeypatch.setattr('pyspark.sql.DataFrame.toPandas', None)\n"
    )
    assert vacuous_dataframe_patches(base) == [
        "3: pyspark.sql.DataFrame.collect",
        "5: pyspark.sql.DataFrame.toPandas",
    ]
    aliased = (
        "import pyspark.sql as ps\n"
        "def test_x(monkeypatch):\n"
        "    monkeypatch.setattr(ps.DataFrame, 'write', None)\n"
    )
    assert vacuous_dataframe_patches(aliased) == ["3: pyspark.sql.DataFrame.write"]
    classic = (
        "def fixture(monkeypatch):\n"
        "    try:\n"
        "        from pyspark.sql.classic.dataframe import DataFrame\n"
        "    except ImportError:\n"
        "        from pyspark.sql import DataFrame\n"
        "    monkeypatch.setattr(DataFrame, 'write', property(lambda s: None))\n"
        "    monkeypatch.setattr(type(df), 'collect', None)\n"
    )
    assert vacuous_dataframe_patches(classic) == []
