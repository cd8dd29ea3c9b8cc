"""The benchmark in ``perfbench/`` imports the program it measures. Its
``--trace 1`` path builds clients and plans by calling package functions
directly, so a program change that drops a name or a keyword it passes
breaks the benchmark without breaking any other test. This pins that
surface statically: every repo-local ``from X import Y`` in
``perfbench/*.py`` resolves, and every keyword argument passed to an
imported callable is in its signature (unless it takes ``**kwargs``)."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "perfbench"
# top-level packages of the checkout that perfbench imports from
PROGRAM = ("annotations_ingester_spark", "tools", "tests")


def _program_imports(tree: ast.Module) -> tuple[list[str], dict[str, object]]:
    """Modules imported with ``import X`` and names bound by ``from X
    import Y``; import failures propagate."""
    modules: list[str] = []
    names: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in PROGRAM:
                    importlib.import_module(alias.name)
                    modules.append(alias.name)
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.level or node.module.split(".")[0] not in PROGRAM:
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name), f"{node.module} has no {alias.name}"
                names[alias.asname or alias.name] = getattr(mod, alias.name)
    return modules, names


def _callee(func: ast.expr, names: dict[str, object]) -> tuple[str, object] | None:
    """The imported object a call's ``func`` names (``f`` or ``f.attr``),
    or None when it is not rooted at an imported name."""
    chain: list[str] = []
    while isinstance(func, ast.Attribute):
        chain.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in names:
        return None
    obj = names[func.id]
    for attr in reversed(chain):
        assert hasattr(obj, attr), f"{func.id} has no attribute {attr}"
        obj = getattr(obj, attr)
    return ".".join([func.id, *reversed(chain)]), obj


def test_perfbench_program_imports_and_keywords_resolve():
    checked: set[tuple[str, str]] = set()
    for path in sorted(BENCH.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        _, names = _program_imports(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            hit = _callee(node.func, names)
            if hit is None or not callable(hit[1]):
                continue
            label, obj = hit
            try:
                params = inspect.signature(obj).parameters
            except (TypeError, ValueError):  # builtins without a signature
                continue
            if any(p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()):
                continue
            for kw in node.keywords:
                if kw.arg is not None:  # ``**mapping`` cannot be checked
                    assert kw.arg in params, (
                        f"{path.name}:{node.lineno}: {label}() has no "
                        f"parameter {kw.arg!r}"
                    )
            checked.add((path.name, label))
    # teeth: the trace path's client construction is among the checked calls
    assert ("ingest.py", "HttpNlpClient") in checked
    assert ("ingest.py", "PipelineConfig.from_yaml") in checked
