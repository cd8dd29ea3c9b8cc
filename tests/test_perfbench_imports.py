"""The benchmark in ``perfbench/`` imports the program it measures. Its
``--trace 1`` path builds clients and plans by calling package functions
directly, so a program change that drops a name or a keyword it passes
breaks the benchmark without breaking any other test. This pins that
surface statically: every repo-local ``from X import Y`` in
``perfbench/*.py`` resolves, and every keyword argument passed to an
imported callable is in its signature (unless it takes ``**kwargs``), and
every attribute read off a loaded ``PipelineConfig`` is a dataclass
field. The config perfbench writes loads without a warning."""

from __future__ import annotations

import ast
import dataclasses
import importlib
import importlib.util
import inspect
import sys
import typing
from pathlib import Path

from annotations_ingester_spark.config import PipelineConfig

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


def _config_type(node: ast.expr, names: dict[str, object], bound: dict[str, type]):
    """The config dataclass ``node`` evaluates to: a ``PipelineConfig.from_yaml``
    call, a name bound to one, or a dataclass-typed field of either; None
    for anything else. Asserts that each attribute read on the way is a
    field of its dataclass."""
    if isinstance(node, ast.Call):
        hit = _callee(node.func, names)
        return PipelineConfig if hit and hit[1] == PipelineConfig.from_yaml else None
    if isinstance(node, ast.Name):
        return bound.get(node.id)
    if not isinstance(node, ast.Attribute):
        return None
    owner = _config_type(node.value, names, bound)
    if owner is None:
        return None
    assert node.attr in {f.name for f in dataclasses.fields(owner)}, (
        f"line {node.lineno}: {owner.__name__} has no field {node.attr!r}"
    )
    hint = typing.get_type_hints(owner)[node.attr]
    return hint if dataclasses.is_dataclass(hint) else None


def test_perfbench_reads_only_config_fields():
    """Deleting a config field must not leave ``--trace 1`` reading it."""
    read: set[str] = set()
    for path in sorted(BENCH.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        _, names = _program_imports(tree)
        for func in ast.walk(tree):
            if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            bound: dict[str, type] = {}
            for _ in range(3):  # ``nlp = cfg.nlp`` needs ``cfg`` bound first
                for node in ast.walk(func):
                    if (
                        isinstance(node, ast.Assign)
                        and len(node.targets) == 1
                        and isinstance(node.targets[0], ast.Name)
                    ):
                        kind = _config_type(node.value, names, bound)
                        if kind is not None:
                            bound[node.targets[0].id] = kind
            for node in ast.walk(func):
                if isinstance(node, ast.Attribute) and _config_type(node.value, names, bound):
                    _config_type(node, names, bound)
                    read.add(node.attr)
    # teeth: the trace path's reads off the config and off its ``.nlp``
    assert {"threads", "docid_field", "nlp", "max_in_flight", "endpoints"} <= read


def test_perfbench_config_loads_without_warnings(tmp_path, caplog, monkeypatch):
    import logging

    monkeypatch.syspath_prepend(str(BENCH))
    spec = importlib.util.spec_from_file_location("perfbench_ingest", BENCH / "ingest.py")
    ingest = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, ingest)  # its dataclasses look it up
    spec.loader.exec_module(ingest)

    class Load:
        def url(self, name: str) -> str:
            return f"http://127.0.0.1:{9200 + len(name)}"

    for name, w in ingest.WORKLOADS.items():
        path = tmp_path / f"{name}.yml"
        ingest.write_config(str(path), Load(), w, ingest.SOURCE_INDEX)
        with caplog.at_level(logging.WARNING, logger="annotations_ingester_spark.config"):
            cfg = PipelineConfig.from_yaml(str(path))
        assert cfg.skip_processed_doc_check is w.resume
    assert caplog.records == []
