"""``trim_worker_import_cache``: what it leaves on the driver and in a Python
worker, and that the ingest path's worker functions call it first.

Structure, not timings: the per-task cost it removes is measured by
``perfbench`` (``es_rest.scroll_s``, ``annotator.stage_s``,
``es_rest.bulk_s``)."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pandas as pd

from annotations_ingester_spark.pyfiles import (
    ensure_worker_imports,
    trim_worker_import_cache,
)

PKG = Path(__file__).resolve().parents[1] / "annotations_ingester_spark"

# modules of packages a worker has already imported, so their imports go
# through the sub-package path entries the trim dropped; the task imports
# the first one its worker has not imported yet
PYSPARK_FRESH = (
    "pyspark.sql.tvf",
    "pyspark.sql.geo_utils",
    "pyspark.sql.merge",
    "pyspark.sql.sql_formatter",
    "pyspark.sql.metrics",
    "pyspark.sql.datasource_internal",
)
# loaded straight from the zip ``ensure_worker_imports`` ships, whichever
# copy of the package the worker imported (its cwd can hold one too)
ENGINE_MODULE = "annotations_ingester_spark.operators.sketches"


def test_driver_call_changes_nothing():
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    trim_worker_import_cache()
    assert sys.path == path
    assert sys.path_importer_cache == cache


def test_worker_task_keeps_only_archive_roots_and_still_imports(spark):
    # nested, so the task is pickled by value: workers cannot import tests/
    def trimmed_task(batches):
        import importlib
        import importlib.machinery
        import importlib.util
        import os
        import zipimport

        trim_worker_import_cache()
        prefixed = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter) and v.prefix
        ]
        jars = [p for p in sys.path if p.endswith(".jar")]
        fresh = [m for m in PYSPARK_FRESH if m not in sys.modules]
        mod = importlib.import_module(fresh[0])
        imported = [f"{mod.__name__}@{mod.__file__}"]
        shipped = next(
            p
            for p in sys.path
            if os.path.basename(p).startswith("annotations_ingester_spark_")
            and p.endswith(".zip")
        )
        pkg_dir = os.path.join(shipped, *ENGINE_MODULE.split(".")[:-1])
        spec = importlib.machinery.PathFinder.find_spec(ENGINE_MODULE, [pkg_dir])
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        imported.append(f"{mod.__name__}@{mod.__file__}")
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "prefixed": [len(prefixed)] * len(pdf),
                    "jars": [len(jars)] * len(pdf),
                    "pyspark_mod": [imported[0]] * len(pdf),
                    "engine_mod": [imported[1]] * len(pdf),
                }
            )

    ensure_worker_imports(spark)
    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(
            trimmed_task,
            "prefixed long, jars long, pyspark_mod string, engine_mod string",
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.prefixed == 0, r
        assert r.jars == 0, r
        # a fresh import after the trim found its module: a name@file pair
        assert r.pyspark_mod.startswith("pyspark.sql."), r
        assert r.engine_mod.startswith(f"{ENGINE_MODULE}@"), r
        assert ".zip/annotations_ingester_spark/" in r.engine_mod, r


def _first_statement_calls(path: Path, fn_name: str) -> str:
    tree = ast.parse(path.read_text())
    fns = [
        n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == fn_name
    ]
    assert len(fns) == 1, f"{path.name}: expected one {fn_name}()"
    first = fns[0].body[0]
    assert isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
    return ast.unparse(first.value.func)


def test_ingest_worker_functions_trim_first():
    for module, fn_name in (
        ("sources/es_rest.py", "fetch"),
        ("annotator/udf.py", "run"),
        ("sources/es_rest.py", "write_partition"),
    ):
        called = _first_statement_calls(PKG / module, fn_name)
        assert called == "trim_worker_import_cache", f"{module}:{fn_name}"
