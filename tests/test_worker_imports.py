"""``trim_worker_import_cache``: what it leaves on the driver and in a Python
worker, and that every worker function the package runs calls it first.

Structure, not timings: the per-task cost it removes is measured by
``perfbench`` (``es_rest.scroll_s``, ``annotator.stage_s``,
``es_rest.bulk_s``)."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

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


def _first_statement_calls(fn: ast.FunctionDef) -> str:
    first = fn.body[0]
    assert isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
    return ast.unparse(first.value.func)


def _functions(tree: ast.AST, name: str) -> list[ast.FunctionDef]:
    return [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == name]


def test_worker_setup_lives_in_the_kernel():
    """Every ``mapInPandas`` in the package goes through
    ``pyfiles.map_in_pandas``, whose worker wrapper trims the import cache
    before the first batch; the one other worker entry point,
    ``write_es_rest``'s ``foreachPartition`` function, trims first too."""
    map_sites, trim_sites = set(), set()
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            called = ast.unparse(node.func)
            if called.endswith(".mapInPandas"):
                map_sites.add(rel)
            if called.split(".")[-1] == "trim_worker_import_cache":
                trim_sites.add(rel)
    assert map_sites == {"pyfiles.py"}, map_sites
    assert trim_sites == {"pyfiles.py", "sources/es_rest.py"}, trim_sites

    kernel = _functions(ast.parse((PKG / "pyfiles.py").read_text()), "map_in_pandas")
    assert len(kernel) == 1
    wrappers = [n for n in kernel[0].body if isinstance(n, ast.FunctionDef)]
    assert len(wrappers) == 1
    assert _first_statement_calls(wrappers[0]) == "trim_worker_import_cache"

    writer = _functions(ast.parse((PKG / "sources/es_rest.py").read_text()), "write_partition")
    assert len(writer) == 1
    assert _first_statement_calls(writer[0]) == "trim_worker_import_cache"


_AUDIO_SAMPLES = [((31 + i * 17) % 4096) - 2048 for i in range(256)]

FRESH_WORKER_CASES = {
    "image_gray_histogram_stats": (
        "from annotations_ingester_spark.multimodal.media import (\n"
        "    gray8_png, image_gray_histogram_stats)\n"
        "df = spark.createDataFrame([(1, bytearray(gray8_png(0xFF)))],\n"
        "                           'media_id long, payload binary')\n"
        "out = image_gray_histogram_stats(df)\n",
        [(1, 64, 8)],
    ),
    "audio_clipping_stats": (
        "from annotations_ingester_spark.multimodal.media import (\n"
        "    audio_clipping_stats, synth_pcm_wav)\n"
        "df = spark.createDataFrame([(1, bytearray(synth_pcm_wav(1)))],\n"
        "                           'media_id long, payload binary')\n"
        "out = audio_clipping_stats(df)\n",
        [
            (
                1,
                len(_AUDIO_SAMPLES),
                max(abs(s) for s in _AUDIO_SAMPLES),
                sum(abs(s) >= 2000 for s in _AUDIO_SAMPLES),
            )
        ],
    ),
    "running_user_totals": (
        "from annotations_ingester_spark.streaming.pipeline import (\n"
        "    file_stream, run_stream_to_memory)\n"
        "from annotations_ingester_spark.streaming.stateful import running_user_totals\n"
        "df = spark.createDataFrame([(1,), (1,), (2,)], 'user_id long')\n"
        "df.write.parquet('events')\n"
        "totals = running_user_totals(file_stream(spark, 'events', df.schema))\n"
        "out = run_stream_to_memory(totals, 'fresh_totals')\n",
        [(1, 2, 2), (2, 1, 1)],
    ),
}


@pytest.mark.parametrize("case", sorted(FRESH_WORKER_CASES))
def test_operators_ship_the_package_to_fresh_workers(case, tmp_path):
    """A library caller runs the operator from a fresh interpreter, where
    the package is neither installed nor in the workers' working
    directory: the operator ships the package itself, so the workers can
    unpickle the package functions its worker function calls."""
    code, expected = FRESH_WORKER_CASES[case]
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(PKG.parent)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        f"{code}"
        "print(sorted(tuple(r) for r in out.collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.splitlines()[-1] == str(expected)
