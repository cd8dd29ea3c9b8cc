"""The engine's one ``mapInPandas`` kernel: it ships the package to Spark's
Python workers and trims a reused worker's import cache before the first
batch. Every ``mapInPandas`` in the package goes through
:func:`map_in_pandas`.

Factories/classes referenced inside mapInPandas closures are pickled *by
reference* to this package, so executor Python workers must be able to
import it. On a real cluster that's ``--py-files``; here we zip the package
once per session and ``addPyFile`` it — making every plan independent of
the driver process's cwd/PYTHONPATH.

Python workers are reused across tasks, and PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``pyspark/worker_util.py``, ``setup_spark_files``). Before CPython 3.13
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory, eagerly: one importer per
archive root *and* one per sub-package imported from it. A warm worker
holds about 17 — a dozen for ``pyspark.zip``, two for the py4j zip, one or
two for the engine zip, and two for the ``spark-core`` jar that Spark puts
on every worker's ``PYTHONPATH`` — which costs 150–270 ms of CPU per task
before any user code runs. CPython 3.13 made ``invalidate_caches`` lazy.

:func:`trim_worker_import_cache` brings a worker back to one importer per
archive root. Dropping a sub-package importer is safe: the import system
rebuilds it on demand from zipimport's shared directory cache, which the
root importer keeps filled, without re-reading the archive. Dropping an
archive that holds no Python module (in practice the ``spark-core`` jar:
thousands of class files, not one ``.py``) from ``sys.path`` is safe
because nothing could ever be imported from it.
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import zipfile
import zipimport
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

if TYPE_CHECKING:
    # annotations only: ``write_es_rest``'s row-based workers import this
    # module too, and would otherwise load pandas for nothing
    import pandas as pd

_SENT_APP_IDS: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _SENT_APP_IDS:
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    zpath = os.path.join(
        tempfile.gettempdir(), f"annotations_ingester_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_root):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, parent))
    spark.sparkContext.addPyFile(zpath)
    _SENT_APP_IDS.add(app_id)


@functools.cache
def _holds_no_python(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as zf:
            return not any(n.endswith((".py", ".pyc")) for n in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return False


def trim_worker_import_cache() -> None:
    """Cut the per-task ``importlib.invalidate_caches()`` cost of the
    Python worker this runs in (see the module docstring): drop every
    sub-package zipimporter from ``sys.path_importer_cache``, and drop
    archives that hold no Python module from the cache and ``sys.path``.

    :func:`map_in_pandas` calls it first in every worker function, and
    ``write_es_rest`` first in its ``foreachPartition`` one. It runs on
    every call — the loop costs microseconds and also prunes importers
    that the task's own imports re-created — and does nothing on the
    driver or on CPython ≥ 3.13. Delete it once ``requires-python`` is ≥ 3.13.
    """
    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        if finder.prefix:
            del cache[path]
        elif _holds_no_python(finder.archive):
            del cache[path]
            while path in sys.path:
                sys.path.remove(path)


def map_in_pandas(
    df: DataFrame,
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    schema: T.StructType,
) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` with the worker set-up done once, here:
    the package is shipped to the workers (once per application), and each
    worker trims its import cache before ``fn`` sees the first batch."""
    ensure_worker_imports(df.sparkSession)

    @functools.wraps(fn)  # plans name the worker function, not the wrapper
    def trimmed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_worker_import_cache()
        yield from fn(batches)

    return df.mapInPandas(trimmed, schema=schema)
