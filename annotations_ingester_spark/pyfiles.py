"""Self-distribution of the engine package to Spark Python workers, and the
import-cache trim that keeps a reused worker's per-task set-up cheap.

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

from pyspark import TaskContext
from pyspark.sql import SparkSession

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

    Call it first in every hot-path worker function. It runs on every call
    — the loop costs microseconds and also prunes importers that the
    task's own imports re-created — and does nothing on the driver or on
    CPython ≥ 3.13. Delete it once ``requires-python`` is ≥ 3.13.
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
