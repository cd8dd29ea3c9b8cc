"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All queries live in the engine's catalog
(``annotations_ingester_spark/plans/queries*.py``) — one entry per operator
in SURVEY.md §2 plus the north-star training-data operators.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _registry():
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parent)
    if root not in sys.path:
        sys.path.insert(0, root)
    from annotations_ingester_spark.plans.queries import REGISTRY

    return REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the W1 separate-index flat annotation pipeline
    (filter → mapInPandas annotate → explode → meta./nlp. projection)
    over /root/testdata/sf0.001 documents."""
    return _registry()["pipeline_w1_flat_medcat"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star),
    in registry order — every name holds a fully green row in a committed
    CORRECTNESS_r*.json (pinned by tests/test_registry_complete.py)."""
    return {name: spec.spark for name, spec in _registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every oracle-checkable query."""
    return {
        name: spec.oracle
        for name, spec in _registry().items()
        if spec.oracle is not None
    }
