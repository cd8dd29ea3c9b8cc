"""The annotate stage: documents → documents + ``entities`` array column.

Implemented as ``mapInPandas`` — Arrow-batched, per-partition client reuse,
in-batch thread concurrency for HTTP latency hiding (the Spark-native
replacement for the reference's 128-thread executor,
ingester/annotations_indexer.py:311,860). This is the engine's only hot-path
Python boundary; everything upstream (filters, anti-join) and downstream
(explode, projection, dedup) is JVM-side, so plan construction keeps this
stage as late and as narrow as possible (SURVEY §4 "UDF-barrier placement").

Scale posture: at 100 TB the stage is embarrassingly parallel — no shuffle,
state, or skew; throughput = executors × per-partition HTTP concurrency.
Failed calls yield ``entities = NULL`` (not an error), leaving rows
eligible for reprocessing on the next run (B3 semantics).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from annotations_ingester_spark.annotator.service import Annotator
from annotations_ingester_spark.pyfiles import (
    ensure_worker_imports,
    trim_worker_import_cache,
)
from annotations_ingester_spark.types import annotated_schema


def annotate(
    df: DataFrame,
    annotator_factory: Callable[[], Annotator],
    text_field: str = "text",
    docid_field: str = "doc_id",
    mode: str = "medcat",
    parallelism: int | str | None = "auto",
) -> DataFrame:
    """Append an ``entities`` array<struct> column produced by the annotator.

    ``annotator_factory`` is called once per partition on the executor
    (clients — HTTP sessions, pools — are not picklable; factories are).

    ``parallelism``: the annotate stage is the expensive, latency-bound one
    (the reference gave it 128 threads, annotations_indexer.py:311); its
    parallelism must not be gated on the source's file-split count (a
    small parquet corpus reads as ONE partition → one core). "auto"
    round-robin-repartitions to the cluster's default parallelism — the
    shuffle is trivially cheap next to per-row Python/HTTP work. Pass an
    int to pin it, or None to keep the scan partitioning.
    """
    ensure_worker_imports(df.sparkSession)
    if parallelism == "auto":
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    elif isinstance(parallelism, int):
        df = df.repartition(parallelism)
    out_schema = annotated_schema(df.schema, mode=mode)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_worker_import_cache()
        client = annotator_factory()
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(entities=pd.Series([], dtype=object))
                continue
            ents: list[list[dict[str, Any]] | None] = client.annotate_batch(
                pdf[docid_field].tolist(), pdf[text_field].tolist()
            )
            out = pdf.copy()
            out["entities"] = pd.Series(ents, index=pdf.index, dtype=object)
            yield out

    return df.mapInPandas(run, schema=out_schema)
