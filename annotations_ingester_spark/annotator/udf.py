"""The annotate stage: documents → documents + ``entities`` array column.

Implemented as ``mapInPandas`` — Arrow-batched, one client per task, and
in-batch thread concurrency for HTTP latency hiding (the Spark-native
replacement for the reference's 128-thread executor,
ingester/annotations_indexer.py:311,860). This is the engine's only hot-path
Python boundary; everything upstream (filters, anti-join) and downstream
(explode, projection, dedup) is JVM-side, so plan construction keeps this
stage as late and as narrow as possible (SURVEY §4 "UDF-barrier placement").

Concurrency has one bound. Each running task gets its own Python worker
process (a reused worker runs one task at a time) and builds its own
client, so calls in flight are at most running tasks × the client's pool
size (``threads``, capped by ``max-in-flight``).

Scale posture: at 100 TB the stage is embarrassingly parallel — no shuffle,
state, or skew; throughput = executors × per-task HTTP concurrency.
Failed calls yield ``entities = NULL`` (not an error), leaving rows
eligible for reprocessing on the next run (B3 semantics).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from annotations_ingester_spark.annotator.service import Annotator
from annotations_ingester_spark.pyfiles import map_in_pandas
from annotations_ingester_spark.types import annotated_schema


def annotate(
    df: DataFrame,
    annotator_factory: Callable[[], Annotator],
    text_field: str = "text",
    docid_field: str = "doc_id",
    mode: str = "medcat",
) -> DataFrame:
    """Append an ``entities`` array<struct> column produced by the annotator.

    ``annotator_factory`` is called once per task on the executor
    (clients — HTTP sessions, pools — are not picklable; factories are).

    The input is round-robin repartitioned to the cluster's default
    parallelism first: the annotate stage is the expensive, latency-bound
    one (the reference gave it 128 threads, annotations_indexer.py:311),
    and its parallelism must not follow the source's split count (a small
    parquet corpus reads as ONE partition → one core). The shuffle is
    trivially cheap next to per-row Python/HTTP work.
    """
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    out_schema = annotated_schema(df.schema, mode=mode)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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

    return map_in_pandas(df, run, out_schema)
