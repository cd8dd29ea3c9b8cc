"""Structured Streaming twin of the batch pipeline (S7).

A stream is the batch plan over :func:`file_stream`, a parquet
file-source stream read ``availableNow``: the CLI's ``--stream`` builds its
configured plan (flat or W4, as the ingest mode says) over it, and the
catalog's ``streaming_w1_pipeline`` builds ``flat_annotations`` over it
and drains it with :func:`run_stream_to_memory`. In the CLI,
:func:`run_stream_foreach_batch` hands each micro-batch to the sink
backend's ``write``, as a batch run does: an Elasticsearch sink writes
each row under ``_id`` = its mapping id, so a replayed batch overwrites
itself; the parquet sink appends the batch's ``stored`` rows, so a batch
replayed after its write but before its checkpoint commit is appended
again. The checkpoint is the stream's resume ledger (no J1 read of the
sink). Each sink row comes from one source row, so no micro-batch holds
part of one, and the stream keeps no state (the watermarked operators
live in ``streaming/stateful.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def file_stream(
    spark: SparkSession, source_path: str, source_schema: T.StructType
) -> DataFrame:
    """A parquet file-source stream over a directory or a single
    ``.parquet`` file."""
    reader = spark.readStream.schema(source_schema)
    if source_path.endswith(".parquet"):
        # the file-stream source wants a directory; a single-file corpus
        # becomes its parent dir + a glob filter
        base, _, fname = source_path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        # a bare relative filename ('docs.parquet') has no separator —
        # its parent is the working directory, not the empty string
        source_path = base or "."
    return reader.parquet(source_path)


def run_stream_to_memory(
    out: DataFrame, query_name: str = "annotations_stream"
) -> DataFrame:
    """Drive the stream to completion over the currently-available input
    (availableNow) into an in-memory table; returns the result DataFrame.
    Used by tests and the driver's rows-only streaming check."""
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out.sparkSession.table(query_name)


def run_stream_foreach_batch(
    out: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Production shape: checkpointed ``foreachBatch``; the CLI's
    ``batch_fn`` is the sink backend's ``write``."""
    q = (
        out.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(batch_fn)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
