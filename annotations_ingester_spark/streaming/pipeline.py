"""Structured Streaming twin of the batch pipeline (S7).

The CLI's ``--stream`` runs the batch plan (flat or W4, as the config's
ingest mode says) over :func:`file_stream`, a parquet file-source stream
read ``availableNow``. :func:`run_stream_foreach_batch` hands each
micro-batch to the sink backend's ``write``, as a batch run does: an
Elasticsearch sink writes each row under ``_id`` = its mapping id, so a
replayed batch overwrites itself; the parquet sink appends the batch's
``stored`` rows, so a batch replayed after its write but before its
checkpoint commit is appended again. The checkpoint is the stream's
resume ledger (no J1 read of the sink). Each sink row comes from one
source row, so no micro-batch holds part of one, and the stream keeps no
state (the watermarked operators live in ``streaming/stateful.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from annotations_ingester_spark.annotator.service import Annotator
from annotations_ingester_spark.plans.pipeline import flat_annotations


def file_stream(
    spark: SparkSession,
    source_path: str,
    source_schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A parquet file-source stream over a directory or a single
    ``.parquet`` file."""
    reader = spark.readStream.schema(source_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if source_path.endswith(".parquet"):
        # the file-stream source wants a directory; a single-file corpus
        # becomes its parent dir + a glob filter
        base, _, fname = source_path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        # a bare relative filename ('docs.parquet') has no separator —
        # its parent is the working directory, not the empty string
        source_path = base or "."
    return reader.parquet(source_path)


def stream_annotations(
    spark: SparkSession,
    source_path: str,
    source_schema: T.StructType,
    annotator_factory: Callable[[], Annotator],
    text_field: str = "text",
    docid_field: str = "doc_id",
    mode: str = "medcat",
    ann_fields: list[str] | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The streaming W1 plan with underscore column names (``meta_doc_id``,
    ``nlp_*``): a file-source stream through the same filter → annotate →
    explode → project plan as batch. The CLI's ``--stream`` instead runs
    its configured ``AnnotationPipeline.flat`` over :func:`file_stream`, so
    its rows match a batch run's."""
    return flat_annotations(
        file_stream(spark, source_path, source_schema, max_files_per_trigger),
        annotator_factory,
        text_field=text_field,
        docid_field=docid_field,
        mode=mode,
        ann_fields=ann_fields,
        dotted=False,
    )


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
