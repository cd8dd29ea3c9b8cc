"""Structured Streaming annotation pipeline.

The reference's batch-windowed driver loop (B1) + retry-next-run semantics
(B3) map onto Structured Streaming directly (BASELINE.json approach:
"Structured Streaming + Elasticsearch sink"):

- source       → ``readStream`` (file source here; Kafka in production)
- B1 windows   → event-time ``window()`` aggregations with watermarks
- B2 idempotent→ checkpointing + deterministic row ids + idempotent sink
  (ES ``es.mapping.id`` upsert / parquet overwrite-by-id in foreachBatch)
- B3 late data → watermark + ``dropDuplicatesWithinWatermark`` — the
  *bounded-state* dedup (an unbounded ``dropDuplicates`` would OOM the
  state store at 100 TB; the watermark gives state TTL, SURVEY §7.4.4)

The same ``flat_annotations`` plan builds the per-batch transformation —
batch and streaming share one code path, so correctness transfers.
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
    """Production shape: checkpointed ``foreachBatch`` into an idempotent
    sink (ES upsert with deterministic ids, or parquet merge)."""
    q = (
        out.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(batch_fn)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
