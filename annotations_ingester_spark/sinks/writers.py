"""Sink-side merge semantics (SURVEY §2.8) that go beyond one backend
write.

The plain W1/W2/W4 writes are each backend's ``write`` in ``sources``
(``sources.BACKENDS``): parquet appends (``partitionBy`` for a W2 split
sink), the connector and the REST fallback bulk-index with deterministic
ids. This module keeps the merges a parquet append cannot express:

- ``merge_annotation_sets`` → read-modify-write union+dedup of annotation
  sets (reference: painless scripted upsert, annotations_indexer.py:148-165);
- ``upsert_nested_foreach_batch`` → the W4 per-doc upsert of a streaming
  ``foreachBatch`` on a bucketed parquet sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from annotations_ingester_spark.sources.parquet import _is_path_missing


def merge_annotation_sets(
    existing: DataFrame, new: DataFrame, dedup_cols: list[str] | None = None
) -> DataFrame:
    """W3/U2: old ∪ new with whole-record dedup — the engine-side
    equivalent of the reference's scripted-upsert merge + canonical-JSON
    dedup (annotations_indexer.py:148-165; utils.py:16-19).

    Deterministic and idempotent: re-merging the same batch is a no-op.
    """
    merged = existing.unionByName(new, allowMissingColumns=True)
    keys = dedup_cols or [
        f.name for f in merged.schema.fields if f.dataType.typeName() != "map"
    ]
    return merged.dropDuplicates(keys)


NUM_UPSERT_BUCKETS = 64


def upsert_nested_foreach_batch(
    path: str, doc_key: str = "ann_doc_id", num_buckets: int = NUM_UPSERT_BUCKETS
):
    """Build a ``foreachBatch`` function implementing the W4 upsert on a
    *bucketed* parquet sink. The ES backend instead maps to
    ``es.write.operation=upsert`` with the doc-keyed id (J2 point semi-join
    done by the store; reference scripted upsert
    annotations_indexer.py:148-200).

    Layout: the sink is physically partitioned by
    ``bucket = pmod(hash(doc_key), num_buckets)``. Per micro-batch:

    1. the batch's touched buckets are computed (≤ ``num_buckets`` scalars
       on the driver — bounded, not data-sized);
    2. ONLY those buckets are read back (partition pruning skips the rest
       of the sink);
    3. old ∪ new rows merge on the deterministic (doc, entity-id) key with
       explicit new-wins priority (``max_by(entity, priority)``), so a
       changed payload under an existing id is replaced, never dropped —
       the parquet twin of the reference's whole-record canonical-JSON
       dedup (utils.py:16-19) which likewise never discards a changed
       record; then regroup per doc;
    4. dynamic partition overwrite rewrites only the touched bucket
       directories.

    Per-batch I/O is proportional to touched-buckets/sink, not sink size —
    the old read-everything / rewrite-everything (+ ``_tmp`` double write,
    which doubled I/O and could truncate the sink on a crash between the
    two writes) is gone. A transient read failure now propagates instead
    of being mistaken for the first batch.
    """

    def apply(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        b = batch.withColumn("bucket", F.pmod(F.hash(F.col(doc_key)), F.lit(num_buckets)))
        touched = [r["bucket"] for r in b.select("bucket").distinct().collect()]
        try:
            existing = spark.read.parquet(path)
        except AnalysisException as exc:
            if not _is_path_missing(exc):
                raise
            existing = None
        if existing is not None and "bucket" not in existing.columns:
            raise ValueError(
                f"sink at {path!r} uses the legacy unbucketed layout (no 'bucket' "
                "partition column); migrate once before streaming into it: read "
                "the old sink, add bucket = pmod(hash(doc_key), num_buckets), and "
                "rewrite with partitionBy('bucket') — see upsert_nested_foreach_batch"
            )
        if existing is not None:
            current = existing.filter(F.col("bucket").isin(touched))
            exploded_old = current.select(
                doc_key, "bucket", F.explode_outer("annotations").alias("entity")
            ).withColumn("_prio", F.lit(0))
            exploded_new = b.select(
                doc_key, "bucket", F.explode_outer("annotations").alias("entity")
            ).withColumn("_prio", F.lit(1))
            # new-wins merge: if an entity's payload changed under the same id
            # (annotator/model update), the incoming record must replace the
            # stored one — dropDuplicates would keep an arbitrary winner
            merged = (
                exploded_old.unionByName(exploded_new)
                .withColumn("_eid", F.col("entity.id"))
                .groupBy(doc_key, "bucket", "_eid")
                .agg(F.max_by("entity", "_prio").alias("entity"))
                .drop("_eid")
                .groupBy(doc_key, "bucket")
                .agg(F.collect_list("entity").alias("annotations"))
            )
        else:
            merged = b
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("bucket").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return apply
