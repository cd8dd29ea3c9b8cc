"""Sink writes (the parquet backend's W1/W2/W4 ``write``) and the
Structured Streaming variant (stream == batch result; checkpointed
foreachBatch)."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotations_ingester_spark.annotator.fake import DeterministicFakeAnnotator
from annotations_ingester_spark.config import ConnectorConfig
from annotations_ingester_spark.plans.pipeline import AnnotationPipeline, flat_annotations
from annotations_ingester_spark.sources import parquet
from annotations_ingester_spark.streaming.pipeline import (
    file_stream,
    run_stream_foreach_batch,
    run_stream_to_memory,
)

MEDCAT_FIELDS = ["id", "cui", "types", "start", "end"]


# a lambda (pickled by value) — a module-level def would be pickled by
# reference to the tests module, which Spark's Python workers can't import
fake = lambda: DeterministicFakeAnnotator("medcat")  # noqa: E731


def _write(df, path, split_suffix_field=None):
    parquet.write(
        df,
        ConnectorConfig(index_name=path),
        mapping_id="row_id",
        upsert=False,
        split_suffix_field=split_suffix_field,
    )


def test_write_flat_roundtrip(docs_df, spark, tmp_path):
    out = flat_annotations(docs_df, fake, ann_fields=MEDCAT_FIELDS, dotted=False)
    path = str(tmp_path / "flat")
    _write(out, path)
    assert spark.read.parquet(path).count() == out.count()
    _write(out, path)  # W1 appends
    assert spark.read.parquet(path).count() == 2 * out.count()


def test_write_partitioned_prunes(docs_df, spark, tmp_path):
    import os

    out = flat_annotations(
        docs_df, fake, ann_fields=["cui", "types"], split_by_field="types",
        dotted=False,
    )
    path = str(tmp_path / "split")
    _write(out, path, split_suffix_field="index_suffix")
    assert any(d.startswith("index_suffix=") for d in os.listdir(path))
    back = spark.read.parquet(path)
    one_type = back.filter(F.col("index_suffix") == "type1")
    # partition pruning: the physical scan only lists the matching directory
    assert "index_suffix=type1" in one_type._jdf.queryExecution().executedPlan().toString() or \
        one_type.count() == out.filter(F.col("index_suffix") == "type1").count()


def test_stream_matches_batch(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"stream document number {i} with text") for i in range(20)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    out = flat_annotations(
        file_stream(spark, src, docs.schema), fake, ann_fields=MEDCAT_FIELDS,
        dotted=False,
    )
    assert out.isStreaming
    got = run_stream_to_memory(out, "t_stream")
    batch = flat_annotations(docs, fake, ann_fields=MEDCAT_FIELDS, dotted=False)
    assert sorted(r["row_id"] for r in got.collect()) == sorted(
        r["row_id"] for r in batch.collect()
    )


def test_stream_foreach_batch_checkpointed(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"stream document number {i} with text") for i in range(5)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src2")
    docs.write.parquet(src)
    sink = str(tmp_path / "sink")
    out = flat_annotations(
        file_stream(spark, src, docs.schema), fake, ann_fields=MEDCAT_FIELDS,
        dotted=False,
    )
    run_stream_foreach_batch(
        out, lambda df, epoch: df.write.mode("append").parquet(sink), str(tmp_path / "ckpt")
    )
    assert spark.read.parquet(sink).count() == flat_annotations(
        docs, fake, ann_fields=MEDCAT_FIELDS, dotted=False
    ).count()


def test_nested_mode_writer(docs_df, spark, tmp_path):
    pipe = AnnotationPipeline(fake)
    nested = pipe.nested(docs_df)
    path = str(tmp_path / "nested")
    parquet.write(
        nested, ConnectorConfig(index_name=path),
        mapping_id="ann_doc_id", upsert=True, split_suffix_field=None,
    )
    back = spark.read.parquet(path)
    assert back.filter(F.size("annotations") > 0).count() == nested.count()


def test_stream_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Kill-and-resume semantics: a second query started on the SAME
    checkpoint must process only source files that arrived after the first
    run — nothing re-emitted, nothing lost. This is the recovery contract a
    100 TB continuous ingest depends on (reference behavior: rerun resumes
    from the processed-id anti-join; stream form: checkpoint offsets)."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    first = spark.createDataFrame(
        [(i, f"first batch {i}") for i in range(10)], "doc_id long, text string"
    )
    first.write.mode("append").parquet(src)
    run_once()
    assert spark.read.parquet(sink).count() == 10

    second = spark.createDataFrame(
        [(i, f"second batch {i}") for i in range(10, 15)], "doc_id long, text string"
    )
    second.write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(sink)
    assert got.count() == 15  # 10 + 5: first batch not reprocessed
    assert got.select("doc_id").distinct().count() == 15  # and no duplicates


def test_schema_evolution_merge_read(spark, tmp_path):
    """A long-lived corpus accretes columns; readers must see the union
    schema with nulls for files written before a column existed, and
    filters on late-added columns must not error on old files."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(3, "gamma", "en")], "doc_id long, text string, lang string"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "en"}
    # predicate on the late-added column: old files contribute nothing, no error
    assert merged.filter(F.col("lang") == "en").count() == 1


def test_available_now_respects_max_files_per_trigger(spark, tmp_path):
    """Backpressure contract: availableNow with maxFilesPerTrigger drains
    the full backlog but in bounded micro-batches — the knob that keeps a
    catch-up run from loading an unbounded file list into one batch."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    for i in range(6):
        spark.createDataFrame([(i, f"doc {i}")], "doc_id long, text string").write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        stream.writeStream.option("checkpointLocation", ckpt)
        .format("parquet")
        .option("path", sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    assert spark.read.parquet(sink).count() == 6  # backlog fully drained
    batches = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
    assert len(batches) >= 3  # bounded micro-batches, not one giant batch
    assert max(batches) <= 2
