"""End-to-end pipeline tests (SURVEY §5.4): W1-W4 ingest modes, filters,
guards, idempotency — hermetic (fake annotator, in-memory corpus)."""

from __future__ import annotations

from pyspark.sql import functions as F

from annotations_ingester_spark.annotator.fake import DeterministicFakeAnnotator
from annotations_ingester_spark.operators.antijoin import skip_processed
from annotations_ingester_spark.operators.filters import range_filter
from annotations_ingester_spark.plans.pipeline import AnnotationPipeline, flat_annotations


# a lambda (pickled by value) — a module-level def would be pickled by
# reference to the tests module, which Spark's Python workers can't import
fake = lambda: DeterministicFakeAnnotator("medcat")  # noqa: E731


def test_w1_filters_and_explodes(docs_df):
    out = flat_annotations(docs_df, fake, dotted=False).toPandas()
    # docs 2 (NULL), 3 (short), 7 (empty) filtered by P3
    assert set(out["meta_doc_id"]) <= {1, 4, 5, 6}
    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        4: "hello world this is a test document body",
        5: "exact duplicate text body right here okay",
        6: "exact duplicate text body right here okay",
    }
    for doc_id, text in texts.items():
        assert (out["meta_doc_id"] == doc_id).sum() == len(text) % 4
    assert (out["row_id"] == "doc-1-ann-0").any()
    # source_value is the text substring [start, end)
    r = out[(out["meta_doc_id"] == 1) & (out["nlp_id"] == 0)].iloc[0]
    assert r["nlp_source_value"] == "the "
    assert r["nlp_end"] - r["nlp_start"] == 4


def test_w1_failed_annotation_skips_row_not_job(spark):
    class HalfFailing:
        mode = "medcat"

        def annotate_batch(self, ids, texts):
            inner = DeterministicFakeAnnotator("medcat")
            return [
                None if i % 2 == 0 else e
                for i, e in zip(ids, inner.annotate_batch(ids, texts))
            ]

    docs = spark.createDataFrame(
        [(i, "some reasonable document text here") for i in range(10)],
        "doc_id long, text string",
    )
    out = flat_annotations(docs, HalfFailing, dotted=False).toPandas()
    # P6 guard: failed docs produce no rows but the job succeeds (B3)
    assert set(out["meta_doc_id"]) == {1, 3, 5, 7, 9}


def test_idempotent_rerun_dedups(docs_df, spark, tmp_path):
    # the plan writes a doubled corpus's rows twice; the parquet sink keeps
    # one per row_id (Elasticsearch does it through _id)
    from annotations_ingester_spark.config import ConnectorConfig
    from annotations_ingester_spark.sources import parquet

    def sunk(docs, name):
        conf = ConnectorConfig(index_name=str(tmp_path / name))
        parquet.write(
            flat_annotations(docs, fake, dotted=False),
            conf, mapping_id="row_id", upsert=False, split_suffix_field=None,
        )
        return spark.read.parquet(conf.index_name)

    once = sunk(docs_df, "once")
    twice = sunk(docs_df.unionByName(docs_df), "twice")
    assert once.count() == twice.count()


def test_skip_processed_anti_join(docs_df, spark):
    processed = spark.createDataFrame([(1,), (4,)], "doc_id long")
    out = flat_annotations(docs_df, fake, processed_ids=processed, dotted=False)
    assert set(out.toPandas()["meta_doc_id"]) == {5, 6}


def test_skip_processed_same_index_mode(spark):
    docs = spark.createDataFrame(
        [(1, [], "keep"), (2, [{"id": 1}], "skip"), (3, None, "keep")],
        "doc_id long, annotations array<struct<id:long>>, tag string",
    )
    kept = skip_processed(docs, annotations_col="annotations")
    assert set(r["doc_id"] for r in kept.collect()) == {1, 3}


def test_w2_split_suffix(docs_df):
    out = flat_annotations(
        docs_df, fake, ann_fields=["cui", "types"], split_by_field="types",
        dotted=False,
    ).toPandas()
    assert (out["index_suffix"] == out["nlp_types"]).all()  # already-normal names


def test_w4_nested_collects_per_doc(docs_df):
    pipe = AnnotationPipeline(fake)
    nested = pipe.nested(docs_df).toPandas().set_index("doc_id")
    assert nested.loc[1, "ann_doc_id"] == "doc_1_annotations"
    assert len(nested.loc[1, "annotations"]) == 43 % 4


def test_w4_nested_doc_held_twice_keeps_its_array(docs_df):
    """A doc the source holds twice keeps one entity per id: same array
    size, same ids, still one stored row (the sink keeps one row per
    ``ann_doc_id``, as ``parquet.stored`` does)."""
    from annotations_ingester_spark.sources import parquet

    pipe = AnnotationPipeline(fake)

    def stored(docs):
        return parquet.stored(
            pipe.nested(docs), mapping_id="ann_doc_id", split_suffix_field=None
        ).toPandas()

    once = stored(docs_df).set_index("doc_id")
    twice = stored(docs_df.unionByName(docs_df.filter("doc_id = 1")))
    assert (twice["doc_id"] == 1).sum() == 1
    twice = twice.set_index("doc_id")
    assert len(once.loc[1, "annotations"]) == 43 % 4
    for doc in once.index:
        ids = [e["id"] for e in twice.loc[doc, "annotations"]]
        assert sorted(ids) == sorted(e["id"] for e in once.loc[doc, "annotations"])


def test_windowed_pipeline_scopes_dates(spark):
    docs = spark.createDataFrame(
        [(1, "first window document text", "2020-01-05"),
         (2, "second window document text", "2020-03-05")],
        "doc_id long, text string, dct string",
    )
    pipe = AnnotationPipeline(fake)
    out = pipe.flat(range_filter(docs, "dct", "2020-01-01", "2020-01-31")).toPandas()
    assert set(out["meta.doc_id"]) == {1}


def test_gate_mode_end_to_end(docs_df):
    pipe = AnnotationPipeline(lambda: DeterministicFakeAnnotator("gate"), mode="gate")
    ann = pipe.annotated(docs_df)
    ex = ann.select("doc_id", F.explode("entities").alias("e")).toPandas()
    # sequential reassigned ids per doc (0..n-1)
    for _, grp in ex.groupby("doc_id"):
        ids = sorted(r["id"] for r in grp["e"])
        assert ids == list(range(len(ids)))
