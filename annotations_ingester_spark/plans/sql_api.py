"""SQL surface: register the corpus tables + engine-derived views so the
whole engine is drivable from ``spark.sql`` (Catalyst produces the same
plans either way — SURVEY §3.4 entry point parity).

``register_tables`` exposes the raw tables; ``register_engine_views`` adds
derived views (valid_documents, annotations_flat, doc_fingerprints) so SQL
users query pipeline outputs like tables.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from annotations_ingester_spark.plans.catalog import events_table, table

TABLES = (
    "region nation customer supplier part orders lineitem documents embeddings".split()
)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    events_table(spark, sf_dir).createOrReplaceTempView("events")


def register_engine_views(spark: SparkSession, sf_dir: str) -> None:
    from annotations_ingester_spark.annotator.fake import DeterministicFakeAnnotator
    from annotations_ingester_spark.operators.dedup import bag_fingerprints
    from annotations_ingester_spark.operators.filters import valid_text_filter
    from annotations_ingester_spark.plans.pipeline import flat_annotations

    register_tables(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    valid_text_filter(docs, "text").createOrReplaceTempView("valid_documents")
    flat_annotations(
        docs, lambda: DeterministicFakeAnnotator("medcat"), dotted=False
    ).createOrReplaceTempView("annotations_flat")
    bag_fingerprints(docs).createOrReplaceTempView("doc_fingerprints")
