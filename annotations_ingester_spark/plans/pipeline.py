"""The annotation pipeline as one declarative DataFrame plan (SURVEY §3.4).

    source → valid_text_filter (P3) → skip_processed (J1)
           → annotate (mapInPandas UDTF) → response_shape_guard (P6)
           → flat:   explode (W5) → prefix_project (F3/J3)   one row per entity
             nested: the doc row, its entities as ``annotations`` (W4)
           → sink (one row per mapping id, ``row_id`` or ``ann_doc_id``:
                   ``_id`` in Elasticsearch, ``dropDuplicates`` in parquet)

Plan-construction discipline (SURVEY §4): everything above ``annotate`` is a
Column predicate/join Catalyst can push into the scan; everything below is
JVM-side projection. The expensive Python stage sees only rows that will
actually be written. No Exchange follows the annotate stage: a repeated
mapping id (the same doc read twice) is absorbed where it is stored, so
each annotate task builds and writes its own rows in the same stage.

Unlike the reference — which collects every doc id into a driver-side list
(ingester/es_common.py:290-292) and loops a thread pool over point lookups —
no id list ever materializes on the driver; the whole flow is one
distributed plan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from annotations_ingester_spark.annotator.service import Annotator
from annotations_ingester_spark.annotator.udf import annotate
from annotations_ingester_spark.operators.antijoin import skip_processed
from annotations_ingester_spark.operators.explode import (
    explode_entities,
    prefix_project,
    split_index_suffix,
)
from annotations_ingester_spark.operators.filters import (
    response_shape_guard,
    valid_text_filter,
)


def annotated_docs(
    docs: DataFrame,
    annotator_factory: Callable[[], Annotator],
    text_field: str,
    docid_field: str,
    mode: str,
    processed_ids: DataFrame | None,
) -> DataFrame:
    """The stages every ingest mode shares: text filter (P3) → skip
    processed (J1) → annotate → response shape guard (P6). One row per
    document with its ``entities`` array."""
    plan = valid_text_filter(docs, text_field)
    plan = skip_processed(plan, processed_ids, docid_field=docid_field)
    plan = annotate(plan, annotator_factory, text_field, docid_field, mode)
    return response_shape_guard(plan)


def flat_annotations(
    docs: DataFrame,
    annotator_factory: Callable[[], Annotator],
    text_field: str = "text",
    docid_field: str = "doc_id",
    persist_fields: list[str] | None = None,
    mode: str = "medcat",
    ann_fields: list[str] | None = None,
    processed_ids: DataFrame | None = None,
    split_by_field: str | None = None,
    dotted: bool = True,
    ann_id_field: str = "id",
) -> DataFrame:
    """W1 separate-index flat path: one row per (doc × entity) with
    ``meta.*``/``nlp.*`` columns and deterministic ``row_id``.

    With ``split_by_field`` also appends the W2 ``index_suffix`` partition
    column. A doc the source holds twice yields its rows twice: every
    other column is a deterministic function of the (doc, entity-id) pair
    ``row_id`` encodes (functions/names.py:46, reference
    annotations_indexer.py:221), so the sink keeps one row per ``row_id``
    (+ ``index_suffix``) and that is U2 whole-record distinct (the
    reference's canonical-JSON set dedup, ingester/utils.py:16-19).
    """
    plan = explode_entities(
        annotated_docs(docs, annotator_factory, text_field, docid_field, mode, processed_ids)
    )
    extra: list[str] = []
    if split_by_field:
        plan = split_index_suffix(plan, split_by_field)
        extra = ["index_suffix"]
    return prefix_project(
        plan,
        persist_fields=persist_fields or [docid_field],
        docid_field=docid_field,
        ann_fields=ann_fields,
        dotted=dotted,
        extra_cols=extra,
        ann_id_field=ann_id_field,
    )


class AnnotationPipeline:
    """Config-driven batch pipeline (the reference's BatchAnnotationsIndexer
    surface, ingester/annotations_indexer.py:842-861, re-expressed as plans)."""

    def __init__(
        self,
        annotator_factory: Callable[[], Annotator],
        text_field: str = "text",
        docid_field: str = "doc_id",
        persist_fields: list[str] | None = None,
        mode: str = "medcat",
        ann_id_field: str = "id",
    ) -> None:
        self.annotator_factory = annotator_factory
        self.text_field = text_field
        self.docid_field = docid_field
        self.persist_fields = persist_fields or [docid_field]
        self.mode = mode
        self.ann_id_field = ann_id_field

    def annotated(self, docs: DataFrame, processed_ids: DataFrame | None = None) -> DataFrame:
        """Filtered + annotated + guarded doc-level DataFrame (entities array)."""
        return annotated_docs(
            docs, self.annotator_factory, self.text_field, self.docid_field, self.mode,
            processed_ids,
        )

    def flat(self, docs: DataFrame, **kw) -> DataFrame:
        return flat_annotations(
            docs,
            self.annotator_factory,
            text_field=self.text_field,
            docid_field=self.docid_field,
            persist_fields=self.persist_fields,
            mode=self.mode,
            ann_id_field=self.ann_id_field,
            **kw,
        )

    def nested(
        self, docs: DataFrame, processed_ids: DataFrame | None = None
    ) -> DataFrame:
        """W4: one row per document with an entity, its ``entities`` as the
        ``annotations`` array (reference: doc_{id}_annotations sink docs,
        annotations_indexer.py:166-200); no explode, no group.
        ``processed_ids`` threads the J1 anti-join through, as in the flat
        path. The array keeps one entity per ``ann_id_field``; a doc the
        source holds twice yields two rows with one ``ann_doc_id``, and the
        sink keeps one."""
        eid = self.ann_id_field
        # an entity is kept unless an earlier one in the array has its id
        annotations = F.filter(
            "entities",
            lambda e, i: ~F.exists(F.slice("entities", 1, i), lambda p: p[eid].eqNullSafe(e[eid])),
        )
        return (
            self.annotated(docs, processed_ids=processed_ids)
            .filter(F.size("entities") > 0)
            .select(
                *dict.fromkeys([self.docid_field, *self.persist_fields]),
                annotations.alias("annotations"),
                F.format_string(
                    "doc_%s_annotations", F.col(self.docid_field).cast("string")
                ).alias("ann_doc_id"),
            )
        )
