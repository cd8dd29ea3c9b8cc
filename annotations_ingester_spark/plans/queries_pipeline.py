"""Pipeline queries: the reference's end-to-end dataflow (filter → annotate →
explode → prefix → dedup → sink shapes W1-W4, both NLP modes, windowed B1)
run with the deterministic fake annotator so a DuckDB oracle can recompute
the exact expected output (see annotator/fake.py for the entity rule).

These exercise the REAL plumbing — mapInPandas enrichment, envelope
normalization, explode, prefix projection, dedup — not a SQL shortcut.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from annotations_ingester_spark.annotator.fake import DeterministicFakeAnnotator
from annotations_ingester_spark.plans.catalog import register, table
from annotations_ingester_spark.plans.pipeline import AnnotationPipeline, flat_annotations
from annotations_ingester_spark.types import MEDCAT_ENTITY

# MedCAT flat fields projected in oracle-checked queries (meta_anns is a map —
# kept in the engine schema, omitted from hash-compared projections).
MEDCAT_FLAT_FIELDS = [
    f.name for f in MEDCAT_ENTITY.fields if not isinstance(f.dataType, T.MapType)
]

# Shared oracle CTEs: valid docs + recomputed fake-MedCAT entities.
DOCS_CTE = """docs AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) >= 5)"""

ENTS_CTE = """ents AS (
  SELECT d.doc_id, e.i,
         'C' || lpad(((d.doc_id * 13 + e.i * 7) % 1000)::VARCHAR, 7, '0') AS cui,
         'T' || lpad(((d.doc_id + e.i) % 100)::VARCHAR, 3, '0') AS tuis,
         'type' || ((d.doc_id + e.i) % 5)::VARCHAR AS types,
         substr(d.text, ((e.i * 17) % (length(d.text) - 4)) + 1, 4) AS sv,
         ((e.i * 17) % (length(d.text) - 4))::BIGINT AS ann_start,
         ((d.doc_id * 31 + e.i * 17) % 100) / 100.0 AS acc
  FROM docs d, (SELECT unnest(range(0, 4)) AS i) e
  WHERE e.i < length(d.text) % 4)"""

FLAT_SELECT = """SELECT
  'doc-' || doc_id::VARCHAR || '-ann-' || i::VARCHAR AS row_id,
  doc_id AS "meta.doc_id",
  i AS "nlp.id", cui AS "nlp.cui", tuis AS "nlp.tuis", types AS "nlp.types",
  'concept ' || cui AS "nlp.pretty_name",
  replace(lower(sv), ' ', '~') AS "nlp.detected_name",
  sv AS "nlp.source_value",
  ann_start AS "nlp.start", ann_start + 4 AS "nlp.end",
  acc AS "nlp.acc", acc AS "nlp.context_similarity",
  '2026-01-01T00:00:00' AS "nlp.timestamp"
FROM ents"""

W1_ORACLE = f"WITH {DOCS_CTE}, {ENTS_CTE} {FLAT_SELECT}"


@register(
    "pipeline_w1_flat_medcat",
    W1_ORACLE,
    doc="Slice 0 / W1 separate-index flat path end-to-end "
    "(annotations_indexer.py:201-227): P3 filter → mapInPandas MedCAT "
    "annotate → P6 guard → W5 explode → F3 meta./nlp. projection + F2 "
    "row ids. The annotate barrier sees only filtered rows (SURVEY §4.1).",
)
def w1(spark: SparkSession, sf: str):
    return flat_annotations(
        table(spark, sf, "documents"),
        lambda: DeterministicFakeAnnotator("medcat"),
        ann_fields=MEDCAT_FLAT_FIELDS,
        dotted=True,
    )


@register(
    "pipeline_w2_split_by_type",
    f"""WITH {DOCS_CTE}, {ENTS_CTE}
    SELECT 'doc-' || doc_id::VARCHAR || '-ann-' || i::VARCHAR AS row_id,
           doc_id AS "meta.doc_id", cui AS "nlp.cui", types AS "nlp.types",
           types AS index_suffix,
           'annotations-' || types AS sink_index
    FROM ents""",
    doc="W2 partitioned sink routing: per-entity index suffix from the "
    "normalized split field (annotations_indexer.py:214-218; name rules "
    "es_common.py:116-131) — feeds partitionBy / ES resource {type}.",
)
def w2(spark: SparkSession, sf: str):
    out = flat_annotations(
        table(spark, sf, "documents"),
        lambda: DeterministicFakeAnnotator("medcat"),
        ann_fields=["cui", "types"],
        split_by_field="types",
        dotted=True,
    )
    return out.withColumn(
        "sink_index", F.concat_ws("-", F.lit("annotations"), F.col("index_suffix"))
    )


@register(
    "pipeline_w3_same_index_merge",
    f"""WITH {DOCS_CTE}, {ENTS_CTE},
    existing AS (
      SELECT doc_id, 'EXIST-' || doc_id::VARCHAR AS cui
      FROM documents WHERE doc_id % 7 = 0),
    merged AS (
      SELECT doc_id, cui FROM existing
      UNION
      SELECT doc_id, cui FROM ents)
    SELECT doc_id, count(*) AS n_annotations,
           string_agg(cui, ',' ORDER BY cui) AS cuis
    FROM merged GROUP BY doc_id""",
    doc="W3 same-index merge: old ∪ new annotation sets with whole-record "
    "dedup (annotations_indexer.py:148-165; utils.py:16-19), grouped back "
    "per doc: a whole-record union + distinct.",
)
def w3(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    existing = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.format_string("EXIST-%s", F.col("doc_id").cast("string")).alias("cui")
    )
    new = flat_annotations(
        docs,
        lambda: DeterministicFakeAnnotator("medcat"),
        ann_fields=["cui"],
        dotted=False,
    ).select(F.col("meta_doc_id").alias("doc_id"), F.col("nlp_cui").alias("cui"))
    merged = existing.unionByName(new).distinct()
    return merged.groupBy("doc_id").agg(
        F.count("*").alias("n_annotations"),
        F.array_join(F.sort_array(F.collect_list("cui")), ",").alias("cuis"),
    )


@register(
    "pipeline_w4_nested_per_doc",
    f"""WITH {DOCS_CTE}, {ENTS_CTE}
    SELECT doc_id, 'doc_' || doc_id::VARCHAR || '_annotations' AS ann_doc_id,
           count(*) AS n_annotations,
           string_agg(cui, ',' ORDER BY cui) AS cuis
    FROM ents GROUP BY doc_id""",
    doc="W4 nested per-doc sink rows: each annotated doc row's entities as its "
    "annotations array, with the doc_{id}_annotations key "
    "(annotations_indexer.py:166-200) — no explode, no groupBy.",
)
def w4(spark: SparkSession, sf: str):
    pipe = AnnotationPipeline(lambda: DeterministicFakeAnnotator("medcat"))
    nested = pipe.nested(table(spark, sf, "documents"))
    return nested.select(
        "doc_id",
        "ann_doc_id",
        F.size("annotations").cast("long").alias("n_annotations"),
        F.array_join(
            F.sort_array(F.transform(F.col("annotations"), lambda x: x.getField("cui"))), ","
        ).alias("cuis"),
    )


@register(
    "pipeline_gate_flat",
    f"""WITH {DOCS_CTE},
    raw AS (
      SELECT d.doc_id, e.i,
             (['Location','Org','Person'])[((d.doc_id + e.i) % 3) + 1] AS etype,
             ((e.i * 17) % (length(d.text) - 4))::BIGINT AS ann_start,
             substr(d.text, ((e.i * 17) % (length(d.text) - 4)) + 1, 4) AS sv,
             'rule' || ((d.doc_id + e.i) % 4)::VARCHAR AS rule,
             'kind' || (e.i % 2)::VARCHAR AS kind,
             (e.i % 2 = 0) AS mwl, e.i AS matches
      FROM docs d, (SELECT unnest(range(0, 4)) AS i) e
      WHERE e.i < length(d.text) % 4),
    renumbered AS (
      SELECT *, (row_number() OVER (PARTITION BY doc_id ORDER BY etype, i) - 1)::BIGINT AS new_id
      FROM raw)
    SELECT 'doc-' || doc_id::VARCHAR || '-ann-' || new_id::VARCHAR AS row_id,
           doc_id AS "meta.doc_id",
           new_id AS "nlp.id", etype AS "nlp.type",
           ann_start AS "nlp.start", ann_start + 4 AS "nlp.end",
           sv AS "nlp.source_value", rule AS "nlp.rule", kind AS "nlp.kind",
           mwl AS "nlp.matchedWithLonger", matches AS "nlp.matches",
           'fake://nlp' AS "nlp.pipeline_url",
           '2026-01-01T00:00:00' AS "nlp.timestamp"
    FROM renumbered""",
    doc="GATE-mode flat path: per-type entity regrouping, deterministic "
    "sequential id reassignment, indices→start/end, source_value substring "
    "(nlp_service.py:112-125; mapping annotations_indexer.py:447-583).",
)
def gate_flat(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    pipe = AnnotationPipeline(lambda: DeterministicFakeAnnotator("gate"), mode="gate")
    ann = pipe.annotated(docs)
    ent = F.col("entity")
    exploded = ann.withColumn("entity", F.explode("entities"))
    return exploded.select(
        F.format_string(
            "doc-%s-ann-%s", F.col("doc_id").cast("string"), ent.getField("id").cast("string")
        ).alias("row_id"),
        F.col("doc_id").alias("meta.doc_id"),
        ent.getField("id").alias("nlp.id"),
        ent.getField("type").alias("nlp.type"),
        ent.getField("indices").getItem(0).alias("nlp.start"),
        ent.getField("indices").getItem(1).alias("nlp.end"),
        ent.getField("source_value").alias("nlp.source_value"),
        ent.getField("rule").alias("nlp.rule"),
        ent.getField("kind").alias("nlp.kind"),
        ent.getField("matchedWithLonger").alias("nlp.matchedWithLonger"),
        ent.getField("matches").alias("nlp.matches"),
        ent.getField("pipeline_url").alias("nlp.pipeline_url"),
        ent.getField("timestamp").alias("nlp.timestamp"),
    )


@register(
    "pipeline_idempotent_rerun",
    W1_ORACLE,
    doc="B2 idempotency: running the pipeline over a duplicated corpus with "
    "U2 whole-record dedup yields exactly the single-run result "
    "(deterministic ids annotations_indexer.py:221 + dedup utils.py:16-19).",
)
def idempotent(spark: SparkSession, sf: str):
    docs = table(spark, sf, "documents")
    doubled = docs.unionByName(docs)
    return flat_annotations(
        doubled,
        lambda: DeterministicFakeAnnotator("medcat"),
        ann_fields=MEDCAT_FLAT_FIELDS,
        dotted=True,
    ).dropDuplicates(["row_id"])


@register(
    "b1_windowed_pipeline",
    """WITH docs AS (
         SELECT o_orderkey AS doc_id, o_orderpriority AS text,
                date_diff('day', DATE '1995-01-01', o_orderdate::DATE) // 30 AS seg
         FROM orders
         WHERE o_orderpriority IS NOT NULL AND length(o_orderpriority) >= 5),
       ents AS (
         SELECT d.doc_id, d.seg, e.i
         FROM docs d, (SELECT unnest(range(0, 4)) AS i) e
         WHERE e.i < length(d.text) % 4)
       SELECT seg, count(*) AS n_annotations,
              count(DISTINCT doc_id) AS n_docs
       FROM ents GROUP BY seg""",
    doc="B1 windowed batch pipeline over the orders-as-corpus mapping "
    "(FIXTURES.md §6): tumbling 30-day segments computed in-scan — the "
    "driver-loop windowing of annotations_indexer.py:842-861 collapsed "
    "into one plan.",
)
def b1_pipeline(spark: SparkSession, sf: str):
    from annotations_ingester_spark.operators.windows import window_segment

    corpus = table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        F.col("o_orderpriority").alias("text"),
        window_segment("o_orderdate", "1995-01-01", 30).alias("seg"),
    )
    out = flat_annotations(
        corpus,
        lambda: DeterministicFakeAnnotator("medcat"),
        persist_fields=["doc_id", "seg"],
        ann_fields=["id"],
        dotted=False,
    )
    return out.groupBy(F.col("meta_seg").alias("seg")).agg(
        F.count("*").alias("n_annotations"),
        F.countDistinct("meta_doc_id").alias("n_docs"),
    )
