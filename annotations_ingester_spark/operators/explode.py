"""W5/J3/F3: entity explode + meta./nlp. prefix projection (SURVEY §2.8).

The reference iterates an ordinal-keyed entity map per document and emits one
sink action per entity, copying persisted source fields onto each
(ingester/annotations_indexer.py:201-227). In Spark this is a single
``explode`` — the parent-attribute recombination (J3) is free because parent
columns ride along with the exploded rows; no join.

Skew note for 100 TB: one document can yield thousands of entities; explode
amplifies partitions unevenly. AQE partition coalescing/skew handling is on
(session.py); downstream shuffles (dedup) rebalance automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from annotations_ingester_spark.functions.names import normalize_index_name, synth_row_id
from annotations_ingester_spark.types import FIELD_ANN_PREFIX, FIELD_META_PREFIX


def explode_entities(df: DataFrame) -> DataFrame:
    """One output row per entity; rows with NULL/empty entities drop out
    (inner explode — P6 guard composes with this)."""
    return df.withColumn("entity", F.explode("entities")).drop("entities")


def prefix_project(
    df: DataFrame,
    persist_fields: list[str],
    docid_field: str = "doc_id",
    ann_fields: list[str] | None = None,
    dotted: bool = True,
    extra_cols: list[str] | None = None,
    ann_id_field: str = "id",
) -> DataFrame:
    """Flat sink row: ``meta.*`` persisted source fields + ``nlp.*`` entity
    fields + deterministic ``row_id`` (reference: annotations_indexer.py:
    119-138,203-227; prefixes :62-63; id synthesis :221).

    ``dotted=True`` keeps the literal dotted column names for sink fidelity
    (backtick-quoted in Spark); ``dotted=False`` uses ``meta_``/``nlp_``
    underscores for SQL-friendly downstream use.
    """
    sep = "." if dotted else "_"
    ent = F.col("entity")
    fields = ann_fields or [f.name for f in df.schema["entity"].dataType.fields]
    cols: list[Column] = [
        synth_row_id(F.col(docid_field), ent.getField(ann_id_field)).alias("row_id")
    ]
    for p in persist_fields:
        cols.append(F.col(p).alias(f"{FIELD_META_PREFIX}{sep}{p}"))
    for f in fields:
        cols.append(ent.getField(f).alias(f"{FIELD_ANN_PREFIX}{sep}{f}"))
    for c in extra_cols or []:
        cols.append(F.col(c))
    return df.select(*cols)


def split_index_suffix(df: DataFrame, split_by_field: str) -> DataFrame:
    """W2: per-row sink partition from an entity field's normalized value
    (reference: annotations_indexer.py:214-218; name rules es_common.py:
    116-131). Feeds ``partitionBy`` (parquet) or the ES dynamic resource
    pattern ``sink-{suffix}``."""
    return df.withColumn(
        "index_suffix", normalize_index_name(F.col("entity").getField(split_by_field))
    )
