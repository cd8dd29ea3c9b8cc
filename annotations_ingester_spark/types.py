"""Engine type constants: annotation entity schemas (SURVEY §1.3).

The reference declares these shapes as Elasticsearch mappings
(reference: ingester/annotations_indexer.py:359-833); here they are
first-class Spark ``StructType`` constants so every plan is fully typed.
``meta_anns`` maps to ``MapType(String, Struct<confidence,name,value>)``
(reference: ingester/annotations_indexer.py:620-648).
"""

from __future__ import annotations

from pyspark.sql import types as T

# MedCAT entity — reference mapping at ingester/annotations_indexer.py:364-437
# (nested-object variant) and :593-687 (separate-index variant); runtime
# injection of medcat_info/timestamp at ingester/nlp_service.py:105-108.
MEDCAT_META_ANN = T.StructType(
    [
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

MEDCAT_ENTITY = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("cui", T.StringType(), False),
        T.StructField("tuis", T.StringType(), True),
        T.StructField("types", T.StringType(), True),
        T.StructField("pretty_name", T.StringType(), True),
        T.StructField("detected_name", T.StringType(), True),
        T.StructField("source_value", T.StringType(), True),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("acc", T.DoubleType(), True),
        T.StructField("context_similarity", T.DoubleType(), True),
        T.StructField("meta_anns", T.MapType(T.StringType(), MEDCAT_META_ANN), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)

# GATE entity — reference mapping at ingester/annotations_indexer.py:447-583;
# runtime reshaping (sequential id, pipeline_url, timestamp, source_value
# substring) at ingester/nlp_service.py:112-125.
GATE_ENTITY = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("indices", T.ArrayType(T.LongType()), False),
        T.StructField("source_value", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("rule", T.StringType(), True),
        T.StructField("ruleFinal", T.StringType(), True),
        T.StructField("NMRule", T.StringType(), True),
        T.StructField("firstName", T.StringType(), True),
        T.StructField("surname", T.StringType(), True),
        T.StructField("initials", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("gender", T.StringType(), True),
        T.StructField("orgType", T.StringType(), True),
        T.StructField("matchedWithLonger", T.BooleanType(), True),
        T.StructField("matches", T.LongType(), True),
        T.StructField("pipeline_url", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), True),
    ]
)

# Column-name prefixes for flat sink rows
# (reference: FIELD_ANN_PREFIX/FIELD_META_PREFIX,
# ingester/annotations_indexer.py:62-63).
FIELD_ANN_PREFIX = "nlp"
FIELD_META_PREFIX = "meta"

# Minimum text length processed
# (reference: MIN_TEXT_LEN, ingester/annotations_indexer.py:66).
MIN_TEXT_LEN = 5


def entity_struct(mode: str) -> T.StructType:
    """The entity struct of a protocol mode: the config's ``""`` and
    ``medcat`` (config.yml:37) are MedCAT, ``gate`` and ``gate-nlp`` GATE."""
    if mode in ("", "medcat"):
        return MEDCAT_ENTITY
    if mode in ("gate", "gate-nlp"):
        return GATE_ENTITY
    raise ValueError(f"unknown protocol mode {mode!r}")


def annotated_schema(base: T.StructType, mode: str = "medcat") -> T.StructType:
    """Schema of a document DataFrame after the annotate stage: the input
    columns plus an ``entities`` array column of the mode's entity struct."""
    entity = entity_struct(mode)
    return T.StructType(list(base.fields) + [T.StructField("entities", T.ArrayType(entity), True)])
