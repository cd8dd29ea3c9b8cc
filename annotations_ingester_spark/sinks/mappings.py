"""S8: sink schema DDL — the four declared annotation mappings.

The reference ships four Elasticsearch mapping variants selected by
``es-nested-object-schema-mapping`` (reference: ingester/annotations_indexer.py:
359-440 medcat-nested-object, :442-586 gate-nlp-nested-object, :588-688
medcat-separate-index, :690-833 gate-nlp-separate-index; applied via
put_mapping / create-if-missing at :835-840). Here each variant is
*generated* from the engine's StructType constants, so the Spark schema and
the sink mapping can never drift apart.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import types as T

from annotations_ingester_spark.types import entity_struct

_ES_TYPES = {
    "string": {"type": "text", "fields": {"keyword": {"type": "keyword", "ignore_above": 256}}},
    "long": {"type": "long"},
    "integer": {"type": "integer"},
    "double": {"type": "float"},  # reference declares float (annotations_indexer.py:365)
    "float": {"type": "float"},
    "boolean": {"type": "boolean"},
    "timestamp": {"type": "date"},
    "date": {"type": "date", "format": "yyyy-MM-dd"},
    "binary": {"type": "binary"},
}


def _field_mapping(dt: T.DataType) -> dict[str, Any]:
    name = dt.typeName()
    if name == "array":
        return _field_mapping(dt.elementType)  # ES arrays are implicit
    if name == "struct":
        return {"properties": {f.name: _field_mapping(f.dataType) for f in dt.fields}}
    if name == "map":
        return {"type": "nested"}  # meta_anns-style open objects
    return dict(_ES_TYPES.get(name, {"type": "keyword"}))


def entity_properties(mode: str = "medcat") -> dict[str, Any]:
    return {f.name: _field_mapping(f.dataType) for f in entity_struct(mode).fields}


def nested_object_mapping(mode: str = "medcat") -> dict[str, Any]:
    """Same-index / combined-doc variants: ``annotations`` as a nested
    array of entities (annotations_indexer.py:359-586; lazy nested/flattened
    add at :347-357)."""
    return {
        "properties": {
            "annotations": {"type": "nested", "properties": entity_properties(mode)}
        }
    }


def separate_index_mapping(
    mode: str = "medcat", persist_fields: list[str] | None = None
) -> dict[str, Any]:
    """Flat separate-index variants: every entity field prefixed ``nlp.``,
    persisted source fields prefixed ``meta.`` (annotations_indexer.py:
    588-833; prefixes :62-63)."""
    props: dict[str, Any] = {
        f"nlp.{name}": m for name, m in entity_properties(mode).items()
    }
    for p in persist_fields or ["_id"]:
        props[f"meta.{p}"] = {"type": "keyword"}
    return {"properties": props}


def same_index_patch_mapping(use_nested_objects: bool = True) -> dict[str, Any]:
    """W3 same-index lazy-add: when the target index has no ``annotations``
    field yet, it is patched in as a bare ``nested`` **or ``flattened``**
    type — no sub-properties on this path (annotations_indexer.py:347-357;
    the ``use-nested-objects`` knob, README.md:66 — flattened trades
    per-field search for mapping-explosion safety on wide entities)."""
    return {
        "properties": {
            "annotations": {"type": "nested" if use_nested_objects else "flattened"}
        }
    }


def mapping_for(schema_mapping: str, persist_fields: list[str] | None = None) -> dict[str, Any]:
    """Dispatch on the reference's config value (config.yml:51; dispatch
    annotations_indexer.py:359,442,588,690)."""
    key = schema_mapping.lower()
    if key == "medcat-nested-object":
        return nested_object_mapping("medcat")
    if key == "gate-nlp-nested-object":
        return nested_object_mapping("gate")
    if key == "medcat-separate-index":
        return separate_index_mapping("medcat", persist_fields)
    if key == "gate-nlp-separate-index":
        return separate_index_mapping("gate", persist_fields)
    raise ValueError(f"unknown schema mapping: {schema_mapping}")
