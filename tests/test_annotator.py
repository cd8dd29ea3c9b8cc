"""Annotator client + response-normalization tests (SURVEY §1.3/§2.9;
envelope semantics from ingester/nlp_service.py:100-132)."""

from __future__ import annotations

import json

from annotations_ingester_spark.annotator.fake import (
    DeterministicFakeAnnotator,
    gate_envelope,
    medcat_envelope,
)
from annotations_ingester_spark.annotator.service import (
    BioyodieClient,
    HttpNlpClient,
    normalize_gate,
    normalize_medcat,
)


def test_normalize_medcat_happy_path():
    text = "value key sort customer joined"  # len 30 → 2 entities
    env = medcat_envelope(5, text)
    ents = normalize_medcat(env)
    assert ents is not None and len(ents) == len(text) % 4 == 2
    assert ents[0]["cui"].startswith("C")
    assert ents[0]["timestamp"] == "2026-01-01T00:00:00"  # denormalized result ts
    assert isinstance(ents[0]["start"], int)


def test_normalize_medcat_stringly_result():
    # result may arrive as a JSON string (nlp_service.py:102-103)
    text = "value key sort customer another"  # len 31 → 3 entities
    env = medcat_envelope(5, text)
    env["result"] = json.dumps(env["result"])
    ents = normalize_medcat(env)
    assert ents is not None and len(ents) == 3


def test_normalize_medcat_ordinal_map_order():
    # entities arrive as an ordinal-keyed MAP; order by numeric key
    env = {
        "result": {
            "annotations": {"entities": {"10": {"id": 10, "cui": "Cb"}, "2": {"id": 2, "cui": "Ca"}}},
            "timestamp": "t",
        }
    }
    ents = normalize_medcat(env)
    assert [e["cui"] for e in ents] == ["Ca", "Cb"]


def test_normalize_medcat_malformed_guards():
    # P6 guards (annotations_indexer.py:266-289): malformed → None, never raise
    for bad in [None, {}, {"result": {}}, {"result": {"annotations": None}},
                {"result": {"annotations": {"entities": None}}},
                {"result": "not json {"}]:
        assert normalize_medcat(bad) is None


def test_normalize_gate_sequential_ids_and_substring():
    text = "abcdefghij"
    env = {
        "entities": {
            "Person": [{"indices": ["2", 6]}],
            "Org": [{"indices": [0, 4]}, {"indices": [5, 9]}],
        }
    }
    ents = normalize_gate(env, text, pipeline_url="u", timestamp="ts")
    # sorted type order (Org < Person), sequential ids (nlp_service.py:117)
    assert [e["id"] for e in ents] == [0, 1, 2]
    assert [e["type"] for e in ents] == ["Org", "Org", "Person"]
    assert ents[0]["source_value"] == text[0:4]
    assert ents[2]["source_value"] == text[2:6]  # indices coerced from strings
    assert ents[0]["pipeline_url"] == "u"
    assert normalize_gate({"entities": None}, text) is None


def test_http_client_retry_and_multi_endpoint_merge():
    calls = []

    def transport(url, text):
        calls.append(url)
        if url == "flaky" and calls.count("flaky") == 1:
            return None  # first attempt fails → retried (nlp_service.py:75-80)
        return medcat_envelope(1, text)

    client = HttpNlpClient(["flaky", "stable"], mode="medcat", max_retries=1, transport=transport)
    text = "value key sort customer joined"  # len 30 → 2 entities/endpoint
    [ents] = client.annotate_batch([1], [text])
    assert calls.count("flaky") == 2 and calls.count("stable") == 1
    assert len(ents) == 2 * (len(text) % 4)  # merged endpoints


def test_http_client_total_failure_yields_none():
    client = HttpNlpClient(["down"], max_retries=2, transport=lambda u, t: None)
    assert client.annotate_batch([1], ["some text here"]) == [None]  # B3: row skipped


def test_bioyodie_defaults():
    c = BioyodieClient(["x"], transport=lambda u, t: None)
    assert c.mode == "gate"
    assert c.application_params == {"annotationSets": "Bio:*"}


def test_fake_annotator_modes():
    med = DeterministicFakeAnnotator("medcat")
    gat = DeterministicFakeAnnotator("gate")
    text = "abcdefghij"  # len 10 → 2 entities
    [m], [g] = med.annotate_batch([3], [text]), gat.annotate_batch([3], [text])
    assert m is not None and g is not None
    assert {e["cui"] for e in m} and all("type" in e for e in g)
    assert med.annotate_batch([1], [None]) == [None]
    assert gate_envelope(3, text)["text"] == text


def test_annotator_registry():
    from annotations_ingester_spark.annotator.registry import (
        get_annotator,
        list_annotators,
        register_annotator,
    )

    assert {"fake-medcat", "fake-gate"} <= set(list_annotators())
    fake = get_annotator("fake-medcat")()
    [ents] = fake.annotate_batch([1], ["abcdefghij"])
    assert len(ents) == 2

    register_annotator("custom", urls=["http://nlp:5000"], mode="gate-nlp", retries=3)
    client = get_annotator("custom")()
    assert client.mode == "gate" and client.max_retries == 3

    import pytest

    with pytest.raises(KeyError, match="no annotator registered"):
        get_annotator("missing")


def test_normalized_keys_are_the_declared_struct_fields():
    from annotations_ingester_spark.types import GATE_ENTITY, MEDCAT_ENTITY, MEDCAT_META_ANN

    env = medcat_envelope(7, "value key sort customer joined")
    env["result"]["annotations"]["entities"]["0"]["meta_anns"] = {
        "Presence": {"name": "Presence", "value": "True", "confidence": 0.9, "extra": 1}
    }
    ents = normalize_medcat(env)
    assert all(list(e) == MEDCAT_ENTITY.fieldNames() for e in ents)
    assert list(ents[0]["meta_anns"]["Presence"]) == MEDCAT_META_ANN.fieldNames()
    text = "abcdefghij"
    gates = normalize_gate(gate_envelope(3, text), text, pipeline_url="u")
    assert gates and all(list(e) == GATE_ENTITY.fieldNames() for e in gates)


def test_protocol_mode_picks_the_entity_struct():
    """The config's own spelling of MedCAT (``""``, config.yml:37) picks the
    MedCAT struct for the annotate schema and the sink mapping alike; an
    unknown mode is refused, not read as GATE."""
    import pytest
    from pyspark.sql import types as T

    from annotations_ingester_spark.sinks.mappings import entity_properties
    from annotations_ingester_spark.types import (
        GATE_ENTITY,
        MEDCAT_ENTITY,
        annotated_schema,
        entity_struct,
    )

    base = T.StructType([T.StructField("doc_id", T.LongType())])
    for mode, struct in [("", MEDCAT_ENTITY), ("medcat", MEDCAT_ENTITY),
                         ("gate", GATE_ENTITY), ("gate-nlp", GATE_ENTITY)]:
        assert annotated_schema(base, mode)["entities"].dataType.elementType == struct
        assert list(entity_properties(mode)) == struct.fieldNames()
    with pytest.raises(ValueError, match="bogus"):
        entity_struct("bogus")


def test_entity_coercion_characterization():
    """Each entity is projected onto its declared struct: Long → int,
    Double → float, Boolean → bool, other types as they came, None kept,
    undeclared keys dropped; ``meta_anns`` keeps only its dict values, and
    a ``meta_anns`` that is not a dict passes through unchanged."""
    import pytest

    raw = {
        "0": {
            "id": "3", "cui": "C1", "tuis": ["T1"], "types": None, "start": 2.9,
            "end": True, "acc": "0.25", "context_similarity": 1, "source_value": 5,
            "medcat_info": {"model": "m"}, "other": 1,
            "meta_anns": {
                1: {"confidence": "0.5", "name": 7, "value": None, "x": 1},
                "Skip": "not a dict",
                "Bare": {},
            },
        },
        "1": {"id": 4, "cui": "C2", "start": 0, "end": 1, "meta_anns": ["a", "b"]},
        "2": {"id": 5, "cui": "C3", "start": 0, "end": 1, "meta_anns": "text",
              "acc": False, "timestamp": "own"},
    }
    env = {"result": {"annotations": {"entities": raw}, "timestamp": "ts"}}
    none_fields = dict.fromkeys(
        ["tuis", "types", "pretty_name", "detected_name", "source_value", "acc",
         "context_similarity", "meta_anns"]
    )
    assert normalize_medcat(env) == [
        {
            "id": 3, "cui": "C1", "tuis": ["T1"], "types": None, "pretty_name": None,
            "detected_name": None, "source_value": 5, "start": 2, "end": 1,
            "acc": 0.25, "context_similarity": 1.0,
            "meta_anns": {
                "1": {"confidence": 0.5, "name": 7, "value": None},
                "Bare": {"confidence": None, "name": None, "value": None},
            },
            "timestamp": "ts",
        },
        {**none_fields, "id": 4, "cui": "C2", "start": 0, "end": 1,
         "meta_anns": ["a", "b"], "timestamp": "ts"},
        {**none_fields, "id": 5, "cui": "C3", "start": 0, "end": 1, "acc": 0.0,
         "meta_anns": "text", "timestamp": "own"},
    ]
    for bad in ({"id": "x"}, {"acc": "high"}, {"meta_anns": {"m": {"confidence": "?"}}}):
        with pytest.raises(ValueError):
            normalize_medcat({"result": {"annotations": {"entities": {"0": bad}}}})

    text = "abcdefghij"
    env = {
        "entities": {
            "Org": [
                {"indices": ["1", 3.0], "matches": "2", "matchedWithLonger": "no",
                 "kind": 4, "extra": "dropped", "pipeline_url": "own"},
                {"indices": None, "matchedWithLonger": 0, "matches": None},
            ]
        }
    }
    gate_none = dict.fromkeys(
        ["kind", "rule", "ruleFinal", "NMRule", "firstName", "surname", "initials",
         "title", "gender", "orgType", "matchedWithLonger", "matches"]
    )
    assert normalize_gate(env, text, pipeline_url="u", timestamp="t") == [
        {"id": 0, "type": "Org", "indices": [1, 3], "source_value": "bc",
         **gate_none, "kind": 4, "matchedWithLonger": True, "matches": 2,
         "pipeline_url": "own", "timestamp": "t"},
        {"id": 1, "type": "Org", "indices": [], "source_value": None,
         **gate_none, "matchedWithLonger": False, "pipeline_url": "u", "timestamp": "t"},
    ]
