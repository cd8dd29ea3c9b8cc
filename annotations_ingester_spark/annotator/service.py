"""NLP annotator clients and response normalization.

Response-envelope semantics follow the reference
(reference: ingester/nlp_service.py:100-132):

- MedCAT mode: ``{"result": {"annotations": {"entities": {"0": e0, ...}},
  "timestamp": ts}, "medcat_info": {...}}`` — ``entities`` is a map keyed
  by stringified ordinal (not an array), and ``result`` may arrive as a
  JSON *string* that must be re-parsed (nlp_service.py:102-103). The
  result timestamp is denormalized onto every entity (nlp_service.py:108).
- GATE mode: ``{"entities": {entityType: [e...]}, "text": t}`` — entities
  are regrouped into one list, given sequential ids, ``type``,
  ``pipeline_url``, ``timestamp``, and ``source_value`` = the text
  substring covered by ``indices`` (nlp_service.py:112-125).

Both modes coerce each entity against its declared struct,
``types.MEDCAT_ENTITY`` or ``types.GATE_ENTITY`` (the reference's ES
mappings, annotations_indexer.py:359-833), with :func:`coerce`: the struct
is the one list of entity fields and their types.

Conscious fix vs the reference: GATE id reassignment iterates entity
types in *sorted* order (the reference relies on dict insertion order,
nlp_service.py:113) so output is deterministic and oracle-checkable.

Malformed envelopes (missing ``result``/``annotations``/``entities``)
normalize to ``None`` → the row is skipped without failing the job
(reference guards: ingester/annotations_indexer.py:266-289; failed docs
stay eligible for reprocessing, nlp_service.py:89-92).

``HttpNlpClient`` is built once per Spark task, and its thread pool is the
one bound on that task's calls in flight (the reference's single bound is
its executor's thread count, annotations_indexer.py:311, config.yml:64).
"""

from __future__ import annotations

import json
import logging
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Protocol

from pyspark.sql import types as T

from annotations_ingester_spark.types import GATE_ENTITY, MEDCAT_ENTITY

log = logging.getLogger(__name__)

def coerce(value: Any, dtype: T.DataType) -> Any:
    """``value`` in the Python shape of ``dtype``: Long → ``int``, Double →
    ``float``, Boolean → ``bool``; a struct → its declared fields (undeclared
    keys such as the merged ``medcat_info``, nlp_service.py:105-107, are not
    in the declared mapping, annotations_indexer.py:593-687, and drop out);
    a map of structs → its dict values, coerced. ``None`` and every other
    type pass through unchanged."""
    if value is None:
        return None
    if isinstance(dtype, T.LongType):
        return int(value)
    if isinstance(dtype, T.DoubleType):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return bool(value)
    if isinstance(dtype, T.StructType) and isinstance(value, dict):
        return {f.name: coerce(value.get(f.name), f.dataType) for f in dtype.fields}
    if (
        isinstance(dtype, T.MapType)
        and isinstance(dtype.valueType, T.StructType)
        and isinstance(value, dict)
    ):
        return {
            str(k): coerce(v, dtype.valueType)
            for k, v in value.items()
            if isinstance(v, dict)
        }
    return value


def normalize_medcat(envelope: dict[str, Any] | None) -> list[dict[str, Any]] | None:
    """MedCAT envelope → entity list, or None when malformed (P6 guards)."""
    if not isinstance(envelope, dict):
        return None
    result = envelope.get("result")
    if isinstance(result, str):  # stringly-JSON result (nlp_service.py:102-103)
        try:
            result = json.loads(result)
        except (TypeError, ValueError):
            return None
    if not isinstance(result, dict):
        return None
    annotations = result.get("annotations")
    if not isinstance(annotations, dict):
        return None
    entities = annotations.get("entities")
    if not isinstance(entities, dict):
        return None
    ts = result.get("timestamp")
    out = []
    # ordinal-keyed map → array, ordered by numeric key (nlp_service.py:104)
    for key in sorted(entities, key=lambda k: int(k) if str(k).lstrip("-").isdigit() else 0):
        ent = entities[key]
        if not isinstance(ent, dict):
            continue
        ent = dict(ent)
        ent.setdefault("timestamp", ts)  # nlp_service.py:108
        out.append(coerce(ent, MEDCAT_ENTITY))
    return out


def normalize_gate(
    envelope: dict[str, Any] | None,
    text: str | None,
    pipeline_url: str | None = None,
    timestamp: str | None = None,
) -> list[dict[str, Any]] | None:
    """GATE envelope → entity list with sequential ids, or None.

    Mirrors nlp_service.py:112-125: regroup per-type lists, stamp ``type``,
    ``pipeline_url``, ``timestamp``; ``source_value = text[start:end]``;
    ``indices`` coerced to ints (nlp_service.py:118).
    """
    if not isinstance(envelope, dict):
        return None
    by_type = envelope.get("entities")
    if not isinstance(by_type, dict):
        return None
    out: list[dict[str, Any]] = []
    next_id = 0
    for etype in sorted(by_type):  # sorted: determinism fix (see module doc)
        ents = by_type[etype]
        if not isinstance(ents, list):
            continue
        for ent in ents:
            if not isinstance(ent, dict):
                continue
            ent = dict(ent)
            ent["type"] = etype
            ent["id"] = next_id  # reassigned sequential id (nlp_service.py:117)
            next_id += 1
            indices = [int(x) for x in (ent.get("indices") or [])]
            ent["indices"] = indices
            if text is not None and len(indices) == 2:
                ent["source_value"] = text[indices[0] : indices[1]]
            ent.setdefault("pipeline_url", pipeline_url)
            ent.setdefault("timestamp", timestamp)
            out.append(coerce(ent, GATE_ENTITY))
    return out


class Annotator(Protocol):
    """An annotator maps a batch of (doc_id, text) to per-doc entity lists.

    ``None`` for a doc means the call failed or the payload was malformed;
    the engine leaves the row un-annotated so a later run retries it
    (B3 semantics, nlp_service.py:89-92).
    """

    mode: str

    def annotate_batch(
        self, doc_ids: list[Any], texts: list[str]
    ) -> list[list[dict[str, Any]] | None]: ...


class HttpNlpClient:
    """REST annotator client (reference: ingester/nlp_service.py:40-136).

    Per-batch concurrency via a thread pool of ``threads`` workers (the
    reference's 128-thread executor, annotations_indexer.py:311, becomes
    one pool per Spark task here — tasks provide the cross-node
    parallelism), bounded retry (nlp_service.py:75-80), multi-endpoint
    fan-out + merge (nlp_service.py:32-33,127-132). Transport is
    injectable for tests.

    The pool is the only bound on calls in flight: each running task has
    its own Python worker process and its own client, so one task never
    has more than ``threads`` requests open. ``max_in_flight``, when set,
    caps the pool (``threads = min(threads, max_in_flight)``).
    """

    def __init__(
        self,
        endpoints: list[str],
        mode: str = "medcat",
        auth: tuple[str, str] | None = None,
        max_retries: int = 1,
        application_params: dict[str, Any] | None = None,
        threads: int = 8,
        timeout: float = 30.0,
        transport=None,
        max_in_flight: int | None = None,
    ) -> None:
        if max_in_flight is not None:
            if max_in_flight < 1:
                raise ValueError(f"max_in_flight must be >= 1, got {max_in_flight}")
            threads = min(threads, max_in_flight)
        self.endpoints = endpoints
        self.mode = "gate" if mode == "gate-nlp" else (mode or "medcat")
        self.auth = auth
        self.max_retries = max_retries
        self.application_params = application_params or {}
        self.threads = threads
        self.timeout = timeout
        self._transport = transport or self._http_post

    def _http_post(self, url: str, text: str) -> dict[str, Any] | None:
        """POST one document (JSON envelope for MedCAT, text/plain for
        GATE — nlp_service.py:57-69) using stdlib urllib."""
        import urllib.request

        if self.mode == "gate":
            body = text.encode("utf-8")
            headers = {"Content-Type": "text/plain; charset=utf-8"}
        else:
            body = json.dumps(
                {
                    "content": {"text": text},
                    "application_params": self.application_params,
                    "footer": {},
                }
            ).encode("utf-8")
            headers = {"Content-Type": "application/json"}
        if self.auth:
            import base64

            cred = base64.b64encode(f"{self.auth[0]}:{self.auth[1]}".encode()).decode()
            headers["Authorization"] = f"Basic {cred}"
        req = urllib.request.Request(url, data=body, headers=headers, method="POST")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                if resp.status != 200:
                    return None
                return json.loads(resp.read().decode("utf-8"))
        except Exception as exc:  # failed call → retry/skip, never crash the task
            log.warning("NLP call failed (%s): %s", url, exc)
            return None

    def _query_one(self, doc_id: Any, text: str) -> list[dict[str, Any]] | None:
        merged: list[dict[str, Any]] | None = None
        for url in self.endpoints:
            envelope = None
            for _ in range(self.max_retries + 1):  # nlp_service.py:75-80
                envelope = self._transport(url, text)
                if envelope is not None:
                    break
            if self.mode == "gate":
                ents = normalize_gate(envelope, text, pipeline_url=url)
            else:
                ents = normalize_medcat(envelope)
            if ents is not None:
                merged = (merged or []) + ents  # multi-endpoint merge (:127-132)
        return merged

    def annotate_batch(
        self, doc_ids: list[Any], texts: list[str]
    ) -> list[list[dict[str, Any]] | None]:
        if not doc_ids:
            return []
        with ThreadPoolExecutor(max_workers=min(self.threads, max(len(doc_ids), 1))) as pool:
            return list(pool.map(self._query_one, doc_ids, texts))


class BioyodieClient(HttpNlpClient):
    """GATE Bio-YODIE preset — default ``annotationSets: Bio:*``
    (reference: ingester/nlp_service.py:143-161)."""

    def __init__(self, endpoints: list[str], **kwargs: Any) -> None:
        params = kwargs.pop("application_params", None) or {"annotationSets": "Bio:*"}
        kwargs.setdefault("mode", "gate-nlp")
        super().__init__(endpoints, application_params=params, **kwargs)
