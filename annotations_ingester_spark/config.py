"""Typed pipeline configuration — same YAML surface as the reference.

Mirrors the reference's config dataclass
(reference: ingester/annotations_indexer.py:18-49 ``AnnotationIndexerConfig``
and config/config.yml keys) so a user of the reference can bring their
config file unchanged. Wiring/validation mirrors ingester/__main__.py:34-45
(requires ``source``, ``nlp-service``, ``sink``, ``mapping``).

Only keys that change what the engine does become fields. A reference key
the engine has no use for (``use-bulk-indexing``: every Spark write is a
bulk write; ``use-nested-objects``, ``es-nested-object-schema-mapping``,
``annotation-response``, ``ca-file-path``) loads and draws a warning, as
does any misplaced or misspelt key. The date formats must be ISO
(``yyyy-MM-dd`` / ``%Y-%m-%d``): range scans compare ISO date strings, so
``from_dict`` refuses any other format rather than mis-scope them.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Any

try:  # YAML is optional — dict-based construction always works.
    import yaml  # type: ignore
except Exception:  # pragma: no cover
    yaml = None

log = logging.getLogger(__name__)

REQUIRED_TOP_LEVEL = ("source", "nlp-service", "sink", "mapping")
PROTOCOL_MODES = ("", "medcat", "gate-nlp")  # config.yml:37
INGEST_MODES = ("separate-index", "same-index", "nested")  # W1 | W3 | W4


@dataclass
class ConnectorConfig:
    """Source/sink connector options (reference: ingester/es_common.py:14-43).

    ``backend`` is a key of ``sources.BACKENDS``, the table that maps each
    name to its module: parquet (tests/local), elasticsearch (the connector
    jar) or elasticsearch-rest (the jar-free stdlib REST fallback). Every
    module has the same ``check``/``read``/``done_ids``/``write``.
    """

    backend: str = "parquet"
    hosts: list[str] = field(default_factory=list)
    index_name: str = ""  # ES index or parquet path
    username: str | None = None
    password: str | None = None
    api_key: str | None = None
    ssl_enabled: bool = False
    ca_certs: str | None = None
    client_cert: str | None = None
    client_key: str | None = None
    check_certificate: bool = True


@dataclass
class NlpServiceConfig:
    """NLP REST endpoint options (reference: ingester/nlp_service.py:18-38)."""

    endpoints: list[str] = field(default_factory=list)
    mode: str = "medcat"  # "" / "medcat" | "gate-nlp" (config.yml:37)
    username: str | None = None
    password: str | None = None
    max_retries_on_failure: int = 1  # config.yml:39
    application_params: dict[str, Any] = field(default_factory=dict)
    # caps PipelineConfig.threads, the per-task call pool (engine
    # extension); None = the pool alone bounds calls in flight
    max_in_flight: int | None = None


class _Section:
    """One mapping of the YAML config that records which of its keys the
    parser looks up. :meth:`section` opens a nested mapping the same way;
    :meth:`get` hands a value back as it is, so free-form values such as
    ``application-params`` are never walked."""

    def __init__(self, data: Any, path: str = "") -> None:
        if not isinstance(data, dict):
            raise ValueError(f"config section {path or '<top>'!r} must be a mapping")
        self.data, self.path = data, path
        self.read: set[str] = set()
        self.opened: list[_Section] = []

    def get(self, key: str, default: Any = None) -> Any:
        self.read.add(key)
        return self.data.get(key, default)

    def __contains__(self, key: str) -> bool:
        self.read.add(key)
        return key in self.data

    def section(self, key: str) -> "_Section":
        sub = _Section(self.get(key) or {}, f"{self.path}{key}.")
        self.opened.append(sub)
        return sub

    def unread(self) -> list[str]:
        """Dotted paths of the keys no lookup read, here and in every
        section opened from this one."""
        return [f"{self.path}{k}" for k in self.data if k not in self.read] + [
            key for sub in self.opened for key in sub.unread()
        ]


@dataclass
class PipelineConfig:
    """The logical plan as configuration — 1:1 with the reference's
    ``AnnotationIndexerConfig`` fields (ingester/annotations_indexer.py:18-49)
    that change what the engine does.
    """

    source: ConnectorConfig = field(default_factory=ConnectorConfig)
    sink: ConnectorConfig = field(default_factory=ConnectorConfig)
    nlp: NlpServiceConfig = field(default_factory=NlpServiceConfig)

    text_field: str = "document"  # config.yml:52
    docid_field: str = "_id"  # config.yml:53
    persist_fields: list[str] = field(default_factory=lambda: ["_id"])  # :54-56
    date_field: str = "dct"  # config.yml:59
    batch_interval_days: int = 30  # config.yml:61, annotations_indexer.py:46
    date_start: str = ""  # config.yml:62
    date_end: str = ""  # config.yml:63
    threads: int = 4  # annotations_indexer.py:40; per-task NLP call pool size
    split_index_by_field: str = ""  # config.yml:66 → W2 partitioned sink
    skip_processed_doc_check: bool = False  # config.yml:68 → J1 anti-join
    ingest_mode: str = "separate-index"  # W1 | "same-index" (W3) | "nested" (W4)
    annotation_id_field: str = "id"  # config.yml:69 mapping.nlp.annotation-id-field
    logging_level: int = 20  # config.yml:73 (INFO)

    @classmethod
    def from_dict(cls, params: dict[str, Any]) -> "PipelineConfig":
        """Build from the reference's YAML dict shape (ingester/__main__.py:100-117).

        Logs a warning for each key of a section this parser opens that no
        lookup below reads: a misplaced or misspelt key would otherwise
        fall back to its default without a word."""
        missing = [k for k in REQUIRED_TOP_LEVEL if k not in params]
        if missing:
            raise ValueError(f"config missing required keys: {missing}")
        top = _Section(params)
        mapping = top.section("mapping")
        src_map = mapping.section("source")
        batch = src_map.section("batch")
        nlp = top.section("nlp-service")

        # imported here: the backend modules import this one
        from annotations_ingester_spark.sources import BACKENDS

        def conn(sec: _Section) -> ConnectorConfig:
            """Accepts BOTH the reference's canonical config.yml shape
            (``es.credentials`` / ``es.extra-params`` — config/config.yml:1-33)
            and this engine's flattened ``security`` block, so a reference
            config file loads unchanged."""
            backend = sec.get("backend", "elasticsearch" if "es" in sec else "parquet")
            if backend not in BACKENDS:
                raise ValueError(
                    f"unknown backend {backend!r}; expected one of {sorted(BACKENDS)}"
                )
            es = sec.section("es") if "es" in sec else sec
            security = es.section("security")
            creds = es.section("credentials")
            extra = es.section("extra-params")
            api_key = creds.get("api-key") or security.get("elastic-api-key")
            if not creds.get("use-api-key", True):
                api_key = None  # reference flag: basic auth wins
            return ConnectorConfig(
                backend=backend,
                hosts=es.get("hosts", []) or [],
                index_name=es.get("index-name", es.get("path", "")) or "",
                username=creds.get("username") or security.get("elastic-user"),
                password=creds.get("password") or security.get("elastic-password"),
                api_key=api_key,
                ssl_enabled=bool(
                    extra.get("use-ssl", security.get("security-enabled", False))
                ),
                ca_certs=security.get("ca-certs-path"),
                client_cert=security.get("client-cert-path"),
                client_key=security.get("client-key-path"),
                check_certificate=bool(
                    extra.get("verify-certs", security.get("check-certificate", True))
                ),
            )

        if "rate-limit-per-sec" in nlp:
            raise ValueError(
                "nlp-service.rate-limit-per-sec is not supported; bound NLP "
                "traffic with mapping.source.batch.threads (the per-task call "
                "pool) or nlp-service.max-in-flight"
            )
        protocol_mode = (
            nlp.get("protocol-mode", nlp.get("endpoint-request-mode", "")) or ""
        )
        if protocol_mode not in PROTOCOL_MODES:
            raise ValueError(
                f"unknown protocol-mode {protocol_mode!r}; expected one of "
                f"{list(PROTOCOL_MODES)}"
            )
        max_in_flight = nlp.get("max-in-flight")
        if max_in_flight is not None and int(max_in_flight) < 1:
            raise ValueError(
                f"nlp-service.max-in-flight must be >= 1, got {max_in_flight!r}"
            )
        interval = int(batch.get("interval", 30))
        if interval < 1:  # date_windows would never reach date-end
            raise ValueError(f"mapping.source.batch.interval must be >= 1, got {interval}")
        # range_filter/date_windows compare ISO date strings; any other
        # format would silently mis-scope every range scan
        for key, iso in (
            ("date-format", "yyyy-MM-dd"),
            ("es-date-format", "yyyy-MM-dd"),
            ("python-date-format", "%Y-%m-%d"),
        ):
            value = batch.get(key, iso)
            if value != iso:
                raise ValueError(
                    f"mapping.source.batch.{key} {value!r} is not supported; "
                    f"only the ISO format {iso!r} is"
                )
        nlp_creds = nlp.section("credentials" if "credentials" in nlp else "security")
        # reference canonical: mapping.index-ingest-mode.same-index
        # (config/config.yml:48-51); engine shorthand: mapping.sink.ingest-mode
        ingest = mapping.section("index-ingest-mode")
        sink_map = mapping.section("sink")
        nlp_map = mapping.section("nlp")
        if "ingest-mode" in sink_map:
            ingest_mode = sink_map.get("ingest-mode")
            if ingest_mode not in INGEST_MODES:
                raise ValueError(f"unknown mapping.sink.ingest-mode {ingest_mode!r}; "
                                 f"expected one of {list(INGEST_MODES)}")
        elif ingest.get("same-index", False):
            ingest_mode = "same-index"
        else:
            ingest_mode = "separate-index"
        cfg = cls(
            source=conn(top.section("source")),
            sink=conn(top.section("sink")),
            nlp=NlpServiceConfig(
                endpoints=nlp.get("endpoints-url", nlp.get("endpoint-url", [])) or [],
                mode=protocol_mode or "medcat",
                username=nlp_creds.get("username", nlp_creds.get("user")) or None,
                password=nlp_creds.get("password") or None,
                max_retries_on_failure=int(nlp.get("max-retries-on-failure", 1)),
                application_params=nlp.get("application-params", {}) or {},
                max_in_flight=None if max_in_flight is None else int(max_in_flight),
            ),
            text_field=src_map.get("text-field", "document"),
            docid_field=src_map.get("docid-field", "_id"),
            persist_fields=src_map.get("persist-fields", ["_id"]) or [],
            date_field=batch.get("date-field", "dct"),
            batch_interval_days=interval,
            date_start=str(batch.get("date-start", "")),
            date_end=str(batch.get("date-end", "")),
            threads=int(batch.get("threads", 4)),
            split_index_by_field=sink_map.get("split-index-by-field", "") or "",
            skip_processed_doc_check=bool(
                nlp_map.get(
                    "skip-processed-doc-check",
                    src_map.get("skip-processed-doc-check", False),
                )
            ),
            ingest_mode=ingest_mode,
            annotation_id_field=nlp_map.get("annotation-id-field", "id") or "id",
            logging_level=int(top.get("logging-level", 20) or 20),
        )
        for key in top.unread():
            log.warning("config key %s is not read by this engine; ignored", key)
        return cfg

    @classmethod
    def from_yaml(cls, path: str) -> "PipelineConfig":
        if yaml is None:  # pragma: no cover
            raise RuntimeError("pyyaml not available")
        with open(path) as fh:
            return cls.from_dict(yaml.safe_load(fh))
