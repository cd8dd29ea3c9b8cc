"""Elasticsearch connector option mapping (SURVEY §2.1 S6/S7/S10).

Maps the engine's ``ConnectorConfig`` (same YAML surface as the reference's
ES client wiring, ingester/es_common.py:49-85) onto the public
``org.elasticsearch.spark.sql`` ("es") data source options:

- hosts             → ``es.nodes`` (inline ``host:port`` per node)
- basic auth        → ``es.net.http.auth.user`` / ``.pass``
- API key           → ``es.net.http.header.Authorization`` (ApiKey scheme)
- SSL + CA/client   → ``es.net.ssl*`` options
- bulk tuning       → ``es.batch.size.entries`` = 10000 (the reference's
  BULK_CHUNK_SIZE, es_common.py:98), retries, timeout (es_common.py:99)
- idempotent writes → ``es.mapping.id`` with the deterministic row id
  (annotations_indexer.py:221) so re-runs upsert instead of duplicating
- W2 split sink     → dynamic resource pattern ``{index}-{suffix_field}``
- W3 same-index     → ``es.write.operation=upsert``

The connector jar is not bundled in this environment; ``read``/``done_ids``/
``write`` raise a clear error when the format is unavailable, and everything
below them (option construction) is plain-Python tested.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from annotations_ingester_spark.config import ConnectorConfig
from annotations_ingester_spark.operators.antijoin import sink_doc_ids

ES_FORMAT = "org.elasticsearch.spark.sql"
BULK_CHUNK_SIZE = 10_000  # reference: es_common.py:98
BULK_REQUEST_TIMEOUT_S = 30  # reference: es_common.py:99


def _nodes(hosts: list[str]) -> str:
    """``es.nodes`` in the connector's inline ``host:port`` form. A single
    global ``es.port`` would silently misconfigure clusters whose nodes
    listen on heterogeneous ports (the connector applies inline ports
    per-node; portless hosts keep its 9200 default)."""
    return ",".join(
        h.replace("http://", "").replace("https://", "") for h in hosts
    )


def es_common_options(conf: ConnectorConfig) -> dict[str, str]:
    opts: dict[str, str] = {"es.nodes": _nodes(conf.hosts)}
    if conf.username and conf.password:
        opts["es.net.http.auth.user"] = conf.username
        opts["es.net.http.auth.pass"] = conf.password
    elif conf.api_key:
        opts["es.net.http.header.Authorization"] = f"ApiKey {conf.api_key}"
    if conf.ssl_enabled:
        opts["es.net.ssl"] = "true"
        if conf.ca_certs:
            opts["es.net.ssl.cert.allow.self.signed"] = str(
                not conf.check_certificate
            ).lower()
            opts["es.net.ssl.truststore.location"] = conf.ca_certs
        if conf.client_cert:
            opts["es.net.ssl.keystore.location"] = conf.client_cert
        if conf.client_key and conf.client_key != conf.client_cert:
            # the connector has no separate private-key option: it expects a
            # keystore combining cert+key. A separately-configured key file
            # cannot be honored — fail loudly instead of silently dropping it.
            raise ValueError(
                "elasticsearch connector takes a combined keystore: bundle the "
                "client cert and key into one keystore file and set client_cert "
                "to it (client_key alone cannot be passed through)"
            )
    return opts


def es_read_options(conf: ConnectorConfig, query: str | None = None) -> dict[str, str]:
    """Scan options: scroll-based parallel read, one input partition per ES
    shard (the scalable twin of the reference's scan API choice,
    es_common.py:286-289); optional ``es.query`` pushdown (S3 range)."""
    opts = es_common_options(conf)
    opts["es.resource"] = conf.index_name
    opts["es.read.metadata"] = "true"  # merge _id/_index like es_common.py:219-231
    if query:
        opts["es.query"] = query
    return opts


# W3 same-index merge: replace the doc's annotations array with the merged
# set the engine computed (the reference's painless scripted update,
# annotations_indexer.py:155-163 — dedup happens engine-side there too,
# :151-153, so the script only assigns)
PAINLESS_SET_ANNOTATIONS = (
    "ctx._source.annotations = new ArrayList(); "
    "ctx._source.annotations = params.annotations"
)


def es_write_options(
    conf: ConnectorConfig,
    mapping_id: str | None = "row_id",
    upsert: bool = False,
    split_suffix_field: str | None = None,
    scripted_upsert: bool = False,
    annotations_field: str = "annotations",
) -> dict[str, str]:
    """Bulk sink options with the reference's batch tuning (S7) and
    idempotency via deterministic doc ids (B2). ``scripted_upsert`` maps the
    reference's painless scripted update (W3) onto the connector's
    ``es.update.script.*`` options."""
    opts = es_common_options(conf)
    resource = conf.index_name
    if split_suffix_field:
        resource = f"{conf.index_name}-{{{split_suffix_field}}}"  # W2 dynamic routing
    opts["es.resource"] = resource
    opts["es.batch.size.entries"] = str(BULK_CHUNK_SIZE)
    opts["es.http.timeout"] = f"{BULK_REQUEST_TIMEOUT_S}s"
    opts["es.batch.write.retry.count"] = "3"
    if mapping_id:
        opts["es.mapping.id"] = mapping_id
    if upsert or scripted_upsert:
        opts["es.write.operation"] = "upsert"
    if scripted_upsert:
        opts["es.update.script.inline"] = PAINLESS_SET_ANNOTATIONS
        opts["es.update.script.lang"] = "painless"
        # connector param syntax: script-param:dataframe-column
        opts["es.update.script.params"] = f"annotations:{annotations_field}"
    return opts


def _require_format(spark: SparkSession) -> None:
    jvm_ok = True
    try:
        spark._jvm.java.lang.Class.forName("org.elasticsearch.spark.sql.DefaultSource")
    except Exception:
        jvm_ok = False
    if not jvm_ok:
        raise RuntimeError(
            "elasticsearch-spark connector jar not on the classpath; add "
            "org.elasticsearch:elasticsearch-spark-30_2.13 via spark.jars.packages "
            "(parquet backend is the hermetic default)"
        )


def check(conf: ConnectorConfig) -> None:
    """Nothing to reach before the session: the jar probe needs one, and
    the connector's own first request reports an unreachable cluster."""


def read(
    spark: SparkSession, conf: ConnectorConfig, query: dict[str, Any] | None = None
) -> DataFrame:
    """Scroll scan of ``conf.index_name``; ``query`` (a query DSL clause)
    is pushed down as ``es.query``."""
    _require_format(spark)
    es_query = json.dumps({"query": query}) if query else None
    return spark.read.format(ES_FORMAT).options(**es_read_options(conf, es_query)).load()


def done_ids(spark: SparkSession, conf: ConnectorConfig, docid_field: str) -> DataFrame | None:
    """Distinct doc ids already in the sink index; None when the index was
    never written (the connector reads a missing index as an empty,
    column-less frame)."""
    _require_format(spark)
    written = (
        spark.read.format(ES_FORMAT)
        .options(**es_read_options(conf))
        .option("es.index.read.missing.as.empty", "true")
        .load()
    )
    return sink_doc_ids(written, docid_field)


def stored(
    df: DataFrame, *, mapping_id: str | None, split_suffix_field: str | None
) -> DataFrame:
    """The frame as given: each bulk item carries ``_id`` = ``mapping_id``
    into its (``split_suffix_field``-routed) index, so a repeated row id
    overwrites its earlier copy instead of adding a second doc."""
    return df


def write(
    df: DataFrame,
    conf: ConnectorConfig,
    *,
    mapping_id: str | None,
    upsert: bool,
    split_suffix_field: str | None,
) -> None:
    """Bulk append through ``es_write_options``. An upsert of W4 doc rows
    (the ones carrying an ``annotations`` array) runs the painless script
    that replaces the stored array; any other upsert is a plain
    ``es.write.operation=upsert``."""
    _require_format(df.sparkSession)
    opts = es_write_options(
        conf,
        mapping_id=mapping_id,
        upsert=upsert,
        split_suffix_field=split_suffix_field,
        scripted_upsert=upsert and "annotations" in df.columns,
    )
    df.write.format(ES_FORMAT).options(**opts).mode("append").save()
