"""Pure-Python Elasticsearch REST backend (stdlib urllib) — the fallback
when the ``org.elasticsearch.spark.sql`` connector jar is absent, and the
hermetic round-trip target for the ES stub tests.

Speaks the same public REST subset the reference uses:

- bulk ndjson writes, chunk 10000 / 30 s timeout, per-item failure
  counting (ingester/es_common.py:98-99, 181-210)
- scroll scans (es_common.py:273-292) — upgraded to the public *sliced*
  scroll so the read parallelizes one-scroll-per-Spark-task (the same
  parallel-scan shape the connector gets from one-partition-per-shard;
  the reference's single scroll is the 1-slice special case). Reads ask
  only for the ``_source`` fields the schema names (none for an id-only
  read, the reference's ``stored_fields: []`` projection), stream one
  page at a time, merge ``_id``/``_index`` into each doc, and free each
  scroll context (``DELETE /_search/scroll``) when done
- range queries pushed down in the request body (es_common.py:303-330)
- create-index / drop-index / put-mapping admin calls
  (es_common.py:162-167; annotations_indexer.py:835-840)

Distribution discipline: writes run ``df.foreachPartition`` (each task
bulk-posts its own partition — nothing funnels through the driver); reads
run ``mapInPandas`` over one slice per partition, as many slices as task
slots, so the whole source is read in one wave with no shuffle. Auth mirrors
``es_common_options``: basic auth or ApiKey header, from the same
``ConnectorConfig``. So does TLS for an ``https://`` host: the config's CA
file, client certificate/key and ``check_certificate`` (``verify-certs``)
set up the context, as they do the connector's ``es.net.ssl*`` options.
"""

from __future__ import annotations

import base64
import functools
import json
import logging
import ssl
import urllib.error
import urllib.request
from collections.abc import Iterable, Iterator
from itertools import islice
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from annotations_ingester_spark.config import ConnectorConfig
from annotations_ingester_spark.functions.names import format_index_name
from annotations_ingester_spark.operators.antijoin import sink_doc_ids
from annotations_ingester_spark.pyfiles import (
    ensure_worker_imports,
    map_in_pandas,
    trim_worker_import_cache,
)
from annotations_ingester_spark.sources.elasticsearch import (  # noqa: F401
    BULK_CHUNK_SIZE,
    BULK_REQUEST_TIMEOUT_S,
    stored,  # the same ``_id`` keying: a repeated row id overwrites its copy
)

log = logging.getLogger(__name__)

# Elasticsearch's default ``index.max_slices_per_scroll``
MAX_SLICES_PER_SCROLL = 1024


def chunked(items: Iterable[Any], size: int) -> Iterator[list[Any]]:
    """Consecutive lists of at most ``size`` items, pulling each item only
    when its chunk is filled — a consumer that posts each chunk before
    asking for the next holds at most ``size`` items (the generator
    consumption of the reference's ``streaming_bulk``,
    es_common.py:193-210)."""
    it = iter(items)
    while chunk := list(islice(it, size)):
        yield chunk


def _headers(conf: ConnectorConfig) -> dict[str, str]:
    h = {"Content-Type": "application/json"}
    if conf.username and conf.password:
        tok = base64.b64encode(f"{conf.username}:{conf.password}".encode()).decode()
        h["Authorization"] = f"Basic {tok}"
    elif conf.api_key:
        h["Authorization"] = f"ApiKey {conf.api_key}"
    return h


def _base_url(conf: ConnectorConfig) -> str:
    host = conf.hosts[0]
    if not host.startswith(("http://", "https://")):
        host = ("https://" if conf.ssl_enabled else "http://") + host
    return host.rstrip("/")


@functools.lru_cache(maxsize=None)
def _ssl_context(
    ca_certs: str | None, client_cert: str | None, client_key: str | None, verify: bool
) -> ssl.SSLContext:
    """The TLS context for one set of ``ConnectorConfig`` settings, built
    once per process: a context does not pickle, so a client carries the
    settings into its tasks and each process builds its own."""
    ctx = ssl.create_default_context(cafile=ca_certs)
    if not verify:
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    if client_cert:
        ctx.load_cert_chain(client_cert, client_key)
    return ctx


def _hit_doc(hit: dict[str, Any]) -> dict[str, Any]:
    """A search hit as its ``_source`` with ``_id``/``_index`` merged in."""
    doc = dict(hit.get("_source") or {})
    doc["_id"] = hit.get("_id")
    doc["_index"] = hit.get("_index")
    return doc


class EsRestClient:
    """Driver- or executor-side client for the REST subset above. Plain
    picklable state (url, headers, TLS settings) so executors can construct
    requests inside ``foreachPartition``/``mapInPandas`` closures."""

    def __init__(self, conf: ConnectorConfig):
        self.url = _base_url(conf)
        self.headers = _headers(conf)
        self.index = format_index_name(conf.index_name) if conf.index_name else ""
        self.tls = (conf.ca_certs, conf.client_cert, conf.client_key, conf.check_certificate)

    def _request(
        self,
        path: str,
        body: bytes | None = None,
        method: str = "GET",
        content_type: str | None = None,
        with_headers: bool = False,
    ) -> dict[str, Any] | tuple[dict[str, Any], dict[str, str]]:
        hdrs = dict(self.headers)
        if content_type:
            hdrs["Content-Type"] = content_type
        req = urllib.request.Request(self.url + path, data=body, headers=hdrs, method=method)
        context = _ssl_context(*self.tls) if self.url.startswith("https://") else None
        with urllib.request.urlopen(
            req, timeout=BULK_REQUEST_TIMEOUT_S, context=context
        ) as resp:
            payload = resp.read()
            resp_headers = {k.lower(): v for k, v in resp.headers.items()}
        parsed = json.loads(payload) if payload else {}
        return (parsed, resp_headers) if with_headers else parsed

    # -- compat handshake -------------------------------------------------
    def verify_compat(self) -> int:
        """The version handshake official 8.x clients perform: read the
        server major from GET /; an 8.x+ server MUST also send the
        ``X-Elastic-Product: Elasticsearch`` response header (added in
        8.0 precisely so clients can tell a real ES from a lookalike).
        Returns the major version; raises on a missing/invalid product
        header from an 8.x server or an unsupported major (<7). The
        REST subset this backend speaks (typeless mappings, untyped
        ``_doc`` endpoints, ndjson bulk) is valid wire traffic on both
        7.x and 8.x, so no request shape changes with the version."""
        body, resp_headers = self._request("/", with_headers=True)
        number = str(body.get("version", {}).get("number", ""))
        major = int(number.split(".")[0]) if number.split(".")[0].isdigit() else 0
        if major >= 8 and resp_headers.get("x-elastic-product") != "Elasticsearch":
            raise RuntimeError(
                f"server reports {number} but is missing the X-Elastic-Product "
                "header — not a genuine Elasticsearch 8.x endpoint"
            )
        if major < 7:
            raise RuntimeError(f"unsupported Elasticsearch version: {number!r}")
        return major

    # -- admin -----------------------------------------------------------
    def create_index(self, index: str | None = None) -> None:
        try:
            self._request(f"/{index or self.index}", b"{}", "PUT")
        except urllib.error.HTTPError as e:
            if e.code != 400:  # already exists
                raise

    def drop_index(self, index: str | None = None) -> None:
        # reference: es_common.py:162-167 (errors logged, not raised)
        try:
            self._request(f"/{index or self.index}", method="DELETE")
        except urllib.error.HTTPError as e:
            log.warning("drop_index(%s): %s", index or self.index, e)

    def put_mapping(self, mapping: dict[str, Any], index: str | None = None) -> None:
        # reference: annotations_indexer.py:835-840
        self._request(
            f"/{index or self.index}/_mapping",
            json.dumps(mapping).encode(),
            "PUT",
        )

    # -- scan ------------------------------------------------------------
    def scroll_pages(
        self,
        slice_id: int,
        max_slices: int,
        query: dict[str, Any] | None = None,
        page_size: int = 1000,
        source: list[str] | None = None,
    ) -> Iterator[list[dict[str, Any]]]:
        """One slice of a sliced scroll, yielded page by page: the next
        page is requested only when the caller asks for it, so a consumer
        holds at most ``page_size`` docs (the scan-API posture of
        es_common.py:286-289 — never the first-page-only ``search`` bug of
        es_common.py:246-252). ``source`` names the ``_source`` fields to
        fetch (an empty list fetches none, for an id-only read; ``None``
        fetches all). The scroll context is cleared once the slice is
        exhausted or the generator is closed."""
        body: dict[str, Any] = {"size": page_size, "query": query or {"match_all": {}}}
        if source is not None:
            # ES reads an empty include list as "everything"
            body["_source"] = source or False
        if max_slices > 1:
            body["slice"] = {"id": slice_id, "max": max_slices}
        r = self._request(
            f"/{self.index}/_search?scroll=1m",
            json.dumps(body).encode(),
            "POST",
        )
        sid = r.get("_scroll_id")
        try:
            while hits := r.get("hits", {}).get("hits", []):
                yield [_hit_doc(h) for h in hits]
                if not sid:
                    return
                r = self._request(
                    "/_search/scroll",
                    json.dumps({"scroll": "1m", "scroll_id": sid}).encode(),
                    "POST",
                )
                sid = r.get("_scroll_id", sid)
        finally:
            if sid:
                # best-effort: an open context only lingers until its 1m
                # keep-alive runs out
                try:
                    self._request(
                        "/_search/scroll",
                        json.dumps({"scroll_id": [sid]}).encode(),
                        "DELETE",
                    )
                except (OSError, ValueError) as e:  # HTTPError is an OSError
                    log.debug("clear scroll %s: %s", sid, e)

    def search_page(self, size: int = 100) -> list[dict[str, Any]]:
        """One plain (non-scroll) search page of at most ``size`` docs —
        for bounded driver-side samples. NOT a full scan: the reference's
        first-page-only ``get_doc_ids`` bug (es_common.py:246-252) came
        from using exactly this where a scroll was needed; scans go
        through :meth:`scroll_pages`."""
        body = {"size": size, "query": {"match_all": {}}}
        r = self._request(
            f"/{self.index}/_search",
            json.dumps(body).encode(),
            "POST",
        )
        return [_hit_doc(h) for h in r.get("hits", {}).get("hits", [])]

    # -- bulk ------------------------------------------------------------
    def bulk(
        self,
        actions: list[dict[str, Any]],
        chunk_size: int = BULK_CHUNK_SIZE,
        raise_on_error: bool = False,
    ) -> tuple[int, int]:
        """ndjson _bulk in ``chunk_size`` chunks; returns (ok, failed) with
        failures counted-and-logged, not raised (reference streaming_bulk
        semantics, es_common.py:193-210)."""
        ok = failed = 0
        for chunk in chunked(actions, chunk_size):
            lines: list[bytes] = []
            for a in chunk:
                op = a.get("_op_type", "index")
                meta: dict[str, Any] = {"_index": a.get("_index", self.index)}
                if a.get("_id") is not None:
                    meta["_id"] = a["_id"]
                lines.append(json.dumps({op: meta}).encode())
                src = {
                    k: v for k, v in a.items() if k not in ("_op_type", "_index", "_id")
                }
                if op == "update":
                    lines.append(
                        json.dumps({"doc": src, "doc_as_upsert": True}).encode()
                    )
                else:
                    lines.append(json.dumps(src).encode())
            body = b"\n".join(lines) + b"\n"
            r = self._request(
                "/_bulk",
                body,
                "POST",
                content_type="application/x-ndjson",
            )
            for item in r.get("items", []):
                result = next(iter(item.values()), {})
                if int(result.get("status", 500)) < 300:
                    ok += 1
                else:
                    failed += 1
                    log.warning("bulk item failed: %s", result)
        if failed and raise_on_error:
            raise RuntimeError(f"{failed} bulk items failed")
        return ok, failed


def write_es_rest(
    df: DataFrame,
    conf: ConnectorConfig,
    mapping_id: str | None = "row_id",
    upsert: bool = False,
    split_suffix_field: str | None = None,
    chunk_size: int = BULK_CHUNK_SIZE,
) -> None:
    """Distributed bulk write: each partition posts its own rows through
    ``EsRestClient.bulk``, one ``chunk_size`` chunk as soon as it fills
    (executor-side HTTP, driver ships only the plan — the reference's
    thread-pool writers become Spark tasks). Deterministic
    ``mapping_id`` gives idempotent re-runs (B2); ``split_suffix_field``
    implements the W2 per-value index routing ``base-{value}`` with F1 name
    normalization (es_common.py:133-151).

    No Exchange precedes the write in the CLI's plan (flat or W4), so each
    ``foreachPartition`` task is an annotate task: it builds and
    bulk-posts its own rows, and a mapping id seen twice overwrites its
    ``_id``. The cost is the failure mode: a bulk HTTP error (the request
    itself, not a per-item failure, which is counted and logged) fails the
    annotate task, so on a cluster a retried task annotates its partition
    again before it re-posts."""
    ensure_worker_imports(df.sparkSession)
    client = EsRestClient(conf)
    base = client.index
    op = "update" if upsert else "index"

    def action(row) -> dict[str, Any]:
        d = row.asDict(recursive=True)
        a: dict[str, Any] = {"_op_type": op}
        if mapping_id and d.get(mapping_id) is not None:
            a["_id"] = str(d[mapping_id])
        if split_suffix_field:
            a["_index"] = format_index_name(
                f"{base}-{d.get(split_suffix_field, '')}"
            )
        a.update(d)
        return a

    def write_partition(rows) -> None:
        trim_worker_import_cache()
        for chunk in chunked(map(action, rows), chunk_size):
            client.bulk(chunk, chunk_size=chunk_size)

    df.foreachPartition(write_partition)


def infer_es_rest_schema(
    spark: SparkSession, conf: ConnectorConfig, sample_size: int = 100
) -> T.StructType:
    """Schema inference for the schemaless source (ES dynamic-mapping
    parity): one bounded driver-side sample page (``sample_size`` docs, a
    scalar-sized fetch — never the corpus) run through Spark's own
    inference. Callers who know the schema should pass it to
    :func:`read_es_rest` directly and skip the sample round trip."""
    docs = EsRestClient(conf).search_page(size=sample_size)
    if not docs:
        raise ValueError(
            f"cannot infer schema: index {conf.index_name!r} returned no documents"
        )
    return spark.createDataFrame(docs).schema


def read_es_rest(
    spark: SparkSession,
    conf: ConnectorConfig,
    schema: T.StructType | str,
    query: dict[str, Any] | None = None,
    slices: int | None = None,
) -> DataFrame:
    """Distributed sliced-scroll read: one Spark task per scroll slice, each
    fetching its slice independently (the REST twin of the connector's
    partition-per-shard scan). ``slices`` defaults to the session's task
    slots (``defaultParallelism``, capped at ES's default
    ``index.max_slices_per_scroll``), so every slice runs in the first wave
    of tasks; the slice frame has one slice per partition, so no shuffle
    precedes the scroll. Each task streams its slice one scroll page at a
    time (a worker never holds more than a page) and clears its scroll
    context when done. ``schema`` is caller-declared — ES is schemaless,
    and guessing would make plans data-dependent; only its fields are
    fetched from ``_source``. ``_id`` and ``_index`` are merged in when the
    schema asks for them (S4 metadata parity)."""
    import pandas as pd

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    client = EsRestClient(conf)
    names = [f.name for f in schema.fields]
    source = [name for name in names if name not in ("_id", "_index")]
    if slices is None:
        slices = min(spark.sparkContext.defaultParallelism, MAX_SLICES_PER_SCROLL)
    n = max(1, slices)

    def fetch(batches):
        for pdf in batches:
            for sid in pdf["slice_id"]:
                for docs in client.scroll_pages(int(sid), n, query, source=source):
                    yield pd.DataFrame(
                        {name: [d.get(name) for d in docs] for name in names}
                    )

    slice_df = spark.range(0, n, 1, n).toDF("slice_id")
    return map_in_pandas(slice_df, fetch, schema)


def check(conf: ConnectorConfig) -> None:
    """The version handshake (``EsRestClient.verify_compat``): an
    unreachable, pre-7.x or lookalike server fails before any Spark job is
    planned — the reference's ``check_url_available`` posture (utils.py:7-14)
    upgraded to the official client handshake."""
    EsRestClient(conf).verify_compat()


def read(
    spark: SparkSession, conf: ConnectorConfig, query: dict[str, Any] | None = None
) -> DataFrame:
    """Sliced-scroll read of ``conf.index_name`` with the schema inferred
    from a bounded sample (ES dynamic-mapping parity); ``query`` is pushed
    down into the scroll body (S3 parity, es_common.py:303-330), so
    out-of-range docs never leave the cluster."""
    return read_es_rest(spark, conf, infer_es_rest_schema(spark, conf), query=query)


def done_ids(spark: SparkSession, conf: ConnectorConfig, docid_field: str) -> DataFrame | None:
    """Distinct doc ids already in the sink index; None when the index is
    absent (HTTP 404) or empty. Only the id column is read: a 1-doc sample
    picks its name and type, then a narrow sliced scroll fetches just that
    field (the annotation rows' map-typed fields never round-trip)."""
    try:
        sample = EsRestClient(conf).search_page(size=1)
    except urllib.error.HTTPError as exc:
        if exc.code == 404:
            return None
        raise
    if not sample:
        return None
    for col in (f"meta.{docid_field}", docid_field):
        if col in sample[0]:
            typ = T.LongType() if isinstance(sample[0][col], int) else T.StringType()
            written = read_es_rest(spark, conf, T.StructType([T.StructField(col, typ)]))
            return sink_doc_ids(written, docid_field)
    return None


def write(
    df: DataFrame,
    conf: ConnectorConfig,
    *,
    mapping_id: str | None,
    upsert: bool,
    split_suffix_field: str | None,
) -> None:
    """:func:`write_es_rest` with the default chunk size; an upsert is a
    ``doc_as_upsert`` update, which for W4 doc rows replaces the stored
    annotations array like the connector's scripted upsert (the merge
    already happened engine-side)."""
    write_es_rest(
        df, conf, mapping_id=mapping_id, upsert=upsert, split_suffix_field=split_suffix_field
    )
