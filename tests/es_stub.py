"""Minimal in-process Elasticsearch stub speaking the REST subset the
engine's ES backend uses (bulk ndjson, sliced scroll with ``_source``
filtering and clear-scroll, count, point get, index admin) — stands in
for a live cluster so the write→read round trip is testable hermetically. Semantics mirror the public ES API surface the
reference consumes (ingester/es_common.py:153-330): this is a test double,
not a copy of any implementation.
"""

from __future__ import annotations

import hashlib
import json
import re
import ssl
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any


def _id_slice(doc_id: str, max_slices: int) -> int:
    return int(hashlib.md5(doc_id.encode()).hexdigest()[:8], 16) % max_slices


def _matches(doc: dict[str, Any], query: dict[str, Any] | None) -> bool:
    if not query or "match_all" in query:
        return True
    if "match" in query:
        return all(str(doc.get(k)) == str(v) for k, v in query["match"].items())
    if "range" in query:
        ((field, bounds),) = query["range"].items()
        v = doc.get(field)
        if v is None:
            return False
        ok = True
        if "gte" in bounds:
            ok = ok and str(v) >= str(bounds["gte"])
        if "lte" in bounds:
            ok = ok and str(v) <= str(bounds["lte"])
        return ok
    return False


class EsStubState:
    """``mode`` selects the wire dialect: "7" mirrors a 7.x server (bulk
    items carry ``_type: _doc``, no product header, ``include_type_name``
    accepted-but-deprecated); "8" mirrors 8.x (``X-Elastic-Product:
    Elasticsearch`` on every response — the 8.x client handshake —
    typeless everywhere, ``include_type_name`` rejected, bulk items carry
    ``result``). The reference pins client ~=7.13 (requirements.txt:3); a
    2026 deployment hits 8.x first, so both dialects are test targets."""

    def __init__(self, mode: str = "8") -> None:
        assert mode in ("7", "8")
        self.mode = mode
        self.version = "8.11.0" if mode == "8" else "7.13.4"
        # re-entrant: _reply takes it to count bytes, and some handlers
        # reply while holding it
        self.lock = threading.RLock()
        self.indices: dict[str, dict[str, dict[str, Any]]] = {}
        self.mappings: dict[str, dict[str, Any]] = {}
        # open scroll contexts: remaining pages by scroll id, dropped by
        # DELETE /_search/scroll
        self.scrolls: dict[str, list[dict[str, Any]]] = {}
        self.bytes_sent = 0  # response body bytes, all endpoints
        # observability for assertions: every request's (method, path,
        # auth header, n_bulk_actions)
        self.requests: list[dict[str, Any]] = []


class _Handler(BaseHTTPRequestHandler):
    state: EsStubState  # set by make_server

    def log_message(self, *a) -> None:  # silence per-request stderr noise
        pass

    def _reply(self, obj: dict[str, Any], status: int = 200) -> None:
        body = json.dumps(obj).encode()
        with self.state.lock:
            self.state.bytes_sent += len(body)
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        if self.state.mode == "8":
            self.send_header("X-Elastic-Product", "Elasticsearch")
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> bytes:
        ln = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(ln) if ln else b""

    def _record(self, n_actions: int | None = None) -> None:
        with self.state.lock:
            self.state.requests.append(
                {
                    "method": self.command,
                    "path": self.path,
                    "auth": self.headers.get("Authorization"),
                    "n_actions": n_actions,
                }
            )

    # -- dispatch --------------------------------------------------------
    def do_PUT(self) -> None:
        self._record()
        body = self._body()
        m = re.fullmatch(r"/([^/]+)/_mapping(\?.*)?", self.path)
        with self.state.lock:
            if m:
                params = (m.group(2) or "").lstrip("?")
                if "include_type_name" in params and self.state.mode == "8":
                    # removed in 8.0 — a 7.x-style typed mapping call fails
                    return self._reply(
                        {
                            "error": {
                                "type": "illegal_argument_exception",
                                "reason": "request [PUT /_mapping] contains "
                                "unrecognized parameter: [include_type_name]",
                            }
                        },
                        400,
                    )
                self.state.mappings[m.group(1)] = json.loads(body or b"{}")
                return self._reply({"acknowledged": True})
            index = self.path.strip("/")
            if index in self.state.indices:
                return self._reply(
                    {"error": "resource_already_exists_exception"}, 400
                )
            self.state.indices[index] = {}
        self._reply({"acknowledged": True})

    def do_DELETE(self) -> None:
        self._record()
        if self.path.startswith("/_search/scroll"):
            return self._clear_scroll(json.loads(self._body() or b"{}"))
        index = self.path.strip("/")
        with self.state.lock:
            if index not in self.state.indices:
                return self._reply({"error": "index_not_found_exception"}, 404)
            del self.state.indices[index]
        self._reply({"acknowledged": True})

    def do_GET(self) -> None:
        self._record()
        if self.path in ("/", ""):
            return self._reply(
                {
                    "name": "es-stub",
                    "version": {"number": self.state.version},
                    "tagline": "You Know, for Search",
                }
            )
        m = re.fullmatch(r"/([^/]+)/_doc/([^/]+)", self.path)
        if not m:
            return self._reply({"error": "unsupported"}, 400)
        index, doc_id = m.group(1), m.group(2)
        with self.state.lock:
            doc = self.state.indices.get(index, {}).get(doc_id)
        if doc is None:
            return self._reply({"found": False}, 404)
        resp = {"_index": index, "_id": doc_id, "found": True, "_source": doc}
        if self.state.mode == "7":
            resp["_type"] = "_doc"
        self._reply(resp)

    def do_POST(self) -> None:
        body = self._body()
        if self.path == "/_bulk" or self.path.startswith("/_bulk?"):
            return self._bulk(body)
        self._record()
        if self.path.startswith("/_search/scroll"):
            return self._scroll_next(json.loads(body or b"{}"))
        m = re.fullmatch(r"/([^/]+)/_count", self.path)
        if m:
            q = json.loads(body or b"{}").get("query")
            with self.state.lock:
                docs = list(self.state.indices.get(m.group(1), {}).values())
            return self._reply({"count": sum(1 for d in docs if _matches(d, q))})
        m = re.fullmatch(r"/([^/]+)/_search(\?.*)?", self.path)
        if m:
            return self._search(m.group(1), json.loads(body or b"{}"))
        self._reply({"error": "unsupported"}, 400)

    # -- endpoints -------------------------------------------------------
    def _bulk(self, body: bytes) -> None:
        lines = [ln for ln in body.split(b"\n") if ln.strip()]
        items: list[dict[str, Any]] = []
        i = 0
        n_actions = 0
        with self.state.lock:
            while i < len(lines):
                action = json.loads(lines[i])
                ((op, meta),) = action.items()
                i += 1
                n_actions += 1
                index = meta.get("_index", "")
                doc_id = str(meta.get("_id") or uuid.uuid4())
                store = self.state.indices.setdefault(index, {})
                result = "updated"
                if op == "create" and doc_id in store:
                    # ES semantics: create on an existing id is a per-item
                    # 409 conflict (the payload line is still consumed)
                    i += 1
                    items.append(
                        {
                            op: {
                                "_index": index,
                                "_id": doc_id,
                                "status": 409,
                                "error": {
                                    "type": "version_conflict_engine_exception"
                                },
                            }
                        }
                    )
                    continue
                if op in ("index", "create"):
                    result = "updated" if doc_id in store else "created"
                    store[doc_id] = json.loads(lines[i])
                    i += 1
                elif op == "update":
                    payload = json.loads(lines[i])
                    i += 1
                    new = payload.get("doc", {})
                    if doc_id in store:
                        store[doc_id].update(new)
                    elif payload.get("doc_as_upsert"):
                        store[doc_id] = new
                    else:
                        items.append(
                            {op: {"status": 404, "error": "document_missing"}}
                        )
                        continue
                elif op == "delete":
                    store.pop(doc_id, None)
                    result = "deleted"
                else:
                    items.append({op: {"status": 400, "error": "bad op"}})
                    continue
                item = {"_index": index, "_id": doc_id, "status": 200}
                if self.state.mode == "7":
                    item["_type"] = "_doc"  # types linger in 7.x responses
                else:
                    item["result"] = result  # the 8.x bulk item shape
                items.append({op: item})
        self._record(n_actions=n_actions)
        self._reply({"errors": any(
            next(iter(x.values()))["status"] >= 300 for x in items
        ), "items": items})

    def _search(self, index: str, body: dict[str, Any]) -> None:
        q = body.get("query")
        sl = body.get("slice")
        stored = body.get("stored_fields")
        source = body.get("_source", True)
        with self.state.lock:
            docs = sorted(self.state.indices.get(index, {}).items())
        hits = []
        for doc_id, doc in docs:
            if sl and _id_slice(doc_id, int(sl["max"])) != int(sl["id"]):
                continue
            if not _matches(doc, q):
                continue
            hit = {"_index": index, "_id": doc_id}
            # stored_fields: [] → ids only, no _source (es scan projection);
            # a _source list keeps only the named fields, false drops all
            if stored is None and source is True:
                hit["_source"] = doc
            elif stored is None and source:
                hit["_source"] = {k: doc[k] for k in source if k in doc}
            hits.append(hit)
        size = int(body.get("size", 10))
        page, rest = hits[:size], hits[size:]
        scroll_id = None
        if "scroll=" in self.path or body.get("scroll"):
            scroll_id = uuid.uuid4().hex
            with self.state.lock:
                # remaining pages, pre-chunked by size
                self.state.scrolls[scroll_id] = [
                    rest[j : j + size] for j in range(0, len(rest), size)
                ]
        resp: dict[str, Any] = {"hits": {"total": {"value": len(hits)}, "hits": page}}
        if scroll_id:
            resp["_scroll_id"] = scroll_id
        self._reply(resp)

    def _scroll_next(self, body: dict[str, Any]) -> None:
        sid = body.get("scroll_id", "")
        with self.state.lock:
            pages = self.state.scrolls.get(sid, [])
            page = pages.pop(0) if pages else []
        self._reply({"_scroll_id": sid, "hits": {"hits": page}})

    def _clear_scroll(self, body: dict[str, Any]) -> None:
        ids = body.get("scroll_id", [])
        ids = [ids] if isinstance(ids, str) else ids
        with self.state.lock:
            freed = sum(self.state.scrolls.pop(i, None) is not None for i in ids)
        self._reply({"succeeded": True, "num_freed": freed})


class _StubServer(ThreadingHTTPServer):
    # one stage of a local[32] session opens up to 32 connections at once;
    # socketserver's default listen backlog of 5 overflows the accept queue
    # and the surplus connections are reset
    request_queue_size = 128


def start_es_stub(
    mode: str = "8", certfile: str | None = None, keyfile: str | None = None
) -> tuple[ThreadingHTTPServer, EsStubState, str]:
    """Start the stub on an ephemeral localhost port; returns
    (server, state, base_url). Call ``server.shutdown()`` when done.
    ``mode`` picks the 7.x or 8.x wire dialect (see EsStubState). With a
    ``certfile`` (and its ``keyfile``) the stub speaks HTTPS."""
    state = EsStubState(mode=mode)
    handler = type("Handler", (_Handler,), {"state": state})
    server = _StubServer(("127.0.0.1", 0), handler)
    scheme = "http"
    if certfile:
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(certfile, keyfile)
        server.socket = ctx.wrap_socket(server.socket, server_side=True)
        scheme = "https"
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, state, f"{scheme}://127.0.0.1:{server.server_address[1]}"
