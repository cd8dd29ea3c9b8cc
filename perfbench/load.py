"""The load process: the NLP service stub and two Elasticsearch stubs (the
source index and the sink), outside the program under test.

Run as ``python3 perfbench/load.py <json-settings>``. It prints one JSON
line with the four ports (``nlp``, ``source``, ``sink``, ``ctl``) and
serves until its standard input closes. All four servers share one pool of
``nproc`` handler threads.

The Elasticsearch stubs are ``tests/es_stub.py`` unchanged; a subclass of
its handler only counts requests and bytes. The NLP stub answers each POST
after a fixed service time with a reply precomputed from the corpus, so the
stub spends almost no CPU per call. It records every call's start and end
for the in-flight timeline.

The control server (``ctl``) answers ``GET /stats`` (counters, the NLP call
timeline and this process's CPU time), ``GET /sink_ids`` (ids per sink
index), ``POST /reset_sink``, ``POST /snapshot_sink`` and
``POST /restore_sink``.
"""

from __future__ import annotations

import copy
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tests.es_stub import EsStubState, _Handler  # noqa: E402

import corpus  # noqa: E402


class Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.c: dict[str, int] = {}

    def add(self, **kw: int) -> None:
        with self.lock:
            for k, v in kw.items():
                self.c[k] = self.c.get(k, 0) + v

    def snapshot(self) -> dict[str, int]:
        with self.lock:
            return dict(self.c)


class _CountingIO:
    """Wraps a handler's rfile/wfile to count the bytes through it."""

    def __init__(self, raw) -> None:
        self.raw = raw
        self.n = 0

    def read(self, *a):
        b = self.raw.read(*a)
        self.n += len(b)
        return b

    def readline(self, *a):
        b = self.raw.readline(*a)
        self.n += len(b)
        return b

    def write(self, b):
        self.n += len(b)
        return self.raw.write(b)

    def __getattr__(self, name):
        return getattr(self.raw, name)


class CountingEsHandler(_Handler):
    """The stub's handler, counting scroll and bulk requests and bytes."""

    counters: Counters

    def setup(self) -> None:
        super().setup()
        self.rfile = _CountingIO(self.rfile)
        self.wfile = _CountingIO(self.wfile)

    def do_POST(self) -> None:
        super().do_POST()
        if self.path.startswith("/_bulk"):
            self.counters.add(
                bulk_requests=1, bulk_bytes=self.rfile.n, bulk_items=self._items
            )
        elif "/_search" in self.path and ("scroll" in self.path):
            self.counters.add(scroll_requests=1, scroll_bytes=self.wfile.n)

    def _body(self) -> bytes:
        body = super()._body()
        # ndjson bulk: one action line per item, plus a source line for all
        # but deletes, which the benchmark never sends
        self._items = body.count(b"\n") // 2
        return body


class PooledServer(HTTPServer):
    """An HTTP server whose requests run on a shared, bounded thread pool."""

    def __init__(self, handler, pool: ThreadPoolExecutor) -> None:
        super().__init__(("127.0.0.1", 0), handler)
        self.pool = pool

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._serve_one, request, client_address)

    def _serve_one(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class Load:
    def __init__(self, settings: dict) -> None:
        self.latency_s = settings["latency_ms"] / 1000.0
        docs = corpus.make_corpus(settings["seed"], settings["docs"])
        self.replies = {d.text: corpus.response_bytes(d) for d in docs if d.valid}
        self.source = EsStubState()
        self.source.indices[settings["source_index"]] = {
            str(d.doc_id): d.source() for d in docs
        }
        # the warm-up pass reads this leading share of the corpus
        keep = int(len(docs) * settings["warm_fraction"])
        self.source.indices[settings["warm_index"]] = {
            str(d.doc_id): d.source() for d in docs[:keep]
        }
        self.sink = EsStubState()
        self.sink_snapshot: dict = {}
        self.counters = {"source": Counters(), "sink": Counters(), "nlp": Counters()}
        self.calls: list[tuple[float, float]] = []
        self.calls_lock = threading.Lock()

    def handlers(self):
        load = self

        class NlpHandler(BaseHTTPRequestHandler):
            def log_message(self, *a) -> None:
                pass

            def do_GET(self) -> None:  # the CLI's pre-flight liveness probe
                self._send(200, b"{}")

            def do_POST(self) -> None:
                t0 = time.monotonic()
                body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
                reply = load.replies.get(json.loads(body)["content"]["text"])
                rest = load.latency_s - (time.monotonic() - t0)
                if rest > 0:
                    time.sleep(rest)
                if reply is None:
                    self._send(404, b"{}")
                    load.counters["nlp"].add(unknown=1)
                    return
                self._send(200, reply)
                t1 = time.monotonic()
                with load.calls_lock:
                    load.calls.append((t0, t1))

            def _send(self, status: int, body: bytes) -> None:
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        class CtlHandler(BaseHTTPRequestHandler):
            def log_message(self, *a) -> None:
                pass

            def do_GET(self) -> None:
                if self.path == "/stats":
                    with load.calls_lock:
                        calls = list(load.calls)
                    out = {
                        "cpu_s": time.process_time(),
                        "now": time.monotonic(),
                        "calls": calls,
                        **{k: c.snapshot() for k, c in load.counters.items()},
                    }
                elif self.path == "/sink_ids":
                    with load.sink.lock:
                        out = {i: list(d) for i, d in load.sink.indices.items()}
                else:
                    return self._send(404, {})
                self._send(200, out)

            def do_POST(self) -> None:
                with load.sink.lock:
                    if self.path == "/reset_sink":
                        load.sink.indices.clear()
                    elif self.path == "/snapshot_sink":
                        load.sink_snapshot = copy.deepcopy(load.sink.indices)
                    elif self.path == "/restore_sink":
                        load.sink.indices.clear()
                        load.sink.indices.update(copy.deepcopy(load.sink_snapshot))
                    else:
                        return self._send(404, {})
                    load.sink.scrolls.clear()
                self._send(200, {})

            def _send(self, status: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        def es(state, counters):
            return type(
                "Es", (CountingEsHandler,), {"state": state, "counters": counters}
            )

        return {
            "nlp": NlpHandler,
            "source": es(self.source, self.counters["source"]),
            "sink": es(self.sink, self.counters["sink"]),
            "ctl": CtlHandler,
        }


def main() -> None:
    settings = json.loads(sys.argv[1])
    load = Load(settings)
    with ThreadPoolExecutor(max_workers=settings["threads"]) as pool:
        servers = {k: PooledServer(h, pool) for k, h in load.handlers().items()}
        threads = [
            threading.Thread(target=s.serve_forever, kwargs={"poll_interval": 0.05})
            for s in servers.values()
        ]
        for t in threads:
            t.start()
        print(json.dumps({k: s.server_address[1] for k, s in servers.items()}), flush=True)
        sys.stdin.read()  # the driver closes our stdin to stop us
        for s in servers.values():
            s.shutdown()
            s.server_close()
        for t in threads:
            t.join()


if __name__ == "__main__":
    main()
