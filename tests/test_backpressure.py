"""Annotate-stage concurrency bound: at 100 TB the stage runs
running tasks × threads concurrent HTTP calls; the reference bounds this
at one 128-thread node (reference: config.yml:64,
ingester/annotations_indexer.py:311). Here each running task has its own
Python worker process and its own client, so the client's pool
(``threads``, capped by ``max_in_flight``) is the one bound. These tests
prove the cap holds, including under a real local mapInPandas run with an
injectable transport counting concurrency per worker process."""

from __future__ import annotations

import os
import threading
import time

import pytest

from annotations_ingester_spark.annotator.service import HttpNlpClient


def test_gate_caps_in_flight_across_threads():
    """HttpNlpClient(threads=16, max_in_flight=3) over 16 docs: observed
    peak concurrency inside the transport is exactly 3."""
    lock = threading.Lock()
    state = {"now": 0, "peak": 0}

    def transport(url, text):
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        time.sleep(0.03)
        with lock:
            state["now"] -= 1
        return {"result": {"annotations": {"entities": {}}}}

    client = HttpNlpClient(["ep"], threads=16, transport=transport, max_in_flight=3)
    out = client.annotate_batch(list(range(16)), ["text"] * 16)
    assert out == [[]] * 16
    assert state["peak"] == 3
    with pytest.raises(ValueError):
        HttpNlpClient(["ep"], max_in_flight=0)


def test_annotate_cap_holds_under_local32(spark, tmp_path):
    """Under a real local mapInPandas run, the in-flight cap holds in
    every Python worker process. The injectable transport appends
    enter/leave records (pid, monotonic ts) with O_APPEND atomic writes;
    post-hoc we recompute per-pid peak concurrency. A reused worker runs
    one task at a time, so the invariant is: peak <= cap within each
    pid."""
    from annotations_ingester_spark.annotator.udf import annotate

    trace = str(tmp_path / "inflight.log")
    cap = 2

    def factory():
        def transport(url, text):
            pid = os.getpid()
            fd = os.open(trace, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, f"{pid} S {time.monotonic():.6f}\n".encode())
                time.sleep(0.02)  # hold the slot long enough to overlap
                os.write(fd, f"{pid} E {time.monotonic():.6f}\n".encode())
            finally:
                os.close(fd)
            return {"result": {"annotations": {"entities": {
                "0": {"id": 0, "cui": "C1", "start": 0, "end": 1}
            }}}}

        return HttpNlpClient(
            ["ep"], mode="medcat", threads=8, transport=transport,
            max_in_flight=cap,
        )

    docs = spark.createDataFrame(
        [(i, "a reasonably long document body") for i in range(48)],
        "doc_id long, text string",
    ).repartition(8)
    ann = annotate(docs, factory)
    rows = ann.select("doc_id", "entities").collect()
    assert len(rows) == 48
    assert all(r.entities is not None and len(r.entities) == 1 for r in rows)

    events: dict[int, list[tuple[float, int]]] = {}
    with open(trace) as f:
        for line in f:
            pid_s, kind, ts = line.split()
            events.setdefault(int(pid_s), []).append(
                (float(ts), 1 if kind == "S" else -1)
            )
    assert sum(len(v) for v in events.values()) == 2 * 48
    global_peak = 0
    for pid, evs in events.items():
        now = peak = 0
        for _, delta in sorted(evs):
            now += delta
            peak = max(peak, now)
        assert peak <= cap, f"pid {pid} reached {peak} in-flight > cap {cap}"
        global_peak = max(global_peak, peak)
    # Teeth: with 8 in-batch threads vs cap 2, at least one worker must
    # actually have hit the cap — otherwise this test proves nothing.
    assert global_peak == cap


def test_config_parses_backpressure_knobs():
    from annotations_ingester_spark.config import PipelineConfig

    def cfg(**nlp):
        return PipelineConfig.from_dict(
            {
                "source": {"index-name": "src"},
                "sink": {"index-name": "dst"},
                "nlp-service": {"endpoints-url": ["http://nlp:5000"], **nlp},
                "mapping": {},
            }
        )

    assert cfg(**{"max-in-flight": "16"}).nlp.max_in_flight == 16
    # absent → None: the call pool alone bounds calls in flight
    assert cfg().nlp.max_in_flight is None
    with pytest.raises(ValueError, match="max-in-flight must be >= 1"):
        cfg(**{"max-in-flight": 0})
    # the removed rate limiter is refused, not silently ignored
    with pytest.raises(ValueError, match="rate-limit-per-sec"):
        cfg(**{"max-in-flight": 16, "rate-limit-per-sec": 250})


def test_pipeline_w1_backpressure_knobs_from_yaml(spark, tmp_path):
    """The concurrency knobs travel the FULL config path — YAML file →
    PipelineConfig → the CLI's ``annotator_factory`` → HttpNlpClient —
    inside a real W1 flat pipeline run (valid_text_filter → annotate
    mapInPandas → explode → meta./nlp. projection → dedup), and the cap
    is provably ENGAGED: the injectable transport counts per-pid in-flight
    concurrency and the observed peak must EQUAL the YAML cap (the 8
    in-batch threads the YAML asks for would exceed it if the plumbing
    rotted anywhere)."""
    import yaml

    from annotations_ingester_spark.annotator.registry import annotator_factory
    from annotations_ingester_spark.config import PipelineConfig
    from annotations_ingester_spark.plans.pipeline import AnnotationPipeline

    cfg_path = tmp_path / "w1_backpressure.yml"
    cfg_path.write_text(
        yaml.safe_dump(
            {
                "source": {"index-name": "src_docs"},
                "sink": {"index-name": "ann_flat"},
                "nlp-service": {
                    "endpoints-url": ["http://nlp-e2e-bp:5000"],
                    "protocol-mode": "medcat",
                    "max-in-flight": 2,
                },
                "mapping": {
                    "source": {
                        "text-field": "text",
                        "docid-field": "doc_id",
                        "persist-fields": ["doc_id"],
                        "batch": {"threads": 8},
                    },
                },
            }
        )
    )
    cfg = PipelineConfig.from_yaml(str(cfg_path))
    assert cfg.nlp.max_in_flight == 2
    assert cfg.threads == 8
    assert (cfg.text_field, cfg.docid_field) == ("text", "doc_id")

    trace = str(tmp_path / "inflight_w1.log")
    nlp = cfg.nlp
    # built the way __main__.py builds it
    factory = annotator_factory(
        nlp.endpoints,
        nlp.mode,
        params=nlp.application_params,
        retries=nlp.max_retries_on_failure,
        auth=(nlp.username, nlp.password) if nlp.username else None,
        threads=cfg.threads,
        max_in_flight=nlp.max_in_flight,
    )

    def annotator():  # the CLI's client minus the live socket
        def transport(url, text):
            pid = os.getpid()
            fd = os.open(trace, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, f"{pid} S {time.monotonic():.6f}\n".encode())
                time.sleep(0.02)
                os.write(fd, f"{pid} E {time.monotonic():.6f}\n".encode())
            finally:
                os.close(fd)
            return {"result": {"annotations": {"entities": {
                "0": {"id": 0, "cui": "C1", "start": 0, "end": 5,
                      "pretty_name": "thing"}
            }}}}

        client = factory()
        client._transport = transport
        return client

    pipe = AnnotationPipeline(
        annotator,
        text_field=cfg.text_field,
        docid_field=cfg.docid_field,
        persist_fields=cfg.persist_fields,
        mode=cfg.nlp.mode,
    )
    docs = spark.createDataFrame(
        [(f"d{i}", "a reasonably long document body") for i in range(48)],
        f"{cfg.docid_field} string, {cfg.text_field} string",
    ).repartition(8)
    rows = pipe.flat(docs).collect()
    assert len(rows) == 48  # one entity per doc survived explode+project

    events: dict[int, list[tuple[float, int]]] = {}
    with open(trace) as f:
        for line in f:
            pid_s, kind, ts = line.split()
            events.setdefault(int(pid_s), []).append(
                (float(ts), 1 if kind == "S" else -1)
            )
    assert sum(len(v) for v in events.values()) == 2 * 48
    global_peak = 0
    for pid, evs in events.items():
        now = peak = 0
        for _, delta in sorted(evs):
            now += delta
            peak = max(peak, now)
        assert peak <= cfg.nlp.max_in_flight, (
            f"pid {pid} reached {peak} in-flight > YAML cap {cfg.nlp.max_in_flight}"
        )
        global_peak = max(global_peak, peak)
    assert global_peak == cfg.nlp.max_in_flight  # engaged, not just unviolated
