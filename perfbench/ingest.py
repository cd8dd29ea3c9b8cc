"""The ingest workloads: Elasticsearch source → NLP service →
Elasticsearch sink, driven through the real CLI
(``annotations_ingester_spark.__main__.main``) against the load process.

Each timed pass is one CLI run over the whole corpus. Before each pass,
untimed, the sink is emptied (``ingest_nlp_bound``) or restored to its
seeded state (``ingest_resume``). After each pass, also untimed, the sink's
ids are checked against the expected set.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import yaml

import corpus
import harness

NLP_PATH = "/api/process"


@dataclass(frozen=True)
class Ingest:
    docs: int  # corpus size
    resume: bool = False  # re-run over a sink the warm-up pass seeded
    # the warm-up pass reads this leading share of the corpus; for the
    # resume workload its output stays in the sink as the seeded state
    warm_fraction: float = 1.0
    latency_ms: float = 50.0  # the NLP stub's fixed service time


WORKLOADS = {
    "ingest_nlp_bound": Ingest(300),
    "ingest_resume": Ingest(600, resume=True, warm_fraction=0.9),
}

SOURCE_INDEX, WARM_INDEX, SINK_INDEX = "corpus", "corpus_warm", "annotations"


def write_config(path: str, load: harness.LoadProcess, w: Ingest, source_index: str) -> None:
    def es(port: str, index: str) -> dict:
        return {"backend": "elasticsearch-rest", "es": {"hosts": [load.url(port)], "index-name": index}}

    cfg = {
        "source": es("source", source_index),
        "sink": es("sink", SINK_INDEX),
        "nlp-service": {
            "endpoint-url": [load.url("nlp") + NLP_PATH],
            "protocol-mode": "medcat",
            "max-retries-on-failure": 1,
            "max-in-flight": 1,  # per Python worker: one call per task slot
        },
        "mapping": {
            "source": {
                "text-field": "text",
                "docid-field": "doc_id",
                "persist-fields": ["doc_id", "dct"],
                "skip-processed-doc-check": w.resume,
                "batch": {"threads": 1},
            },
        },
        "logging-level": 30,
    }
    with open(path, "w") as f:
        yaml.safe_dump(cfg, f)


def in_flight(calls: list[tuple[float, float]], cap: int) -> dict[str, float]:
    """Time-weighted concurrency of the NLP calls over their window (first
    start to last end), that over ``cap``, and the time inside the window
    with no call in flight."""
    if not calls:
        return {"mean": 0.0, "util": 0.0, "zero_s": 0.0, "window_s": 0.0}
    lo = min(s for s, _ in calls)
    hi = max(e for _, e in calls)
    window = hi - lo
    busy = sum(e - s for s, e in calls)
    idle, reach = 0.0, lo
    for s, e in sorted(calls):
        if s > reach:
            idle += s - reach
        reach = max(reach, e)
    mean = busy / window if window > 0 else 0.0
    return {"mean": mean, "util": mean / cap, "zero_s": idle, "window_s": window}


class Expected:
    """What a correct pass leaves in the sink and asks of the NLP service."""

    def __init__(self, w: Ingest, docs: list[corpus.Doc]) -> None:
        self.by_index = {SINK_INDEX: corpus.medcat_rows(docs)}
        self.rows = sum(len(ids) for ids in self.by_index.values())
        # the resume pass annotates and writes only the docs the seeding
        # pass did not cover
        fresh = docs[int(len(docs) * w.warm_fraction):] if w.resume else docs
        self.calls = sum(d.valid for d in fresh)
        fresh_ids = {d.doc_id for d in fresh}
        self.pass_rows = sum(
            1
            for ids in self.by_index.values()
            for i in ids
            if corpus.doc_of(i) in fresh_ids
        )

    def failures(self, sink: dict[str, list[str]], bulk_items: int, calls: int, resume: bool) -> dict[str, int]:
        """Missing, extra and duplicated rows, plus, for the resume pass,
        every NLP call more or fewer than the docs the warm-up pass did not
        annotate. (A doc whose annotation had no entities leaves no row in
        the sink, so the anti-join lets it through and it is annotated
        again: each such call counts here.)"""
        bad = {"missing": 0, "extra": 0, "duplicated": 0, "calls": 0}
        for index in set(sink) | set(self.by_index):
            got = sink.get(index, [])
            want = self.by_index.get(index, set())
            seen = set(got)
            bad["missing"] += len(want - seen)
            bad["extra"] += len(seen - want)
            bad["duplicated"] += len(got) - len(seen)
        bad["duplicated"] += max(0, bulk_items - self.pass_rows)  # rows written twice
        if resume:
            bad["calls"] = abs(calls - self.calls)
        return bad


class IngestRun:
    def __init__(self, name: str, seed: int, work: str, scale: float) -> None:
        self.name = name
        base = WORKLOADS[name]
        self.w = Ingest(**{**base.__dict__, "docs": max(40, int(base.docs * scale))})
        self.docs = corpus.make_corpus(seed, self.w.docs)
        settings = {
            "seed": seed,
            "docs": self.w.docs,
            "latency_ms": self.w.latency_ms,
            "threads": harness.nproc(),
            "source_index": SOURCE_INDEX,
            "warm_index": WARM_INDEX,
            "warm_fraction": self.w.warm_fraction,
        }
        self.load = harness.LoadProcess(settings)
        self.cfg = f"{work}/ingest.yml"
        self.warm_cfg = f"{work}/ingest_warm.yml"
        self.expected: Expected | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, int] = {}

    # -- one CLI pass ------------------------------------------------------

    def prepare_sink(self) -> None:
        self.load.ctl("/restore_sink" if self.w.resume else "/reset_sink", "POST")

    def cli_pass(self, check: bool = True) -> dict:
        """One untimed sink reset, one timed CLI run, one untimed check."""
        from annotations_ingester_spark.__main__ import main

        self.prepare_sink()
        before = self.load.ctl("/stats")
        started = time.time()
        t0 = time.perf_counter()
        rc = main(["--config", self.cfg])
        wall = time.perf_counter() - t0
        after = self.load.ctl("/stats")
        if rc != 0:
            raise RuntimeError(f"the CLI exited with {rc}")
        calls = after["calls"][len(before["calls"]):]
        bulk_items = after["sink"].get("bulk_items", 0) - before["sink"].get("bulk_items", 0)
        p = {
            "wall_s": wall,
            "started_epoch": started,
            "calls": calls,
            "load_cpu_s": after["cpu_s"] - before["cpu_s"],
            "before": before,
            "after": after,
            "bulk_items": bulk_items,
        }
        if check:
            sink = self.load.ctl("/sink_ids")
            p["sink_rows"] = sum(len(v) for v in sink.values())
            bad = self.expected.failures(sink, bulk_items, len(calls), self.w.resume)
            self.attempted += self.expected.rows + (self.expected.calls if self.w.resume else 0)
            self.failed += sum(bad.values())
            for k, v in bad.items():
                self.failures[k] = self.failures.get(k, 0) + v
        return p

    # -- phases --------------------------------------------------------------

    def setup(self) -> None:
        self.load.wait_ready()
        write_config(self.cfg, self.load, self.w, SOURCE_INDEX)
        write_config(self.warm_cfg, self.load, self.w, WARM_INDEX)
        self.expected = Expected(self.w, self.docs)
        self.warm_up()

    def warm_up(self) -> None:
        """Untimed passes through the same CLI: one over the leading
        ``warm_fraction`` of the corpus into an empty sink, whose output
        ``ingest_resume`` passes start from; for ``ingest_resume``, then one
        resume pass."""
        from annotations_ingester_spark.__main__ import main

        self.load.ctl("/reset_sink", "POST")
        if main(["--config", self.warm_cfg]) != 0:
            raise RuntimeError("the warm-up pass failed")
        self.load.ctl("/snapshot_sink", "POST")
        if self.w.resume:
            self.cli_pass(check=False)

    def timed(self, seconds: float) -> list[dict]:
        passes: list[dict] = []
        while not passes or sum(p["wall_s"] for p in passes) < seconds:
            passes.append(self.cli_pass())
        return passes

    def close(self) -> None:
        self.load.close()

    # -- the traced run's staged layers -------------------------------------

    def staged_layers(self, spark) -> dict:
        """With the event log on: one warm-up pass, one traced CLI pass, then
        each layer's public functions forced alone. Returns the traced CLI
        pass and the staged layer times."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from annotations_ingester_spark.annotator.service import HttpNlpClient
        from annotations_ingester_spark.config import PipelineConfig
        from annotations_ingester_spark.operators.antijoin import skip_processed
        from annotations_ingester_spark.operators.filters import valid_text_filter
        from annotations_ingester_spark.plans.pipeline import flat_annotations
        from annotations_ingester_spark.sources.es_rest import (
            infer_es_rest_schema,
            read_es_rest,
            write_es_rest,
        )

        wl = self.name
        self.cli_pass(check=False)  # the new session's Python workers start cold
        harness.tag(spark, wl, "cli")
        cli = self.cli_pass()
        harness.tag(spark, wl, None)

        cfg = PipelineConfig.from_yaml(self.cfg)
        nlp = cfg.nlp

        def annotator():
            return HttpNlpClient(
                nlp.endpoints,
                mode=nlp.mode,
                max_retries=nlp.max_retries_on_failure,
                threads=cfg.threads,
                max_in_flight=nlp.max_in_flight,
            )

        schema = infer_es_rest_schema(spark, cfg.source)

        def docs():
            return read_es_rest(spark, cfg.source, schema)

        done_col = f"meta.{cfg.docid_field}"

        def processed_raw():
            return read_es_rest(
                spark, cfg.sink, T.StructType([T.StructField(done_col, T.LongType())])
            )

        def processed():
            if not self.w.resume:
                return None
            return processed_raw().select(F.col(f"`{done_col}`").alias(cfg.docid_field)).distinct()

        def timed(layer: str, fn) -> float:
            harness.tag(spark, wl, layer)
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            harness.tag(spark, wl, None)
            return dt

        def counts(side: str, fn) -> tuple[float, dict]:
            before = self.load.ctl("/stats")[side]
            dt = fn()
            after = self.load.ctl("/stats")[side]
            return dt, {k: after.get(k, 0) - before.get(k, 0) for k in after}

        out: dict[str, float] = {}
        self.prepare_sink()
        scroll_s, scroll = counts("source", lambda: timed("es_rest.scroll", lambda: harness.noop(docs())))
        out["es_rest.scroll_s"] = scroll_s
        out["es_rest.scroll_requests"] = scroll.get("scroll_requests", 0)
        out["es_rest.scroll_bytes"] = scroll.get("scroll_bytes", 0)

        resume_read_s = 0.0
        if self.w.resume:
            resume_read_s = timed("es_rest.resume_read", lambda: harness.noop(processed_raw()))
            rows = processed_raw().count()
            distinct = processed().count()
            out["es_rest.resume_rows"] = rows
            out["es_rest.resume_useful_frac"] = distinct / rows if rows else 0.0
        else:
            out["es_rest.resume_rows"] = 0
            out["es_rest.resume_useful_frac"] = 0.0
        out["es_rest.resume_read_s"] = resume_read_s

        # the anti-join over inputs already in memory, so only it is timed
        docs_mem = docs().cache()
        docs_mem.count()
        ids_mem = processed()
        if ids_mem is not None:
            ids_mem = ids_mem.cache()
            ids_mem.count()
        skip_s = timed(
            "operators.skip_processed",
            lambda: harness.noop(
                skip_processed(valid_text_filter(docs_mem), ids_mem, docid_field=cfg.docid_field)
            ),
        )
        docs_mem.unpersist()
        if ids_mem is not None:
            ids_mem.unpersist()
        out["operators.skip_processed_s"] = skip_s

        def flat():
            return flat_annotations(
                docs(),
                annotator,
                text_field=cfg.text_field,
                docid_field=cfg.docid_field,
                persist_fields=cfg.persist_fields,
                processed_ids=processed(),
            )

        self.prepare_sink()
        no_write_s = timed("annotator.stage", lambda: harness.noop(flat()))
        out["annotator.stage_s"] = no_write_s - scroll_s - resume_read_s - skip_s
        self.prepare_sink()
        full_s = timed("es_rest.bulk", lambda: write_es_rest(flat(), cfg.sink))
        out["es_rest.bulk_s"] = full_s - no_write_s
        return {"cli": cli, "out": out}

    def layer_metrics(self, staged: dict, log: harness.EventLog, untraced_wall: float) -> dict[str, float]:
        """Merge the staged timings with the event log and the stub counters
        of the traced CLI pass."""
        cli, out = staged["cli"], dict(staged["out"])
        cli_jobs = log.jobs_tagged("cli")
        first_job_ms = min(log.jobs[j].start_ms for j in cli_jobs)
        out["cli.preflight_s"] = first_job_ms / 1000.0 - cli["started_epoch"]
        calls = cli["calls"]
        out["annotator.calls"] = len(calls)
        out["annotator.calls_per_doc"] = len(calls) / self.expected.calls
        fl = in_flight(calls, harness.cores())
        out["annotator.inflight_mean"] = fl["mean"]
        out["annotator.inflight_util"] = fl["util"]
        out["annotator.zero_inflight_s"] = fl["zero_s"]
        service_ms = [1000.0 * (e - s) for s, e in calls]
        out["annotator.service_ms_p50"] = harness.quantile(service_ms, 0.5)
        out["annotator.service_ms_p99"] = harness.quantile(service_ms, 0.99)
        out["operators.shuffle_write_bytes"] = log.total(log.shuffle, cli_jobs)
        out["operators.sink_rows"] = cli["bulk_items"]
        sink = {k: cli["after"]["sink"].get(k, 0) - cli["before"]["sink"].get(k, 0)
                for k in ("bulk_requests", "bulk_items", "bulk_bytes")}
        out["es_rest.bulk_requests"] = sink["bulk_requests"]
        out["es_rest.bulk_items"] = sink["bulk_items"]
        out["es_rest.bulk_bytes"] = sink["bulk_bytes"]
        out["es_rest.bulk_items_per_row"] = sink["bulk_items"] / max(1, cli["sink_rows"])
        last_job = log.jobs[cli_jobs[-1]]
        ran = [s for s in last_job.stages if log.stage_tasks.get(s)]
        out["es_rest.write_tasks"] = log.stage_tasks[max(ran)] if ran else 0
        layers = (
            "cli.preflight_s es_rest.scroll_s es_rest.resume_read_s "
            "operators.skip_processed_s annotator.stage_s es_rest.bulk_s"
        ).split()
        out["trace.overhead_s"] = cli["wall_s"] - untraced_wall
        out["trace.residual_s"] = cli["wall_s"] - sum(out[k] for k in layers)
        return out
