"""CLI entry point: ``python -m annotations_ingester_spark --config cfg.yml``.

Mirrors the reference's CLI (reference: ingester/__main__.py:34-45 arg
parsing + config validation; :128-129 ``index_range`` execution) but wires
a Spark plan instead of a thread pool:

  config → PipelineConfig → source.read → [range_filter]
         → AnnotationPipeline.flat/nested → sink.write

where ``source`` and ``sink`` are the modules ``sources.BACKENDS`` maps the
two configured backends to. Batch, ``--segmented`` and ``--stream`` run the
same plan; they differ only in what feeds it and how often it is written.
"""

from __future__ import annotations

import argparse
import logging
import sys
from functools import partial


def main(argv: list[str] | None = None) -> int:
    """Run the configured pipeline; returns the exit code (2 for a refused
    config or a failed pre-flight). The log format is set before the config
    is parsed and its ``logging-level`` applied after, so warnings about
    the file being parsed (keys nothing reads) show at WARNING, whatever
    its ``logging-level`` says."""
    parser = argparse.ArgumentParser("annotations_ingester_spark")
    parser.add_argument("--config", required=True, help="YAML pipeline config")
    parser.add_argument("--date-start", default=None, help="override batch date-start")
    parser.add_argument("--date-end", default=None, help="override batch date-end")
    parser.add_argument("--stream", action="store_true", help="run the Structured Streaming variant")
    parser.add_argument(
        "--segmented",
        action="store_true",
        help="B1: run one date segment at a time (the reference driver loop's "
        "segment ends, annotations_indexer.py:847-861); segments are disjoint "
        "and each one reads only its own dates from the source",
    )
    parser.add_argument("--dry-run", action="store_true", help="build + explain the plan, don't execute")
    args = parser.parse_args(argv)

    from annotations_ingester_spark.annotator.registry import (
        annotator_factory,
        fake_endpoints,
    )
    from annotations_ingester_spark.config import PipelineConfig
    from annotations_ingester_spark.operators.filters import range_filter
    from annotations_ingester_spark.operators.windows import date_windows
    from annotations_ingester_spark.plans.pipeline import AnnotationPipeline
    from annotations_ingester_spark.session import get_spark
    from annotations_ingester_spark.sources import BACKENDS, parquet
    from annotations_ingester_spark.utils import check_url_available

    logging.basicConfig(
        level=logging.WARNING, format="%(asctime)s %(levelname)s %(message)s"
    )
    try:
        cfg = PipelineConfig.from_yaml(args.config)
    except ValueError as exc:
        print(f"config {args.config}: {exc}", file=sys.stderr)
        return 2
    logging.getLogger().setLevel(cfg.logging_level)  # reference logging-level, config.yml:73
    date_start = args.date_start or cfg.date_start
    date_end = args.date_end or cfg.date_end
    dated = bool(date_start and date_end)
    nested = cfg.ingest_mode == "nested"
    source, sink = BACKENDS[cfg.source.backend], BACKENDS[cfg.sink.backend]

    if args.stream and source is not parquet:
        print("--stream requires a file-based (parquet) source backend", file=sys.stderr)
        return 2

    nlp = cfg.nlp
    # S11 pre-flight: refuse to start against a dead NLP service or a dead
    # (or incompatible) source/sink before the Spark session starts
    if (
        nlp.endpoints
        and not fake_endpoints(nlp.endpoints)
        and not check_url_available(nlp.endpoints)
    ):
        print("NLP endpoints unavailable", file=sys.stderr)
        return 2
    for backend, conf in ((source, cfg.source), (sink, cfg.sink)):
        try:
            backend.check(conf)
        except Exception as exc:
            print(f"{conf.backend} endpoint check failed: {exc}", file=sys.stderr)
            return 2

    spark = get_spark("annotations_ingester_spark")

    annotator = annotator_factory(
        nlp.endpoints,
        nlp.mode,
        params=nlp.application_params,
        retries=nlp.max_retries_on_failure,
        auth=(nlp.username, nlp.password) if nlp.username else None,
        threads=cfg.threads,  # reference threads-count, per task
        max_in_flight=nlp.max_in_flight,
    )

    pipe = AnnotationPipeline(
        annotator,
        text_field=cfg.text_field,
        docid_field=cfg.docid_field,
        persist_fields=cfg.persist_fields,
        mode=nlp.mode,
        ann_id_field=cfg.annotation_id_field,
    )
    split = cfg.split_index_by_field or None

    def scope(docs, start, end):
        return range_filter(docs, cfg.date_field, start, end) if dated else docs

    keys = {
        "mapping_id": "ann_doc_id" if nested else "row_id",
        "split_suffix_field": "index_suffix" if split and not nested else None,
    }

    # W4: one row per document with an annotations array (reference
    # doc_{id}_annotations docs, annotations_indexer.py:166-200)
    plan = pipe.nested if nested else partial(pipe.flat, split_by_field=split)

    def write(out) -> None:
        # a W4 doc row replaces the stored one (the merge happened
        # engine-side); W3 same-index upserts the flat rows
        sink.write(out, cfg.sink, upsert=nested or cfg.ingest_mode == "same-index", **keys)

    def read(start, end):
        # the dated range is also pushed down into sources that take a
        # query (S3 parity, es_common.py:303-330); range_filter re-applies
        # it, so query-less sources are scoped the same way
        bounds = {"gte": start, "lte": end, "format": "yyyy-MM-dd"}
        query = {"range": {cfg.date_field: bounds}} if dated else None
        return scope(source.read(spark, cfg.source, query=query), start, end)

    if args.stream:
        # S7: the batch plan over a checkpointed availableNow file
        # stream. The checkpoint is the stream's resume ledger (no J1
        # read); deterministic mapping ids make micro-batch replay an
        # idempotent upsert.
        from annotations_ingester_spark.functions.names import format_index_name
        from annotations_ingester_spark.streaming.pipeline import (
            file_stream,
            run_stream_foreach_batch,
        )

        stream = file_stream(spark, cfg.source.index_name, source.read(spark, cfg.source).schema)
        out = plan(scope(stream, date_start, date_end))
        if args.dry_run:
            out.explain("formatted")
            return 0
        # beside the (file) source, tagged with the normalized sink name so
        # two streams into different sinks never share offsets
        ckpt = (
            cfg.source.index_name.rstrip("/")
            + "_ckpt_"
            + format_index_name(cfg.sink.index_name)
        )
        run_stream_foreach_batch(out, lambda batch, epoch_id: write(batch), ckpt)
        return 0

    done = (
        sink.done_ids(spark, cfg.sink, cfg.docid_field)
        if cfg.skip_processed_doc_check
        else None
    )
    segments = [(date_start, date_end)]
    if args.segmented and dated:
        # B1 (annotations_indexer.py:847-861): one read per disjoint
        # segment, so each doc lands in one; all skip the same ``done``
        segments = date_windows(date_start, date_end, cfg.batch_interval_days)
    for seg_start, seg_end in segments:
        out = plan(read(seg_start, seg_end), processed_ids=done)
        if args.dry_run:
            # the plan the sink runs: parquet adds its mapping-id dedup
            sink.stored(out, **keys).explain("formatted")
            return 0
        write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
