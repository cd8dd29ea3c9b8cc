"""CLI end-to-end on the parquet backend with the hermetic fake:// NLP
registry: whole-span vs --segmented (B1, the reference driver loop's
segment ends, annotations_indexer.py:847-861) and the --stream variant —
all three must produce the identical row_id set. Segments are disjoint
and each reads only its own dates, so a boundary-date doc is read once
and nested (W4) runs segmented too."""

from __future__ import annotations

import yaml

from annotations_ingester_spark.__main__ import main

DOCS = [
    # (doc_id, text, dct) — 2020-01-31 / 2020-03-01 are segment ends, which
    # the reference's inclusive segments share with the next one
    (1, "cli corpus document number one body", "2020-01-05"),
    (2, "cli corpus document number two body", "2020-01-31"),
    (3, "cli corpus document number three body", "2020-01-31"),
    (4, "cli corpus document number four body", "2020-02-10"),
    (5, "cli corpus document number five body", "2020-03-01"),
    (6, "cli corpus document number six body", "2020-03-10"),
    (7, "x", "2020-02-01"),  # P3-filtered (too short) in every mode
]


def _corpus(spark, tmp_path):
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(DOCS, "doc_id long, text string, dct string").write.parquet(src)
    return src


def _cfg(tmp_path, src, sink, dated=True, split=None):
    batch = {"date-field": "dct", "interval": 30}
    if dated:
        batch |= {"date-start": "2020-01-01", "date-end": "2020-03-15"}
    cfg = {
        "source": {"backend": "parquet", "path": src},
        "sink": {"backend": "parquet", "path": sink},
        "nlp-service": {"endpoints-url": ["fake://medcat"], "protocol-mode": "medcat"},
        "mapping": {
            "source": {
                "text-field": "text",
                "docid-field": "doc_id",
                "persist-fields": ["doc_id"],
                "batch": batch,
            },
            "sink": {"split-index-by-field": split} if split else {},
        },
    }
    p = tmp_path / f"cfg_{len(sink)}.yml"
    p.write_text(yaml.safe_dump(cfg))
    return str(p)


def _row_ids(spark, path):
    return sorted(r["row_id"] for r in spark.read.parquet(path).select("row_id").collect())


def test_segmented_equals_whole_span(spark, tmp_path):
    src = _corpus(spark, tmp_path)
    whole, seg = str(tmp_path / "whole"), str(tmp_path / "seg")
    assert main(["--config", _cfg(tmp_path, src, whole)]) == 0
    assert main(["--config", _cfg(tmp_path, src, seg), "--segmented"]) == 0
    whole_ids, seg_ids = _row_ids(spark, whole), _row_ids(spark, seg)
    assert whole_ids == seg_ids  # overlap absorbed, nothing lost
    assert len(seg_ids) == len(set(seg_ids))  # boundary docs not written twice
    assert not any(r.startswith("doc-7-") for r in seg_ids)  # P3 filtered


def test_split_by_field_dated_whole_span(spark, tmp_path):
    """split-index-by-field + a date range must not crash in write_out and
    must match --segmented with the same split config (the dated whole-span
    path previously dropped the index_suffix column)."""
    src = _corpus(spark, tmp_path)
    whole, seg = str(tmp_path / "w2whole"), str(tmp_path / "w2seg")
    assert main(["--config", _cfg(tmp_path, src, whole, split="types")]) == 0
    assert main(["--config", _cfg(tmp_path, src, seg, split="types"), "--segmented"]) == 0
    assert _row_ids(spark, whole) == _row_ids(spark, seg)
    # the W2 physical layout actually partitioned on the suffix
    import os

    assert any(d.startswith("index_suffix=") for d in os.listdir(whole))


def test_stream_cli_matches_batch(spark, tmp_path):
    src = _corpus(spark, tmp_path)
    batch_sink, stream_sink = str(tmp_path / "b"), str(tmp_path / "s")
    assert main(["--config", _cfg(tmp_path, src, batch_sink, dated=False)]) == 0
    assert main(["--config", _cfg(tmp_path, src, stream_sink, dated=False), "--stream"]) == 0
    assert _row_ids(spark, batch_sink) == _row_ids(spark, stream_sink)


def test_nested_ingest_mode(spark, tmp_path):
    """ingest-mode: nested (W4) must produce one row per doc with an
    annotations array — previously the CLI parsed the mode but wrote flat."""
    import yaml as _yaml

    src = _corpus(spark, tmp_path)
    sink = str(tmp_path / "nested_out")
    cfg_path = _cfg(tmp_path, src, sink)
    cfg = _yaml.safe_load(open(cfg_path))
    cfg["mapping"]["sink"]["ingest-mode"] = "nested"
    p = tmp_path / "cfg_nested.yml"
    p.write_text(_yaml.safe_dump(cfg))
    assert main(["--config", str(p)]) == 0
    back = spark.read.parquet(sink)
    rows = {r["doc_id"]: r for r in back.collect()}
    assert set(back.columns) >= {"doc_id", "annotations", "ann_doc_id"}
    assert 7 not in rows  # P3 filtered
    assert all(len(r["annotations"]) > 0 for r in rows.values())
    assert rows[1]["ann_doc_id"] == "doc_1_annotations"
    # one row per doc that passes P3 AND yields >=1 entity from the
    # deterministic fake (zero-entity docs drop in every ingest mode)
    from annotations_ingester_spark.annotator.fake import entity_count

    expected = {d for d, text, _ in DOCS if len(text) >= 5 and entity_count(text) > 0}
    assert set(rows) == expected and back.count() == len(expected)


def test_nested_stream_stores_the_nested_batch_rows(spark, tmp_path):
    """ingest-mode=nested runs --stream: a W4 doc row comes from one source
    row, so the micro-batches store the batch run's rows."""
    from pyspark.sql import functions as F

    src = _corpus(spark, tmp_path)

    def rows(tag, *flags):
        sink = str(tmp_path / f"nested_{tag}")
        cfg = yaml.safe_load(open(_cfg(tmp_path, src, sink, dated=False)))
        cfg["mapping"]["sink"]["ingest-mode"] = "nested"
        p = tmp_path / f"cfg_nested_{tag}.yml"
        p.write_text(yaml.safe_dump(cfg))
        assert main(["--config", str(p), *flags]) == 0
        back = spark.read.parquet(sink)
        return sorted(back.select("doc_id", "ann_doc_id", F.to_json("annotations")).collect())

    batch = rows("batch")
    assert [r["doc_id"] for r in batch] == [1, 2, 3, 6]  # 4, 5 have no entity; 7 is P3-filtered
    assert rows("stream", "--stream") == batch


def test_skip_processed_resume(spark, tmp_path):
    """skip-processed-doc-check (J1 resume): a second run over a grown
    corpus must only write the NEW docs — previously the flag was parsed
    but never wired, so reruns duplicated every row."""
    import yaml as _yaml

    src1 = str(tmp_path / "src1")
    spark.createDataFrame(DOCS[:3], "doc_id long, text string, dct string").write.parquet(src1)
    sink = str(tmp_path / "resume_sink")

    def cfg_for(src):
        cfg = _yaml.safe_load(open(_cfg(tmp_path, src, sink, dated=False)))
        cfg["mapping"]["source"]["skip-processed-doc-check"] = True
        p = tmp_path / f"cfg_resume_{len(src)}.yml"
        p.write_text(_yaml.safe_dump(cfg))
        return str(p)

    assert main(["--config", cfg_for(src1)]) == 0
    first = _row_ids(spark, sink)
    # corpus grows: same three docs plus three new ones
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(DOCS[:6], "doc_id long, text string, dct string").write.parquet(src2)
    assert main(["--config", cfg_for(src2)]) == 0
    second = _row_ids(spark, sink)
    assert len(second) == len(set(second))  # old docs NOT rewritten
    assert set(second) > set(first)  # new docs landed


def test_segmented_skip_processed_rerun_adds_nothing(spark, tmp_path):
    """A --segmented skip-processed re-run over a sink that already holds
    the whole span must write nothing: every segment after the first still
    skips the docs the sink held before the run, not only the docs this
    run wrote."""
    import yaml as _yaml

    src = _corpus(spark, tmp_path)
    sink = str(tmp_path / "seg_resume_sink")
    cfg = _yaml.safe_load(open(_cfg(tmp_path, src, sink)))
    cfg["mapping"]["source"]["skip-processed-doc-check"] = True
    p = tmp_path / "cfg_seg_resume.yml"
    p.write_text(_yaml.safe_dump(cfg))

    assert main(["--config", str(p)]) == 0
    first = _row_ids(spark, sink)
    assert first and len(first) == len(set(first))
    assert main(["--config", str(p), "--segmented"]) == 0
    assert _row_ids(spark, sink) == first


def test_nested_skip_processed_resume(spark, tmp_path):
    """nested ingest + skip-processed-doc-check: a rerun over a grown
    corpus must only append the NEW docs' rows — previously the nested
    branch ignored the resume flag and duplicated every doc (r3 advice)."""
    import yaml as _yaml

    src1 = str(tmp_path / "nsrc1")
    spark.createDataFrame(DOCS[:3], "doc_id long, text string, dct string").write.parquet(src1)
    sink = str(tmp_path / "nested_resume_sink")

    def cfg_for(src, tag):
        cfg = _yaml.safe_load(open(_cfg(tmp_path, src, sink, dated=False)))
        cfg["mapping"]["source"]["skip-processed-doc-check"] = True
        cfg["mapping"]["sink"]["ingest-mode"] = "nested"
        p = tmp_path / f"cfg_nested_resume_{tag}.yml"
        p.write_text(_yaml.safe_dump(cfg))
        return str(p)

    assert main(["--config", cfg_for(src1, "a")]) == 0
    first = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    src2 = str(tmp_path / "nsrc2")
    spark.createDataFrame(DOCS[:6], "doc_id long, text string, dct string").write.parquet(src2)
    assert main(["--config", cfg_for(src2, "b")]) == 0
    second = sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert len(second) == len(set(second))  # old docs NOT rewritten
    assert set(second) > set(first)  # new docs landed


def test_nested_segmented_equals_nested_whole_span(spark, tmp_path):
    """ingest-mode=nested runs --segmented: each doc lands in one segment,
    so every doc row comes out whole and equal to the whole-span run's."""
    src = _corpus(spark, tmp_path)

    def rows(tag, *flags):
        sink = str(tmp_path / f"nested_{tag}")
        cfg = yaml.safe_load(open(_cfg(tmp_path, src, sink)))
        cfg["mapping"]["sink"]["ingest-mode"] = "nested"
        p = tmp_path / f"cfg_nested_{tag}.yml"
        p.write_text(yaml.safe_dump(cfg))
        assert main(["--config", str(p), *flags]) == 0
        return sorted(
            (r["doc_id"], r["ann_doc_id"], sorted(e["id"] for e in r["annotations"]))
            for r in spark.read.parquet(sink).collect()
        )

    whole = rows("whole")
    assert whole and rows("seg", "--segmented") == whole


def test_segmented_one_day_span_writes_the_whole_span_rows(spark, tmp_path):
    """date-start == date-end is one segment, not none."""
    src = _corpus(spark, tmp_path)
    day = ["--date-start", "2020-01-31", "--date-end", "2020-01-31"]
    whole, seg = str(tmp_path / "day_whole"), str(tmp_path / "day_seg")
    assert main(["--config", _cfg(tmp_path, src, whole), *day]) == 0
    assert main(["--config", _cfg(tmp_path, src, seg), "--segmented", *day]) == 0
    whole_ids = _row_ids(spark, whole)
    assert {r.split("-")[1] for r in whole_ids} == {"2", "3"}
    assert _row_ids(spark, seg) == whole_ids


def test_unknown_ingest_mode_refused(tmp_path, capsys):
    """A typo or null ingest-mode is refused at load, naming the key, not
    run as separate-index; the CLI exits 2."""
    import pytest

    from annotations_ingester_spark.config import PipelineConfig

    for mode in ("nestd", None):
        cfg = yaml.safe_load(open(_cfg(tmp_path, "src", "sink")))
        cfg["mapping"]["sink"]["ingest-mode"] = mode
        with pytest.raises(ValueError, match="mapping.sink.ingest-mode"):
            PipelineConfig.from_dict(cfg)
        p = tmp_path / "cfg_bad_mode.yml"
        p.write_text(yaml.safe_dump(cfg))
        assert main(["--config", str(p)]) == 2
        assert "mapping.sink.ingest-mode" in capsys.readouterr().err


def test_batch_interval_below_one_day_refused(tmp_path):
    """interval 0 would never advance a segment; refused at load."""
    import pytest

    from annotations_ingester_spark.config import PipelineConfig

    cfg = yaml.safe_load(open(_cfg(tmp_path, "src", "sink")))
    cfg["mapping"]["source"]["batch"]["interval"] = 0
    with pytest.raises(ValueError, match="mapping.source.batch.interval"):
        PipelineConfig.from_dict(cfg)


def test_dry_run_segmented(spark, tmp_path, capsys):
    src = _corpus(spark, tmp_path)
    sink = str(tmp_path / "dry")
    rc = main(["--config", _cfg(tmp_path, src, sink), "--segmented", "--dry-run"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    import os

    assert not os.path.exists(sink)  # nothing written


def test_non_iso_date_format_refused(spark, tmp_path):
    import yaml as _yaml

    src = _corpus(spark, tmp_path)
    cfg = _yaml.safe_load(open(_cfg(tmp_path, src, str(tmp_path / "x"))))
    cfg["mapping"]["source"]["batch"]["es-date-format"] = "dd/MM/yyyy"
    p = tmp_path / "cfg_badfmt.yml"
    p.write_text(_yaml.safe_dump(cfg))
    assert main(["--config", str(p)]) == 2  # loud refusal, not silent mis-scoping


def test_skip_processed_corrupt_sink_propagates(spark, tmp_path):
    """A corrupt (unreadable) sink must fail the resume read loudly — not
    be mistaken for 'first run', which would reprocess and duplicate the
    whole corpus on a parquet append sink."""
    import pathlib

    import pytest
    import yaml as _yaml

    src = _corpus(spark, tmp_path)
    sink = tmp_path / "corrupt_resume_sink"
    sink.mkdir()
    (sink / "part-00000.parquet").write_bytes(b"definitely not parquet")
    cfg = _yaml.safe_load(open(_cfg(tmp_path, src, str(sink), dated=False)))
    cfg["mapping"]["nlp"] = {"skip-processed-doc-check": True}
    p = tmp_path / "cfg_corrupt.yml"
    p.write_text(_yaml.safe_dump(cfg))
    with pytest.raises(Exception):
        main(["--config", str(p)])


def test_stream_writes_batch_row_shape_and_resumes(spark, tmp_path):
    """--stream runs the batch flat plan: the same columns as a batch run
    (persist-fields as ``meta.*``), so a skip-processed batch re-run over
    the stream's sink finds every doc and adds no row."""
    src = _corpus(spark, tmp_path)
    batch_sink, stream_sink = str(tmp_path / "shape_b"), str(tmp_path / "shape_s")

    def cfg_for(sink, skip=False):
        cfg = yaml.safe_load(open(_cfg(tmp_path, src, sink, dated=False)))
        cfg["mapping"]["source"]["persist-fields"] = ["doc_id", "dct"]
        cfg["mapping"]["source"]["skip-processed-doc-check"] = skip
        p = tmp_path / f"cfg_shape_{len(sink)}_{skip}.yml"
        p.write_text(yaml.safe_dump(cfg))
        return str(p)

    assert main(["--config", cfg_for(batch_sink)]) == 0
    assert main(["--config", cfg_for(stream_sink), "--stream"]) == 0
    batch_cols = spark.read.parquet(batch_sink).columns
    assert {"meta.doc_id", "meta.dct"} <= set(batch_cols)
    assert sorted(spark.read.parquet(stream_sink).columns) == sorted(batch_cols)
    n = spark.read.parquet(stream_sink).count()
    assert main(["--config", cfg_for(stream_sink, skip=True)]) == 0
    assert spark.read.parquet(stream_sink).count() == n


def test_unknown_backend_refused(tmp_path):
    import pytest

    from annotations_ingester_spark.config import PipelineConfig

    cfg = yaml.safe_load(open(_cfg(tmp_path, "src", "sink")))
    cfg["sink"]["backend"] = "parquett"
    with pytest.raises(ValueError, match="parquett") as exc:
        PipelineConfig.from_dict(cfg)
    for name in ("parquet", "elasticsearch", "elasticsearch-rest"):
        assert repr(name) in str(exc.value)


def test_stream_refuses_non_file_source(spark, tmp_path, capsys):
    """--stream reads a file stream: an Elasticsearch REST source exits 2
    (it used to fall through to a parquet read of the index name)."""
    from annotations_ingester_spark.config import ConnectorConfig
    from annotations_ingester_spark.sources.es_rest import EsRestClient
    from tests.es_stub import start_es_stub

    server, _, url = start_es_stub()
    try:
        EsRestClient(ConnectorConfig(hosts=[url], index_name="stream-src")).bulk(
            [{"_id": "1", "doc_id": 1, "text": "a rest source document body!"}]
        )
        cfg = yaml.safe_load(open(_cfg(tmp_path, "unused", str(tmp_path / "s"), dated=False)))
        cfg["source"] = {
            "backend": "elasticsearch-rest",
            "es": {"hosts": [url], "index-name": "stream-src"},
        }
        p = tmp_path / "cfg_rest_stream.yml"
        p.write_text(yaml.safe_dump(cfg))
        assert main(["--config", str(p), "--stream"]) == 2
    finally:
        server.shutdown()
    assert "--stream requires a file-based" in capsys.readouterr().err


def test_parquet_sink_absorbs_a_doc_the_source_holds_twice(spark, tmp_path):
    """The flat plan has no dedup Exchange; the parquet sink keeps one row
    per row_id (+ index_suffix), so a source holding doc 2 twice leaves the
    single-copy run's rows, flat and split by type."""
    from pyspark.sql import functions as F

    once_src = _corpus(spark, tmp_path)
    twice_src = str(tmp_path / "docs_twice")
    spark.createDataFrame(DOCS + [DOCS[1]], "doc_id long, text string, dct string").write.parquet(
        twice_src
    )

    def rows(src, tag, split):
        sink = str(tmp_path / f"{tag}_{split}")
        assert main(["--config", _cfg(tmp_path, src, sink, split=split)]) == 0
        back = spark.read.parquet(sink)
        return sorted(back.select([F.col(f"`{c}`").cast("string") for c in back.columns]).collect())

    for split in (None, "types"):
        once = rows(once_src, "once", split)
        assert once and rows(twice_src, "twice", split) == once


def test_config_warnings_carry_the_run_log_format(tmp_path):
    """A key nothing reads is warned about in the run's log format, even
    with ``logging-level`` above WARNING: the format is set before the
    config is parsed. (--stream over a REST source exits 2 before any
    session and before any request.)"""
    import re
    import subprocess
    import sys
    from pathlib import Path

    cfg = yaml.safe_load(open(_cfg(tmp_path, "src", str(tmp_path / "sink"))))
    cfg["batch"] = {"threads": 8}  # misplaced: batch belongs under mapping.source
    cfg["source"] = {"backend": "elasticsearch-rest",
                     "es": {"hosts": ["http://localhost:9"], "index-name": "src"}}
    cfg["logging-level"] = 40
    p = tmp_path / "cfg_misplaced.yml"
    p.write_text(yaml.safe_dump(cfg))
    r = subprocess.run(
        [sys.executable, "-m", "annotations_ingester_spark", "--config", str(p), "--stream"],
        cwd=Path(__file__).resolve().parent.parent, capture_output=True, text=True,
    )
    assert r.returncode == 2, r.stderr
    assert re.search(
        r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d,\d{3} WARNING config key batch is not read",
        r.stderr, re.M,
    ), r.stderr
