"""Config parsing (reference YAML surface) + multimodal plumbing + ES
option mapping."""

from __future__ import annotations

import pytest

from annotations_ingester_spark.config import ConnectorConfig, PipelineConfig
from annotations_ingester_spark.multimodal.media import (
    MEDIA_SCHEMA,
    extract_features,
    fake_decode,
)
from annotations_ingester_spark.sources.elasticsearch import (
    es_read_options,
    es_write_options,
)

REFERENCE_STYLE_CONFIG = {
    "source": {"es": {"hosts": ["http://localhost:9200"], "index-name": "src_idx",
                      "security": {"elastic-user": "u", "elastic-password": "p"}}},
    "sink": {"es": {"hosts": ["https://sink:9201"], "index-name": "sink_idx"}},
    "nlp-service": {"endpoints-url": ["http://nlp:5000"], "protocol-mode": "gate-nlp",
                    "max-retries-on-failure": 2},
    "mapping": {
        "source": {"text-field": "document", "docid-field": "_id",
                   "persist-fields": ["_id"], "skip-processed-doc-check": True,
                   "batch": {"date-field": "dct", "interval": 30,
                             "date-start": "1999-01-01", "date-end": "2021-02-01",
                             "threads": 128}},
        "sink": {"split-index-by-field": "type", "use-bulk-indexing": True,
                 "es-nested-object-schema-mapping": "gate-nlp-separate-index"},
    },
}


def test_pipeline_config_from_reference_yaml_shape():
    cfg = PipelineConfig.from_dict(REFERENCE_STYLE_CONFIG)
    assert cfg.source.index_name == "src_idx" and cfg.source.username == "u"
    assert cfg.nlp.mode == "gate-nlp" and cfg.nlp.max_retries_on_failure == 2
    assert cfg.text_field == "document" and cfg.batch_interval_days == 30
    assert cfg.split_index_by_field == "type" and cfg.skip_processed_doc_check
    assert cfg.date_start == "1999-01-01" and cfg.threads == 128


def test_pipeline_config_missing_keys():
    with pytest.raises(ValueError, match="missing required"):
        PipelineConfig.from_dict({"source": {}})


def test_pipeline_config_refuses_unknown_protocol_mode():
    """``gate`` is not a reference protocol-mode: the client would post
    text/plain with GATE normalization while the pipeline builds a MedCAT
    schema. Every accepted spelling loads; anything else is refused with
    the accepted list, like an unknown backend."""
    import copy

    for mode, want in (("", "medcat"), (None, "medcat"), ("medcat", "medcat"),
                       ("gate-nlp", "gate-nlp")):
        d = copy.deepcopy(REFERENCE_STYLE_CONFIG)
        d["nlp-service"]["protocol-mode"] = mode
        assert PipelineConfig.from_dict(d).nlp.mode == want
    for bad in ("gate", "GATE-NLP", "medcat "):
        d = copy.deepcopy(REFERENCE_STYLE_CONFIG)
        d["nlp-service"]["protocol-mode"] = bad
        with pytest.raises(ValueError, match="unknown protocol-mode") as err:
            PipelineConfig.from_dict(d)
        assert all(repr(m) in str(err.value) for m in ("", "medcat", "gate-nlp"))


def test_es_option_mapping():
    conf = ConnectorConfig(
        backend="elasticsearch", hosts=["http://es1:9200", "es2:9200"],
        index_name="annotations", username="u", password="p", ssl_enabled=True,
        ca_certs="/certs/ca.pem",
    )
    r = es_read_options(conf, query='{"query":{"range":{"dct":{"gte":"1999-01-01"}}}}')
    # inline host:port per node — no global es.port (heterogeneous ports work)
    assert r["es.nodes"] == "es1:9200,es2:9200" and "es.port" not in r
    assert r["es.net.http.auth.user"] == "u" and r["es.net.ssl"] == "true"
    assert "range" in r["es.query"]
    w = es_write_options(conf, mapping_id="row_id", upsert=True, split_suffix_field="index_suffix")
    assert w["es.resource"] == "annotations-{index_suffix}"  # W2 dynamic routing
    assert w["es.batch.size.entries"] == "10000"  # es_common.py:98 parity
    assert w["es.mapping.id"] == "row_id" and w["es.write.operation"] == "upsert"


def test_multimodal_feature_extraction(spark):
    rows = [
        (1, b"\x89PNG fake image bytes", ("image", "png", 64, 64, None, None)),
        (2, b"RIFF fake audio bytes", ("audio", "wav", None, None, 1200, 16000)),
        (3, None, ("video", "mp4", 320, 240, 5000, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(df).toPandas().set_index("media_id")
    assert out.loc[1, "n_bytes"] == len(b"\x89PNG fake image bytes")
    assert len(out.loc[1, "feature"]) == 8
    assert out.loc[3, "n_bytes"] == 0  # NULL payload handled
    # deterministic stub: same payload → same feature
    assert fake_decode(b"abc", "image") == fake_decode(b"abc", "audio")


def test_multimodal_metadata_prunes_before_decode(spark):
    rows = [(i, b"x" * i, ("image" if i % 2 else "audio", None, None, None, None, None)) for i in range(1, 7)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    images = df.filter(df.meta.kind == "image")
    out = extract_features(images).collect()
    assert len(out) == 3  # metadata filter ran before the decode stage

def test_decode_media_real_parsers():
    """Golden-bytes check of the REAL stdlib decoders: a WAV written by the
    wave module itself, a hand-built PNG IHDR, a minimal JPEG SOF0, and
    garbage degrading to digest-only."""
    import io
    import struct
    import wave as wave_mod

    from annotations_ingester_spark.multimodal.media import decode_media

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(22050)
        wf.writeframes(b"\x00\x00" * 44100)  # 2 seconds
    wav = decode_media(buf.getvalue(), "audio")
    assert (wav["format"], wav["sample_rate"], wav["duration_ms"]) == ("wav", 22050, 2000)

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00")
    img = decode_media(png, "image")
    assert (img["format"], img["width"], img["height"]) == ("png", 640, 480)

    jpeg = (b"\xff\xd8"                       # SOI
            + b"\xff\xe0\x00\x10" + b"JFIF\x00" + b"\x00" * 9   # APP0
            + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 240, 320) + b"\x03" + b"\x00" * 9)
    j = decode_media(jpeg, "image")
    assert (j["format"], j["width"], j["height"]) == ("jpeg", 320, 240)

    junk = decode_media(b"not a media file", "image")
    assert "format" not in junk and len(junk["feature"]) == 8  # graceful degrade


def test_decode_metadata_dataframe(spark):
    import struct

    from annotations_ingester_spark.multimodal.media import decode_metadata

    png = (b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
           + struct.pack(">II", 32, 48) + b"\x08\x06\x00\x00\x00")
    rows = [(1, png, ("image", None, None, None, None, None)),
            (2, b"junk", ("image", None, None, None, None, None))]
    out = {r["media_id"]: r for r in decode_metadata(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) == ("png", 32, 48)
    assert out[2]["format"] is None and out[2]["n_bytes"] == 4


def test_sql_api_views(spark, sf_dir):
    from annotations_ingester_spark.plans.sql_api import register_engine_views

    register_engine_views(spark, sf_dir)
    n = spark.sql(
        """SELECT count(*) AS n FROM annotations_flat a
           JOIN valid_documents d ON a.meta_doc_id = d.doc_id"""
    ).first()["n"]
    assert n > 0
    fp = spark.sql(
        "SELECT count(DISTINCT fingerprint) AS k FROM doc_fingerprints"
    ).first()["k"]
    assert fp > 0
    ev = spark.sql("SELECT count(*) AS n FROM events WHERE ts_s IS NOT NULL").first()["n"]
    assert ev > 0


REFERENCE_CONFIG_YML = """
source:
  es:
    hosts: ["http://127.0.0.1:9200"]
    credentials:
      username : "admin"
      password : "admin"
      use-api-key : False
    index-name: "medical_reports_text"
    extra-params:
      use-ssl: False
      verify-certs: False
    security:
      ca-file-path : "/app/config/cert.pem"
      ca-certs-path: "/app/config/root-ca.pem"
      client-cert-path: "/app/config/client.pem"
      client-key-path: "/app/config/client.key"

sink:
  es:
    hosts: ["http://127.0.0.1:9200"]
    credentials:
      username : "admin"
      password : "admin"
      use-api-key : False
    index-name: "medical_reports_text_annotations"
    extra-params:
      use-ssl: False
      verify-certs: False
    security:
      ca-certs-path: "/app/config/root-ca.pem"
      client-cert-path: "/app/config/client.pem"
      client-key-path: "/app/config/client.key"

nlp-service:
  endpoint-url: ["http://localhost:5000/api/process"]
  endpoint-request-mode : ""
  use-bulk-indexing : True
  max-retries-on-failure: 1
  annotation-response:
    dict-key : "annotations"
    result-key : "result"
  credentials :
    username : ""
    password : ""

mapping:
  index-ingest-mode:
    same-index: False
    use-nested-objects: False
    es-nested-object-schema-mapping : "medcat-separate-index"
  source:
    text-field: 'document'
    docid-field: '_id'
    persist-fields:
     - '_id'
    batch:
      date-field: 'dct'
      date-format: 'yyyy-MM-dd'
      python-date-format: '%Y-%m-%d'
      interval: 30
      date-start: '1999-01-01'
      date-end: '2021-02-01'
      threads: 128
  sink:
    split-index-by-field: ""
  nlp:
    skip-processed-doc-check: False
    annotation-id-field: 'id'

logging-level: "20"
"""


def test_reference_config_yml_loads_unchanged():
    """The reference's SHIPPED config/config.yml (verbatim structure,
    reference config/config.yml:1-74) must parse into the right engine
    config — the 'bring your config file unchanged' promise."""
    import yaml as _yaml

    from annotations_ingester_spark.config import PipelineConfig

    cfg = PipelineConfig.from_dict(_yaml.safe_load(REFERENCE_CONFIG_YML))
    assert cfg.source.backend == "elasticsearch"
    assert cfg.source.hosts == ["http://127.0.0.1:9200"]
    assert cfg.source.index_name == "medical_reports_text"
    assert cfg.source.username == "admin" and cfg.source.password == "admin"
    assert cfg.source.api_key is None  # use-api-key: False
    assert cfg.source.ssl_enabled is False and cfg.source.check_certificate is False
    assert cfg.source.ca_certs == "/app/config/root-ca.pem"
    assert cfg.sink.index_name == "medical_reports_text_annotations"
    assert cfg.nlp.endpoints == ["http://localhost:5000/api/process"]
    assert cfg.nlp.mode == "medcat"  # empty endpoint-request-mode
    assert cfg.nlp.max_retries_on_failure == 1
    assert cfg.text_field == "document" and cfg.docid_field == "_id"
    assert cfg.date_field == "dct" and cfg.batch_interval_days == 30
    assert cfg.date_start == "1999-01-01" and cfg.date_end == "2021-02-01"
    assert cfg.threads == 128
    assert cfg.ingest_mode == "separate-index"  # same-index: False
    assert cfg.skip_processed_doc_check is False
    assert cfg.split_index_by_field == ""


def test_reference_config_yml_warns_on_each_unread_key(caplog):
    """The reference's shipped config names five keys this engine does not
    read; each draws one warning, and no other key does."""
    import logging

    import yaml as _yaml

    with caplog.at_level(logging.WARNING, logger="annotations_ingester_spark.config"):
        PipelineConfig.from_dict(_yaml.safe_load(REFERENCE_CONFIG_YML))
    warned = [r.getMessage().split()[2] for r in caplog.records]
    assert sorted(warned) == sorted([
        "source.es.security.ca-file-path",
        "nlp-service.use-bulk-indexing",
        "nlp-service.annotation-response",
        "mapping.index-ingest-mode.use-nested-objects",
        "mapping.index-ingest-mode.es-nested-object-schema-mapping",
    ])


def test_misplaced_keys_are_named(caplog):
    """``batch`` at the top level and ``text-field`` under ``source`` load
    with their defaults, so each is named in a warning. Free-form values
    (``application-params``) are not walked."""
    import logging

    d = {
        "source": {"backend": "parquet", "path": "src", "text-field": "text"},
        "sink": {"backend": "parquet", "path": "dst"},
        "nlp-service": {"endpoints-url": ["fake://medcat"],
                        "application-params": {"anything": {"nested": 1}}},
        "mapping": {},
        "batch": {"threads": 8},
    }
    with caplog.at_level(logging.WARNING, logger="annotations_ingester_spark.config"):
        cfg = PipelineConfig.from_dict(d)
    assert cfg.threads == 4 and cfg.text_field == "document"
    assert cfg.nlp.application_params == {"anything": {"nested": 1}}
    warned = [r.getMessage() for r in caplog.records]
    assert len(warned) == 2
    assert any(" batch " in m for m in warned)
    assert any(" source.text-field " in m for m in warned)


def test_non_iso_date_format_refused_by_key():
    import copy

    for key in ("date-format", "es-date-format", "python-date-format"):
        d = copy.deepcopy(REFERENCE_STYLE_CONFIG)
        d["mapping"]["source"]["batch"][key] = "dd/MM/yyyy"
        with pytest.raises(ValueError, match=f"mapping.source.batch.{key} 'dd/MM/yyyy'"):
            PipelineConfig.from_dict(d)
    d = copy.deepcopy(REFERENCE_STYLE_CONFIG)
    d["mapping"]["source"]["batch"] |= {"date-format": "yyyy-MM-dd",
                                        "python-date-format": "%Y-%m-%d"}
    assert PipelineConfig.from_dict(d).date_field == "dct"


def test_reference_config_same_index_and_skip_variants():
    import yaml as _yaml

    from annotations_ingester_spark.config import PipelineConfig

    d = _yaml.safe_load(REFERENCE_CONFIG_YML)
    d["mapping"]["index-ingest-mode"]["same-index"] = True
    d["mapping"]["index-ingest-mode"]["use-nested-objects"] = True
    d["mapping"]["nlp"]["skip-processed-doc-check"] = True
    d["nlp-service"]["endpoint-request-mode"] = "gate-nlp"
    cfg = PipelineConfig.from_dict(d)
    assert cfg.ingest_mode == "same-index"
    assert cfg.skip_processed_doc_check is True
    assert cfg.nlp.mode == "gate-nlp"


def test_decode_media_jpeg_fill_bytes_and_sos():
    """JPEG marker scan must skip 0xFF fill padding and stop at SOS/EOI
    instead of misreading entropy data as a segment length."""
    import struct

    from annotations_ingester_spark.multimodal.media import decode_media

    jpeg = (b"\xff\xd8"
            + b"\xff\xff\xff"  # fill bytes before the next marker
            + b"\xff\xe0\x00\x10" + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 100, 200) + b"\x03" + b"\x00" * 9)
    j = decode_media(jpeg, "image")
    assert (j["format"], j["width"], j["height"]) == ("jpeg", 200, 100)

    # SOS before any SOF: degrade to digest-only, never parse scan data
    trunc = b"\xff\xd8" + b"\xff\xda\x00\x02" + b"\x12\x34\x56\x78" * 4
    out = decode_media(trunc, "image")
    assert "format" not in out


def _png_encode(rows, ctype, filters=None, palette=None):
    """Minimal pure-stdlib PNG encoder for hermetic decoder tests: 8-bit,
    non-interlaced, one explicit filter type per scanline (so every
    unfilter branch gets exercised). ``rows`` = list of per-row channel
    byte sequences."""
    import struct as _struct
    import zlib as _zlib
    from binascii import crc32

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    h = len(rows)
    w = len(rows[0]) // channels
    filters = filters or [0] * h

    def flt(ft, cur, prev):
        ch = channels
        out = bytearray()
        for x, v in enumerate(cur):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                out.append(v)
            elif ft == 1:
                out.append((v - a) & 0xFF)
            elif ft == 2:
                out.append((v - b) & 0xFF)
            elif ft == 3:
                out.append((v - ((a + b) >> 1)) & 0xFF)
            else:  # Paeth
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((v - pr) & 0xFF)
        return bytes(out)

    raw = b""
    prev = bytes(len(rows[0]))
    for ft, r in zip(filters, rows):
        raw += bytes([ft]) + flt(ft, bytes(r), prev)
        prev = bytes(r)

    def chunk(typ, data):
        return (
            _struct.pack(">I", len(data))
            + typ
            + data
            + _struct.pack(">I", crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    out += chunk(b"IDAT", _zlib.compress(raw)) + chunk(b"IEND", b"")
    return out


def test_png_decode_gray_all_filters_and_color_types():
    """The vendored PNG decoder reconstructs exact pixels through every
    filter type (None/Sub/Up/Average/Paeth) and every supported color
    type — round-trip against the test encoder, which computes filtered
    scanlines independently from the spec."""
    from annotations_ingester_spark.multimodal.media import png_decode_gray

    # grayscale 6x6 gradient, one scanline per filter type (0..4, then 2)
    rows = [bytes((x * 37 + y * 11) & 0xFF for x in range(6)) for y in range(6)]
    p = _png_encode(rows, ctype=0, filters=[0, 1, 2, 3, 4, 2])
    w, h, mode, gray = png_decode_gray(p)
    assert (w, h, mode) == (6, 6, "L")
    assert gray == rows  # exact pixel reconstruction

    # RGB: gray = integer ITU-R 601 luma
    rgb_rows = [
        bytes(v for x in range(4) for v in (x * 40, y * 50, 200))
        for y in range(3)
    ]
    p = _png_encode(rgb_rows, ctype=2, filters=[4, 3, 1])
    w, h, mode, gray = png_decode_gray(p)
    assert (w, h, mode) == (4, 3, "RGB")
    expect = [
        bytes((299 * (x * 40) + 587 * (y * 50) + 114 * 200) // 1000 for x in range(4))
        for y in range(3)
    ]
    assert gray == expect

    # palette: gray from PLTE entries
    p = _png_encode(
        [bytes([0, 1, 1, 0])], ctype=3, palette=[255, 0, 0, 0, 255, 0]
    )
    w, h, mode, gray = png_decode_gray(p)
    assert (w, h, mode) == (4, 1, "P")
    assert gray == [bytes([76, 149, 149, 76])]  # 299*255//1000, 587*255//1000

    # unsupported variants raise (callers degrade to digest-only)
    import pytest

    with pytest.raises(ValueError):
        png_decode_gray(b"not a png")
    bad = _png_encode(rows, ctype=0)
    with pytest.raises(ValueError):
        png_decode_gray(bad[:40])  # truncated IDAT

    # Corrupt-palette shapes must be ValueError, NOT IndexError (r11
    # advice): callers catch (ValueError, struct.error, zlib.error) and
    # degrade per-row — an IndexError would fail the whole Spark task on
    # one malformed blob.
    with pytest.raises(ValueError, match="corrupt PNG palette"):
        # PLTE length not a multiple of 3
        png_decode_gray(
            _png_encode([bytes([0, 1])], ctype=3, palette=[255, 0, 0, 0])
        )
    with pytest.raises(ValueError, match="corrupt PNG palette"):
        # pixel index >= palette size (2 entries, pixel value 7)
        png_decode_gray(
            _png_encode([bytes([0, 7])], ctype=3, palette=[255, 0, 0, 0, 255, 0])
        )


def test_decode_content_png_hermetic(spark):
    """Pixel-level decode_content over PNG payloads runs with NO Pillow:
    width/height/mode verified from actual pixel data via the vendored
    decoder, perceptual hash deterministic and separating distinct
    images, corrupt rows degrading instead of raising. This is the
    formerly PIL-skipped coverage made unconditional."""
    from annotations_ingester_spark.multimodal.media import (
        MEDIA_SCHEMA,
        decode_content,
    )

    flat = _png_encode(
        [bytes(v for _x in range(32) for v in (255, 0, 0)) for _y in range(16)],
        ctype=2,
        filters=[1] * 16,
    )
    grad = _png_encode(
        [bytes((y * 32 + x) % 256 for x in range(32)) for y in range(16)],
        ctype=0,
        filters=[(y % 5) for y in range(16)],
    )
    rows = [
        (1, bytearray(flat), {"kind": "image"}),
        (2, bytearray(grad), {"kind": "image"}),
        (3, bytearray(b"corrupt"), {"kind": "image"}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_content(df).collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"], out[1]["mode"]) == (
        "png", 32, 16, "RGB",
    )
    assert out[2]["mode"] == "L" and out[2]["phash"] is not None
    assert out[1]["phash"] != out[2]["phash"]
    # flat image: every cell equals the mean -> all 64 bits set (signed)
    assert out[1]["phash"] == -1  # all 64 bits set, as a signed BIGINT
    assert out[3]["format"] is None and out[3]["digest"]  # degrade, not raise


def test_decode_pixels_jpeg_respects_pil_gate():
    """Non-PNG content decode stays PIL-gated: without Pillow a JPEG
    payload degrades to the header/digest row; with Pillow it decodes.
    Runs (and passes) in both environments - no skip."""
    import struct as _struct

    from annotations_ingester_spark.multimodal.media import (
        decode_pixels,
        pil_available,
    )

    sof = b"\xff\xc0" + _struct.pack(">HBHHB", 11, 8, 16, 32, 1) + b"\x01\x11\x00"
    jpeg_headerish = b"\xff\xd8" + sof + b"\xff\xd9"
    out = decode_pixels(jpeg_headerish, "image")
    if pil_available():
        # PIL parses real scans; this minimal header-only payload may still
        # fail pixel load - either full decode or digest-only degrade
        assert out["digest"]
    else:
        assert "phash" not in out and "mode" not in out
        assert out["digest"]  # baseline row survives


def test_png_roundtrip_property_based():
    """Property test (hypothesis): ANY 8-bit gray/RGB/RGBA image encoded
    with ANY per-scanline filter sequence decodes back to the exact
    original pixels, and the luma conversion matches the integer ITU-R
    601 spec computed independently here."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from annotations_ingester_spark.multimodal.media import (
        average_hash_gray,
        png_decode_gray,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(1, 11),
        h=st.integers(1, 11),
        ctype=st.sampled_from([0, 2, 6]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, ctype, seed):
        ch = {0: 1, 2: 3, 6: 4}[ctype]
        # deterministic pseudo-random pixels/filters from the drawn seed
        vals = []
        x = seed or 1
        for _ in range(h * w * ch + h):
            x = (1103515245 * x + 12345) % (2**31)
            vals.append(x & 0xFF)
        rows = [
            bytes(vals[y * w * ch : (y + 1) * w * ch]) for y in range(h)
        ]
        filters = [vals[h * w * ch + y] % 5 for y in range(h)]
        p = _png_encode(rows, ctype=ctype, filters=filters)
        got_w, got_h, mode, gray = png_decode_gray(p)
        assert (got_w, got_h) == (w, h)
        if ctype == 0:
            expect = rows
            assert mode == "L"
        else:
            expect = [
                bytes(
                    (299 * r[i] + 587 * r[i + 1] + 114 * r[i + 2]) // 1000
                    for i in range(0, len(r), ch)
                )
                for r in rows
            ]
        assert gray == expect
        ph = average_hash_gray(gray, w, h)
        assert -(2**63) <= ph < 2**63  # signed-BIGINT portable

    check()


def test_gated_wav_silence_islands(spark, tmp_path):
    """The silence-segment query recovers exactly the arithmetic gating
    blocks for a tiny corpus (runs end-to-end through real WAV bytes)."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [5],
            "lang": ["en"],
            "source": ["s"],
            "text": ["x"],
            "n_chars": [1],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    segs = sorted(
        (r.start_frame, r.n_frames)
        for r in REGISTRY["media_audio_silence_segments"]
        .spark(spark, str(tmp_path))
        .collect()
    )
    # id=5: silent blocks at frames 3-5 and 12-14 (((f//3)+5) % 3 == 0)
    assert segs == [(3, 3), (12, 3)]


def test_tf_cosine_identical_docs_score_one(spark, tmp_path):
    """Two identical docs (plus a decoy sharing no capped terms) pair at
    cosine exactly 1.0."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "text": [
                "alpha beta gamma alpha",
                "alpha beta gamma alpha",
                "delta epsilon zeta",
            ],
            "n_chars": [22, 22, 18],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    rows = REGISTRY["tf_cosine_doc_pairs"].spark(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.cosine) == (1, 2, 1.0)
    assert r.dot == 4 + 1 + 1  # tf alpha=2x2, beta=1, gamma=1
