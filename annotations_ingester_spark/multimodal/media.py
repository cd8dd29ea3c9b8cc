"""Binary media columns with typed metadata + mapInPandas feature extraction.

Design for 100 TB of media: the binary payload stays opaque to Catalyst
(no per-row JVM↔Python chatter except inside Arrow batches); metadata is a
plain struct so filters on (kind, width, duration, …) prune *before* any
decode work; decode/feature-extraction runs per-partition in ``mapInPandas``
with bounded batch sizes (``spark.sql.execution.arrow.maxRecordsPerBatch``)
so a partition of large blobs can't OOM an executor.

Decoders: ``decode_media`` is REAL for container formats stdlib can parse
— PNG (IHDR width/height via ``struct``), JPEG (SOF marker scan), WAV
(``wave`` module: sample rate / frame count → duration). Pixel *content*
decode is REAL for PNG via a vendored pure-stdlib inflate+unfilter path
(``png_decode_gray`` — hermetic, PIL-independent); JPEG/video/audio
content (resize, frame-sample, spectrogram) still needs
PIL/ffmpeg/librosa behind the same ``decode_fn(payload, kind)`` contract;
``fake_decode`` remains the deterministic stand-in for tests.
"""

from __future__ import annotations

import hashlib
import importlib.util
import io
import struct
import wave
import zlib
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from annotations_ingester_spark.pyfiles import map_in_pandas

MEDIA_META = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("format", T.StringType(), True),  # png/jpeg/wav/mp4/...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)

FEATURE_FIELDS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("digest", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def fake_decode(payload: bytes, kind: str) -> dict[str, Any]:
    """Deterministic decode stub: an 8-dim 'feature' derived from the
    payload digest. Real decoders (PIL image decode → resize → embed;
    ffmpeg frame-sample; librosa spectrogram) plug in with the same
    signature but raise here:

    >>> # raise NotImplementedError("image decode requires PIL")
    """
    digest = hashlib.md5(payload or b"").hexdigest()
    feature = [int(digest[i * 2 : i * 2 + 2], 16) / 255.0 for i in range(8)]
    return {"digest": digest, "feature": feature}


PNG_SIG = b"\x89PNG\r\n\x1a\n"

DECODED_FIELDS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("digest", T.StringType(), True),
    ]
)


def decode_media(payload: bytes, kind: str) -> dict[str, Any]:
    """REAL header decode for PNG / JPEG / WAV using only the stdlib,
    plus the digest/feature baseline. Unrecognized payloads degrade to the
    digest-only result (format=None) instead of raising — at 100 TB a
    corrupt blob must cost one null row, not a task retry storm."""
    out = fake_decode(payload, kind)
    p = payload or b""
    if p.startswith(PNG_SIG) and len(p) >= 24 and p[12:16] == b"IHDR":
        width, height = struct.unpack(">II", p[16:24])
        out.update({"format": "png", "width": width, "height": height})
    elif p[:2] == b"\xff\xd8":  # JPEG SOI; scan for a frame (SOFn) marker
        i = 2
        while i + 9 < len(p) and p[i] == 0xFF:
            marker = p[i + 1]
            if marker == 0xFF:  # fill byte padding before a marker
                i += 1
                continue
            if marker in (0xDA, 0xD9):  # SOS/EOI: entropy data or end —
                break  # no SOF seen, stop scanning
            seglen = int.from_bytes(p[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                height, width = struct.unpack(">HH", p[i + 5 : i + 9])
                out.update({"format": "jpeg", "width": width, "height": height})
                break
            i += 2 + seglen
    elif p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        try:
            with wave.open(io.BytesIO(p)) as wf:
                rate, frames = wf.getframerate(), wf.getnframes()
                out.update(
                    {
                        "format": "wav",
                        "sample_rate": rate,
                        "duration_ms": frames * 1000 // rate if rate else None,
                    }
                )
        except (wave.Error, EOFError):
            pass
    return out


def pil_available() -> bool:
    """True when Pillow is importable — gates the content-level decode
    path for non-PNG formats (JPEG); PNG pixel decode is vendored below
    and needs nothing beyond the stdlib."""
    return importlib.util.find_spec("PIL") is not None


_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def png_decode_gray(p: bytes) -> tuple[int, int, str, list[bytes]]:
    """Pure-stdlib PNG pixel decode: chunk walk → zlib inflate → per-
    scanline unfilter (None/Sub/Up/Average/Paeth per the PNG spec §9) →
    8-bit grayscale rows via integer ITU-R 601 luma ((299R+587G+114B)//1000).
    Returns (width, height, mode, gray_rows). Supports the formats the
    engine itself writes and the overwhelming bulk of real corpora: bit
    depth 8, color types gray / RGB / palette / gray+alpha / RGBA,
    non-interlaced (alpha ignored for luma — phash is about content, not
    transparency). Raises ValueError on anything else; callers degrade to
    the digest-only row. Exists so the pixel path is hermetic — identical
    output with or without Pillow installed."""
    if not p.startswith(PNG_SIG):
        raise ValueError("not a PNG")
    i, idat, plte = 8, b"", b""
    w = h = depth = ctype = interlace = None
    while i + 8 <= len(p):
        (ln,) = struct.unpack(">I", p[i : i + 4])
        typ = p[i + 4 : i + 8]
        data = p[i + 8 : i + 8 + ln]
        i += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None or depth != 8 or interlace != 0 or ctype not in _PNG_CHANNELS:
        raise ValueError("unsupported PNG variant")
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    if ctype == 3:
        # A short/ragged PLTE or a pixel index past the palette end would
        # surface as IndexError, escaping callers' narrow
        # (ValueError, struct.error, zlib.error) degrade catches and
        # failing the whole Spark task on one malformed blob — normalize
        # both corruption shapes to ValueError here instead.
        if len(plte) < 3 or len(plte) % 3 != 0:
            raise ValueError(f"corrupt PNG palette: PLTE length {len(plte)}")
        pal_gray = [
            (299 * plte[j] + 587 * plte[j + 1] + 114 * plte[j + 2]) // 1000
            for j in range(0, len(plte), 3)
        ]
    rows: list[bytes] = []
    prev = bytearray(stride)
    pos = 0
    for _y in range(h):
        ft = raw[pos]
        cur = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:  # Sub
            for x in range(ch, stride):
                cur[x] = (cur[x] + cur[x - ch]) & 0xFF
        elif ft == 2:  # Up
            for x in range(stride):
                cur[x] = (cur[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        prev = cur
        if ctype == 0:
            rows.append(bytes(cur))
        elif ctype == 3:
            if cur and max(cur) >= len(pal_gray):
                raise ValueError(
                    f"corrupt PNG palette: pixel index {max(cur)} >= "
                    f"palette size {len(pal_gray)}"
                )
            rows.append(bytes(pal_gray[v] for v in cur))
        elif ctype == 4:
            rows.append(bytes(cur[x] for x in range(0, stride, 2)))
        else:  # RGB / RGBA
            rows.append(
                bytes(
                    (299 * cur[x] + 587 * cur[x + 1] + 114 * cur[x + 2]) // 1000
                    for x in range(0, stride, ch)
                )
            )
    return w, h, _PNG_MODES[ctype], rows


def average_hash_gray(gray_rows: list[bytes], w: int, h: int) -> int:
    """64-bit average perceptual hash over grayscale rows: integer box-mean
    8×8 downsample (each cell averages its pixel block; images smaller than
    8 px repeat the nearest row/column), bit i set iff cell i ≥ the 64-cell
    mean. All-integer arithmetic (``v*64 >= total``) so the value is
    reproducible bit-for-bit on any platform; returned signed-BIGINT-
    portable like the engine's md5 hashes."""
    cells = []
    for j in range(8):
        y0, y1 = j * h // 8, max(j * h // 8 + 1, (j + 1) * h // 8)
        for i in range(8):
            x0, x1 = i * w // 8, max(i * w // 8 + 1, (i + 1) * w // 8)
            s = sum(gray_rows[y][x] for y in range(y0, y1) for x in range(x0, x1))
            cells.append(s // ((y1 - y0) * (x1 - x0)))
    total = sum(cells)
    bits = 0
    for i, v in enumerate(cells):
        if v * 64 >= total:
            bits |= 1 << i
    # two's-complement fold to a signed BIGINT (subtract 2^64, NOT 2^63 —
    # the latter silently cleared bit 63, caught by the gray8_png
    # round-trip test when patterns with the top bit set first appeared)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def decode_pixels(payload: bytes, kind: str) -> dict[str, Any]:
    """CONTENT-level image decode: width/height/mode verified from the
    actual pixel data (not just container headers) plus a 64-bit
    average-hash perceptual fingerprint (8×8 grayscale box-mean, bit i set
    iff cell i ≥ mean — Hamming distance ≈ visual difference, the standard
    near-dup key for images). PNG decodes through the vendored pure-stdlib
    path (:func:`png_decode_gray`) — hermetic, identical with or without
    Pillow; other formats (JPEG) decode via Pillow when present and
    degrade to the header/digest row when not (callers can gate on
    :func:`pil_available`). Corrupt payloads degrade to the digest-only
    row, same rule as decode_media."""
    out = fake_decode(payload, kind)
    p = payload or b""
    if p.startswith(PNG_SIG):
        try:
            w, h, mode, gray = png_decode_gray(p)
        except Exception:
            return out
        out.update(
            {
                "format": "png",
                "width": w,
                "height": h,
                "mode": mode,
                "phash": average_hash_gray(gray, w, h),
            }
        )
        return out
    if not pil_available():
        return out
    from PIL import Image

    try:
        img = Image.open(io.BytesIO(p))
        img.load()
    except Exception:
        return out
    out.update(
        {
            "format": (img.format or "").lower() or None,
            "width": img.width,
            "height": img.height,
            "mode": img.mode,
        }
    )
    gray_img = img.convert("L")
    gray_rows = [
        bytes(gray_img.getdata())[y * img.width : (y + 1) * img.width]
        for y in range(img.height)
    ]
    out["phash"] = average_hash_gray(gray_rows, img.width, img.height)
    return out


def gray8_png(pattern: int) -> bytes:
    """Build a REAL 8×8 8-bit grayscale PNG (valid chunks + CRCs, zlib
    IDAT) whose pixel at (y, x) is 255 iff bit ``y*8 + x`` of ``pattern``
    is set, else 0. Because :func:`average_hash_gray` box-means an 8×8
    image cell-per-pixel and sets bit i iff cell ≥ mean, the decoded
    phash equals ``pattern`` exactly whenever popcount(pattern) ≥ 1 —
    which is what lets an oracle PREDICT the phash of a synthesized
    image arithmetically and certify the whole decode→phash→band
    pipeline end to end."""
    u = pattern & 0xFFFFFFFFFFFFFFFF
    raw = b"".join(
        b"\x00" + bytes(255 if (u >> (y * 8 + x)) & 1 else 0 for x in range(8))
        for y in range(8)
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)  # 8×8, depth 8, gray
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _pandas_dtype(field: T.StructField) -> str:
    """The pandas dtype that carries ``field`` to Arrow unchanged. A
    nullable BIGINT stays a masked ``Int64``: a ``None`` in a plain column
    would turn it into float64 and corrupt 64-bit hashes above 2^53."""
    if isinstance(field.dataType, T.LongType):
        return "Int64" if field.nullable else "int64"
    if isinstance(field.dataType, T.IntegerType):
        return "Int32"
    return "object"


def _per_blob(
    df: DataFrame,
    cols: list[str],
    row_fn: Callable[..., Iterable[tuple]],
    schema: T.StructType,
) -> DataFrame:
    """The Arrow-batched stage behind every operator here: select ``cols``,
    call ``row_fn(*values)`` once per input row, and collect the tuples it
    yields (zero or more, in ``schema``'s field order) into columns typed
    from ``schema``. Blobs never leave their partition, and Arrow batch
    size (``spark.sql.execution.arrow.maxRecordsPerBatch``) bounds memory."""
    names = schema.fieldNames()
    dtypes = [_pandas_dtype(f) for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out
                for args in pdf.itertuples(index=False, name=None)
                for out in row_fn(*args)
            ]
            columns = list(zip(*rows)) or [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=d) for n, c, d in zip(names, columns, dtypes)}
            )

    slim = df.select(*[F.col(c).alias(f"_{i}") for i, c in enumerate(cols)])
    return map_in_pandas(slim, run, schema)


def _blob(payload: bytes | None) -> bytes:
    return b"" if payload is None else bytes(payload)


SYNTH_FIELDS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)


def _synthesized(df: DataFrame, cols: list[str], row_fn) -> DataFrame:
    """Payload rows ``(media_id, payload, meta)`` from a ``row_fn`` that
    yields ``(media_id, payload, kind)``."""
    out = _per_blob(df, cols, row_fn, SYNTH_FIELDS)
    return out.select("media_id", "payload", F.struct("kind").alias("meta"))


def synth_pattern_images(
    df: DataFrame, id_col: str = "media_id", pattern_col: str = "pattern"
) -> DataFrame:
    """Arrow-batched image synthesizer: (id, 64-bit pattern) → real PNG
    payload rows ``(media_id, payload, meta)``. The ingest-side stand-in
    for a crawler's image fetch — payload bytes are produced inside the
    row's own partition (no shuffle, no driver loop), so the downstream
    decode path is exercised on genuine PNG bytes at any scale."""
    return _synthesized(
        df,
        [id_col, pattern_col],
        lambda mid, pattern: [(mid, gray8_png(int(pattern)), "image")],
    )


PIXEL_FIELDS = T.StructType(
    list(DECODED_FIELDS.fields)
    + [
        T.StructField("mode", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def _decoded(
    df: DataFrame,
    decode_fn: Callable[[bytes, str], dict[str, Any]],
    schema: T.StructType,
    cols: list[str],
) -> DataFrame:
    """One row of ``schema`` per blob: its ``media_id`` and ``n_bytes``,
    and the other fields read by name from ``decode_fn(payload, kind)``
    (absent keys are null)."""
    names = schema.fieldNames()

    def row(mid, payload, kind):
        blob = _blob(payload)
        d = {**decode_fn(blob, kind), "media_id": mid, "n_bytes": len(blob)}
        yield tuple(d.get(n) for n in names)

    return _per_blob(df, cols, row, schema)


def decode_content(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    kind_col: str = "meta.kind",
) -> DataFrame:
    """Arrow-batched PIXEL decode → PIXEL_FIELDS (header fields + mode +
    perceptual hash). Same 100 TB shape as decode_metadata — metadata
    pruning happens before this stage, blobs never leave their partition,
    Arrow batch size bounds memory. PNG rows decode hermetically (vendored
    stdlib path); non-PNG rows need Pillow on driver and executors and
    degrade to the header/digest row without it — gate on
    :func:`pil_available` when JPEG content is required."""
    return _decoded(df, decode_pixels, PIXEL_FIELDS, [id_col, payload_col, kind_col])


def decode_metadata(
    df: DataFrame,
    decode_fn: Callable[[bytes, str], dict[str, Any]] = decode_media,
    payload_col: str = "payload",
    id_col: str = "media_id",
    kind_col: str = "meta.kind",
) -> DataFrame:
    """Arrow-batched header decode → typed media metadata
    (format/width/height/duration_ms/sample_rate) + n_bytes/digest.
    The write-side twin of filtering on ``meta``: run once at ingest, store
    the struct, and every later filter prunes without touching payloads."""
    return _decoded(df, decode_fn, DECODED_FIELDS, [id_col, payload_col, kind_col])


FRAME_FIELDS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("byte_offset", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("frame_digest", T.StringType(), False),
    ]
)


def sample_frames(
    df: DataFrame,
    frame_len: int,
    stride: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Frame sampling over opaque video/audio payloads: slice each blob
    into fixed-length frames and emit every ``stride``-th one as
    ``(media_id, frame_idx, byte_offset, n_frames, frame_digest)``.

    This is the Spark-side plumbing of an ffmpeg-style frame sampler: the
    REAL work here is the byte slicing, offset math and fan-out (1 blob →
    n_frames/stride rows); a codec decode would replace the ``md5(frame)``
    digest with pixel features at the same seam (the container libs are
    not in this sandbox — the fixed-length-frame model keeps the oracle
    byte-exact).

    Scale shape: mapInPandas over the blob's own partition — frames never
    shuffle; the fan-out multiplies rows but each output row is ~100
    bytes, not a frame payload. Arrow batch size bounds memory exactly as
    in decode_metadata. Trailing partial frames are not emitted (a frame
    is only valid at full length).
    """
    if frame_len <= 0 or stride <= 0:
        raise ValueError("frame_len and stride must be positive")

    def row(mid, payload):
        blob = _blob(payload)
        n_frames = len(blob) // frame_len
        for fi in range(0, n_frames, stride):
            off = fi * frame_len
            frame = blob[off : off + frame_len]
            yield mid, fi, off, n_frames, hashlib.md5(frame).hexdigest()

    return _per_blob(df, [id_col, payload_col], row, FRAME_FIELDS)


def extract_features(
    df: DataFrame,
    decode_fn: Callable[[bytes, str], dict[str, Any]] = fake_decode,
    payload_col: str = "payload",
    id_col: str = "media_id",
    kind_col: str = "meta.kind",
) -> DataFrame:
    """Per-partition Arrow-batched decode → (media_id, n_bytes, digest,
    feature). Filters on metadata should be applied by the caller *before*
    this stage — Catalyst can't push predicates through the UDF."""
    return _decoded(df, decode_fn, FEATURE_FIELDS, [id_col, payload_col, kind_col])


def synth_pcm_wav(media_id: int, n_samples: int = 256, rate: int = 8000) -> bytes:
    """Build a REAL mono 16-bit PCM WAV whose sample i is the
    deterministic integer ``((media_id*31 + i*17) % 4096) - 2048`` — an
    arithmetic pseudo-signal an oracle can predict exactly, carried
    through a genuine RIFF/WAVE container (the ``wave`` module both
    writes and re-parses it, so the decode path is exercised on real
    bytes, not a stub)."""
    return _pcm16_wav((_pseudo_signal(media_id, i) for i in range(n_samples)), rate)


def _pseudo_signal(media_id: int, i: int) -> int:
    return ((media_id * 31 + i * 17) % 4096) - 2048


def _pcm16_wav(samples: Iterable[int], rate: int = 8000) -> bytes:
    """A mono 16-bit PCM WAV holding ``samples``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def _pcm16_mono(payload: bytes | None) -> tuple[int, ...]:
    """The samples of a mono 16-bit PCM WAV payload; none for a corrupt or
    non-PCM one (the 100 TB degradation rule: one bad blob must not fail
    a task)."""
    try:
        with wave.open(io.BytesIO(_blob(payload))) as wf:
            if wf.getsampwidth() != 2 or wf.getnchannels() != 1:
                return ()
            raw = wf.readframes(wf.getnframes())
        return struct.unpack(f"<{len(raw) // 2}h", raw[: len(raw) // 2 * 2])
    except (wave.Error, EOFError, struct.error):
        return ()


AUDIO_FRAME_FIELDS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("energy", T.LongType(), False),
        T.StructField("zero_crossings", T.LongType(), False),
    ]
)


def audio_frame_energy(
    df: DataFrame,
    frame_samples: int = 64,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """CONTENT-level audio feature extraction: parse each WAV payload
    with the stdlib ``wave`` module, split the PCM stream into
    fixed-length sample frames, and emit per-frame ENERGY (exact integer
    sum of squared samples — the loudness feature VAD/silence-trimming
    uses) and ZERO-CROSSING count (the classical pitch/noisiness
    feature), both exact integers so the oracle can assert them
    bit-for-bit. Trailing partial frames are dropped (a frame is only
    valid at full length — same rule as sample_frames).

    Scale shape: mapInPandas inside the blob's own partition — PCM bytes
    never shuffle; each output row is ~40 bytes. Corrupt/non-WAV
    payloads contribute no rows (the 100 TB degradation rule: one bad
    blob must not fail a task)."""

    def row(mid, payload):
        samples = _pcm16_mono(payload)
        for fi in range(len(samples) // frame_samples):
            seg = samples[fi * frame_samples : (fi + 1) * frame_samples]
            energy = sum(s * s for s in seg)
            crossings = sum((a >= 0) != (b >= 0) for a, b in zip(seg, seg[1:]))
            yield mid, fi, frame_samples, energy, crossings

    return _per_blob(df, [id_col, payload_col], row, AUDIO_FRAME_FIELDS)


def _synth_wav(df: DataFrame, synth_fn, id_col: str = "media_id") -> DataFrame:
    """Shared WAV-synthesizer stage: id → real PCM WAV payload rows
    (``media_id, payload, meta``) with ``synth_fn(media_id)`` producing
    the RIFF bytes."""
    return _synthesized(
        df, [id_col], lambda mid: [(mid, synth_fn(int(mid)), "audio")]
    )


def synth_wav_images(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """mapInPandas WAV synthesizer: id → real PCM WAV payload rows
    (``media_id, payload, meta``) — the audio twin of
    synth_pattern_images."""
    return _synth_wav(df, synth_pcm_wav, id_col)


def synth_pcm_wav_gated(
    media_id: int, n_samples: int = 1024, frame_samples: int = 64
) -> bytes:
    """:func:`synth_pcm_wav` variant with arithmetic SILENCE GATING: 64-
    sample frame ``f`` is all-zero iff ``((f // 3) + media_id) % 3 == 0``
    (3-frame silent blocks whose position varies by id), other samples
    follow the base pseudo-signal. Gives every synthetic clip predictable
    silence runs so a segment detector can be certified arithmetically."""
    return _pcm16_wav(
        0
        if ((i // frame_samples // 3) + media_id) % 3 == 0
        else _pseudo_signal(media_id, i)
        for i in range(n_samples)
    )


def synth_wav_gated_images(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """mapInPandas synthesizer for :func:`synth_pcm_wav_gated` payloads —
    same contract as :func:`synth_wav_images`."""
    return _synth_wav(df, synth_pcm_wav_gated, id_col)


SIG_FIELDS = T.StructType(
    [
        T.StructField(name, T.LongType(), True)
        for name in ("media_id", "frame_idx", "n_frames", "sig")
    ]
)


def frame_signatures(
    df: DataFrame,
    frame_len: int = 32,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-frame AVERAGE-HASH signatures over opaque payloads →
    ``(media_id, frame_idx, n_frames, sig)``: each fixed-length frame's
    bit i is set iff byte i >= the frame's mean byte (integer floor mean)
    — the 1-D analogue of the image average-hash in
    :func:`average_hash_gray`, locality-sensitive (frames with similar
    byte distributions get small Hamming distance) and byte-exact to
    mirror in SQL, which keeps the oracle honest where a real pixel
    decoder would sit (same seam discipline as :func:`sample_frames`).

    Scale shape: mapInPandas inside the blob's partition — frames never
    shuffle; output rows are fixed-width scalars.
    """
    if frame_len <= 0 or frame_len > 63:
        raise ValueError("frame_len must be in 1..63 (sig is a BIGINT bitmap)")

    def row(mid, payload):
        blob = _blob(payload)
        n_frames = len(blob) // frame_len
        for fi in range(n_frames):
            frame = blob[fi * frame_len : (fi + 1) * frame_len]
            mean = sum(frame) // frame_len
            sig = sum(1 << i for i, by in enumerate(frame) if by >= mean)
            yield mid, fi, n_frames, sig

    return _per_blob(df, [id_col, payload_col], row, SIG_FIELDS)


CLIP_FIELDS = T.StructType(
    [
        T.StructField(name, T.LongType(), False)
        for name in ("media_id", "n_samples", "peak_amplitude", "n_clipped")
    ]
)


def audio_clipping_stats(
    df: DataFrame,
    clip_threshold: int = 2000,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """CONTENT-level clipping detector over WAV payloads: parse each
    mono 16-bit PCM stream and report total samples, the peak absolute
    amplitude, and how many samples sit at/above ``clip_threshold`` —
    the loudness-war / broken-gain-stage audit every audio ingest runs
    before feature extraction (a clipped clip corrupts spectral
    features silently). All outputs are exact integers so the oracle
    can assert them bit-for-bit; ratios/flags are derived downstream.

    Scale shape: mapInPandas inside the blob's own partition — PCM
    bytes never shuffle; one ~32-byte row out per blob. Corrupt or
    non-PCM payloads contribute no rows (the 100 TB degradation rule:
    one bad blob must not fail a task)."""

    def row(mid, payload):
        if samples := _pcm16_mono(payload):
            peak = max(abs(s) for s in samples)
            clipped = sum(abs(s) >= clip_threshold for s in samples)
            yield mid, len(samples), peak, clipped

    return _per_blob(df, [id_col, payload_col], row, CLIP_FIELDS)


HISTOGRAM_FIELDS = T.StructType(
    [
        T.StructField(name, T.LongType(), False)
        for name in ("media_id", "n_pixels", "n_bright")
    ]
)


def image_gray_histogram_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """CONTENT-level image statistics: decode each PNG payload with the
    vendored pure-stdlib decoder and report total pixels and the count
    of bright pixels (gray >= 128) — the integer core a
    histogram-entropy / near-blank audit derives from. Exact integers so the
    oracle can assert them bit-for-bit.

    Scale shape: mapInPandas inside the blob's own partition — pixel
    bytes never shuffle; one ~24-byte row out per image. Corrupt or
    unsupported payloads contribute no rows (the 100 TB degradation
    rule)."""

    def row(mid, payload):
        try:
            _w, _h, _mode, rows = png_decode_gray(_blob(payload))
        except (ValueError, struct.error, zlib.error):
            return
        if n_pixels := sum(len(r) for r in rows):
            yield mid, n_pixels, sum(px >= 128 for r in rows for px in r)

    return _per_blob(df, [id_col, payload_col], row, HISTOGRAM_FIELDS)
