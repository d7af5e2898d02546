"""Multimodal column plumbing (SURVEY.md §2.10 / BASELINE.json north star).

Images/audio/video are carried as opaque ``binary`` columns plus a typed
metadata struct; decode / feature-extract run as Arrow-batched
``mapInPandas`` stages so each Python worker touches a whole batch at a
time (the only sane shape for media decoding on a cluster — per-row UDFs
pay the serialization tax per record).

PPM (P6), PNG and WAV decode for real with numpy and the stdlib; JPEG
needs Pillow (import-gated in :func:`decode_image`). Only
:func:`extract_features` is a stub: its byte-histogram "feature" stands in
for a learned image embedding.

Every media stage is one of two kernel shapes:

- a synthesizer, :func:`_synth_media`: documents ``(doc_id, n_chars)`` in,
  ``MEDIA_SCHEMA`` rows out, one ``make(doc_id, n_chars)`` per format;
- a per-payload feature stage, :func:`_map_payloads`: media
  ``(media_id, payload)`` in, ``media_id`` plus one tuple of features per
  payload out, typed by a DDL schema.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta_width", LongType()),
        StructField("meta_height", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: wrap the documents table as a media table (text payload as
    bytes) so the plumbing is exercised on driver test data."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.col("n_chars").alias("meta_width"),
        F.lit(1).cast("long").alias("meta_height"),
    )


# ---------------------------------------------------------------------------
# Real decoders — no external codecs required.
#
# PPM (P6), PNG and WAV (RIFF) are fully parseable with numpy + the
# stdlib, so the decode tier is genuinely real for those formats; JPEG
# routes through PIL when it is installed (import-gated — real
# deployments pip-install Pillow and the same dispatcher lights up).
# ---------------------------------------------------------------------------


def encode_ppm(pixels) -> bytes:
    """Serialize an (h, w, 3) uint8 array as a binary P6 PPM."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + arr.tobytes()


def _ppm_frame(data: bytes, pos: int = 0):
    """Parse the P6 frame starting at ``data[pos]``: returns (width,
    height, (h, w, 3) uint8, offset just past the raster).

    Real format parsing — magic, whitespace-delimited header tokens
    (comments included), maxval and dimension checks, then the raw pixel
    plane.
    """
    import numpy as np

    if data[pos : pos + 2] != b"P6":
        raise ValueError(f"not a P6 PPM frame at offset {pos}")
    # header = magic + 3 integer tokens; '#' comments run to end-of-line
    tokens: list[bytes] = []
    pos += 2
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            pos = data.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(data[start:pos])
    pos += 1  # single whitespace after maxval, then raster
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    if w <= 0 or h <= 0:
        raise ValueError(f"PPM dimensions must be positive, got {w}x{h}")
    plane = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos)
    return w, h, plane.reshape(h, w, 3), pos + w * h * 3


def decode_ppm(payload: bytes):
    """Parse a binary P6 PPM: returns (width, height, (h, w, 3) uint8)."""
    return _ppm_frame(payload)[:3]


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Serialize int16 mono samples as a RIFF/WAV byte payload."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(sample_rate)
        f.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes):
    """Parse a RIFF/WAV payload: returns (sample_rate, int16 sample array)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as f:
        if f.getsampwidth() != 2 or f.getnchannels() != 1:
            raise ValueError("only 16-bit mono WAV supported")
        rate = f.getframerate()
        samples = np.frombuffer(f.readframes(f.getnframes()), dtype="<i2")
    return rate, samples


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth_vec(a, b, c):
    """Vectorized Paeth predictor (PNG spec §9.4) over int16 arrays."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_filter_row(raw, prior, ftype: int, bpp: int):
    """Apply PNG filter ``ftype`` to one raw scanline (encode side).

    Filters reference only RAW neighbor bytes, so every type vectorizes.
    """
    import numpy as np

    raw16 = raw.astype(np.int16)
    left = np.concatenate([np.zeros(bpp, np.int16), raw16[:-bpp]])
    up = prior.astype(np.int16)
    if ftype == 0:
        out = raw16
    elif ftype == 1:  # Sub
        out = raw16 - left
    elif ftype == 2:  # Up
        out = raw16 - up
    elif ftype == 3:  # Average
        out = raw16 - ((left + up) >> 1)
    elif ftype == 4:  # Paeth
        upleft = np.concatenate([np.zeros(bpp, np.int16), up[:-bpp]])
        out = raw16 - _paeth_vec(left, up, upleft)
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return (out % 256).astype(np.uint8)


def _png_unfilter_row(filt, prior, ftype: int, bpp: int):
    """Reverse one scanline's filter (decode side).

    None/Up are pure vector ops; Sub is a per-channel cumulative sum
    (recon[i] = filt[i] + recon[i-bpp]); Average/Paeth reference the
    *reconstructed* left neighbor, which is inherently sequential —
    bounded per-row loop (synth widths are capped; the Spark tier batches
    rows through Arrow so the loop never crosses a row boundary).
    """
    import numpy as np

    if ftype == 0:
        return filt.copy()
    if ftype == 2:  # Up
        return ((filt.astype(np.int16) + prior) % 256).astype(np.uint8)
    if ftype == 1:  # Sub: per-channel cumsum mod 256
        x = filt.reshape(-1, bpp).astype(np.int64)
        return (np.cumsum(x, axis=0) % 256).astype(np.uint8).reshape(-1)
    if ftype not in (3, 4):
        raise ValueError(f"unknown PNG filter type {ftype}")
    out = np.zeros_like(filt)
    for i in range(len(filt)):
        a = int(out[i - bpp]) if i >= bpp else 0
        b = int(prior[i])
        if ftype == 3:  # Average
            out[i] = (int(filt[i]) + ((a + b) >> 1)) % 256
        else:  # Paeth
            c = int(prior[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (int(filt[i]) + pred) % 256
    return out


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    body = tag + data
    return (
        struct.pack(">I", len(data))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def encode_png(pixels, filters=None) -> bytes:
    """Serialize an (h, w, 3) uint8 array as a REAL PNG — pure stdlib
    (zlib deflate + struct), no Pillow.

    ``filters``: per-scanline PNG filter types — an int applied to every
    row, a sequence (one per row), or None for filter 0. Writing varied
    filters lets roundtrip tests exercise every unfilter branch of
    :func:`decode_png` with genuine PNG bytes.
    """
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch != 3:
        raise ValueError("encode_png expects (h, w, 3) RGB")
    if filters is None:
        row_filters = [0] * h
    elif isinstance(filters, int):
        row_filters = [filters] * h
    else:
        row_filters = list(filters)
        if len(row_filters) != h:
            raise ValueError("filters sequence must have one entry per row")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    bpp = 3
    prior = np.zeros(w * bpp, dtype=np.uint8)
    scanlines = bytearray()
    for y in range(h):
        raw = arr[y].reshape(-1)
        f = int(row_filters[y])
        scanlines.append(f)
        scanlines.extend(_png_filter_row(raw, prior, f, bpp).tobytes())
        prior = raw
    idat = zlib.compress(bytes(scanlines))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """Parse a PNG payload with the stdlib only: chunk walk with CRC
    verification, IHDR validation, IDAT concatenation + zlib inflate,
    and per-scanline unfiltering (all five filter types). Returns
    (width, height, (h, w, 3) uint8 RGB).

    Supports the shapes real training corpora overwhelmingly carry:
    8-bit depth, color types 0 (grayscale -> replicated to RGB),
    2 (RGB), 6 (RGBA -> alpha dropped), no interlace. Anything else
    raises rather than guessing.
    """
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(PNG_SIG)
    ihdr = None
    idat = bytearray()
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt_method, interlace = ihdr
    if depth != 8 or comp != 0 or filt_method != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG shape: depth={depth} comp={comp} "
            f"filter={filt_method} interlace={interlace}"
        )
    if w <= 0 or h <= 0:
        raise ValueError(f"PNG dimensions must be positive, got {w}x{h}")
    bpp = {0: 1, 2: 3, 6: 4}.get(color)
    if bpp is None:
        raise ValueError(f"unsupported PNG color type {color}")
    raw = zlib.decompress(bytes(idat))
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data length mismatch")
    rows = []
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        filt = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1)
        prior = _png_unfilter_row(filt, prior, ftype, bpp)
        rows.append(prior)
    arr = np.stack(rows).reshape(h, w, bpp)
    if color == 0:
        arr = np.repeat(arr, 3, axis=2)
    elif color == 6:
        arr = arr[:, :, :3]
    return w, h, arr


def decode_image(payload: bytes):
    """Real image decode dispatcher: returns (width, height, pixel array).

    P6 PPM and PNG decode in-process (pure stdlib — see
    :func:`decode_png`); JPEG and the long-tail formats need PIL, which
    is import-gated (absent in this container — deployments install
    Pillow and the same call path decodes them with zero code change).
    """
    import numpy as np

    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    if payload.startswith(PNG_SIG):
        return decode_png(payload)
    try:
        from PIL import Image  # noqa: PLC0415 — optional dependency
    except ImportError as exc:
        raise NotImplementedError(
            "JPEG decode needs Pillow (not installed here); "
            "PPM and PNG payloads decode natively"
        ) from exc
    import io

    img = Image.open(io.BytesIO(payload)).convert("RGB")
    arr = np.asarray(img)
    return img.width, img.height, arr


def decode_image_stub(payload: bytes, fake: bool) -> list[float]:
    """Decode kernel placeholder. Real deployments swap in PIL/libvips here.

    With ``fake=True`` emits a deterministic 8-dim byte-histogram feature
    so the distributed plumbing can be tested end-to-end.
    """
    if not fake:
        raise NotImplementedError(
            "media codecs are not installed in this environment; "
            "pass fake=True to exercise the pipeline with stub features"
        )
    hist = [0.0] * 8
    for byte in payload:
        hist[byte % 8] += 1.0
    total = max(len(payload), 1)
    return [h / total for h in hist]


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    ``mapInPandas`` receives an iterator of record batches — the kernel
    processes whole batches, and output rows stream back without
    materializing the partition.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "feature": pdf["payload"].map(lambda p: decode_image_stub(bytes(p), fake)),
                }
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# The two kernel shapes every synthesizer and feature stage below is built
# from.
# ---------------------------------------------------------------------------


def _synth_media(documents: DataFrame, media_type: str, height: int, make) -> DataFrame:
    """Synthesizer kernel: one ``mapInPandas`` over ``(doc_id, n_chars)``
    that emits ``MEDIA_SCHEMA`` rows. ``make(doc_id, n_chars)`` returns
    that document's ``(media_id, payload, width)`` rows (near-duplicate
    corpora return a source and its perturbed copy); ``media_type`` and
    ``height`` are the same for every row."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"])
                for row in make(int(doc_id), int(n_chars))
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "payload", "meta_width"]
            ).assign(media_type=media_type, meta_height=height)

    return documents.select("doc_id", "n_chars").mapInPandas(
        kernel, schema=MEDIA_SCHEMA
    )


def _map_payloads(media: DataFrame, fn, schema: str) -> DataFrame:
    """Per-payload feature kernel: one ``mapInPandas`` over
    ``(media_id, payload)``. ``fn(payload_bytes)`` returns the values that
    follow ``media_id`` in the DDL ``schema``, which also names the output
    columns."""
    columns = [field.split()[0] for field in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    (int(media_id), *fn(bytes(payload)))
                    for media_id, payload in zip(pdf["media_id"], pdf["payload"])
                ],
                columns=columns,
            )

    return media.select("media_id", "payload").mapInPandas(kernel, schema=schema)


def _doc_pixels(doc_id: int, w: int, shift: int = 0, modulus: int = 256):
    """A document's synthetic picture: 2 rows of ``w`` grey RGB pixels,
    pixel i = (doc_id*7 + shift + i) % modulus."""
    import numpy as np

    v = (doc_id * 7 + shift + np.arange(2 * w)) % modulus
    return np.repeat(v.astype(np.uint8), 3).reshape(2, w, 3)


def synth_ppm_media(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL P6 PPM image per document (deterministic pixels
    derived from doc_id, width from n_chars) — gives the decode tier true
    image bytes to parse without vendoring binary fixtures."""

    def make(doc_id: int, n_chars: int):
        w = max(n_chars, 1)
        return [(doc_id, encode_ppm(_doc_pixels(doc_id, w)), w)]

    return _synth_media(documents, "image", 2, make)


def synth_png_media(documents: DataFrame, max_width: int = 256) -> DataFrame:
    """Synthesize a REAL PNG per document — same deterministic pixel
    function as :func:`synth_ppm_media` (value (doc_id*7 + i) % 256,
    2 rows), width capped at ``max_width`` (the Average/Paeth unfilter
    paths are per-pixel sequential, so the synth bounds row length).
    The per-row filter type cycles with (doc_id + row) % 5, so a corpus
    run exercises every filter branch of the decoder on real PNG bytes.
    """

    def make(doc_id: int, n_chars: int):
        w = min(max(n_chars, 1), max_width)
        filters = [(doc_id + r) % 5 for r in range(2)]
        return [(doc_id, encode_png(_doc_pixels(doc_id, w), filters=filters), w)]

    return _synth_media(documents, "image", 2, make)


def image_features(media: DataFrame) -> DataFrame:
    """Decode image payloads through the :func:`decode_image` DISPATCHER
    (PPM and PNG both land here) and emit scalar image statistics:
    dimensions, pixel count, integer luminance sum and milli-mean — the
    exact-integer feature shape that stays hash-comparable across
    engines, so one query per format hash-verifies its decode path
    end-to-end."""

    def stats(payload: bytes):
        w, h, arr = decode_image(payload)
        lum = int(arr[:, :, 0].astype("int64").sum())
        return w, h, w * h, lum, lum * 1000 // (w * h)

    return _map_payloads(
        media,
        stats,
        "media_id long, width long, height long, n_pixels long, "
        "sum_lum long, mean_lum_milli long",
    )


def synth_wav_media(documents: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Synthesize a REAL RIFF/WAV payload per document: constant-amplitude
    int16 mono signal, n_samples from n_chars, amplitude from doc_id."""
    import numpy as np

    def make(doc_id: int, n_chars: int):
        n = max(n_chars, 1)
        samples = np.full(n, doc_id % 30000, dtype="<i2")
        return [(doc_id, encode_wav(samples, sample_rate), n)]

    return _synth_media(documents, "audio", 1, make)


def audio_wav_features(media: DataFrame) -> DataFrame:
    """Decode RIFF/WAV payloads (stdlib wave parser, decode_wav) and emit
    scalar audio statistics: sample count/rate, integer duration, peak
    amplitude (0 for a 0-frame clip)."""
    import numpy as np

    def stats(payload: bytes):
        rate, samples = decode_wav(payload)
        n = len(samples)
        peak = int(np.abs(samples.astype("int64")).max(initial=0))
        return n, rate, n * 1000 // rate, peak

    return _map_payloads(
        media,
        stats,
        "media_id long, n_samples long, sample_rate long, "
        "duration_ms long, peak long",
    )


def resize_images(
    media: DataFrame, width: int, height: int, fake: bool = True
) -> DataFrame:
    """Resize stage: same schema in and out, meta updated to the target
    dimensions. The pixel work is stubbed (no codecs here — a real
    deployment decodes, resamples, re-encodes inside this kernel); the
    fake path truncates/pads the payload to width*height bytes so output
    size actually tracks the requested dimensions and downstream stages
    see realistic batch shapes.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media codecs are not installed; pass fake=True"
                )
            out = pdf.copy()
            out["payload"] = out["payload"].map(
                lambda p: bytes(p)[:target].ljust(target, b"\0")
            )
            out["meta_width"] = width
            out["meta_height"] = height
            yield out

    return media.mapInPandas(kernel, schema=MEDIA_SCHEMA)


def register_frame_sampler(spark, n_default: int = 4) -> None:
    """Register ``sample_frames`` — a Python UDTF (SURVEY.md §2.11 tier 4:
    one-to-many expansion) that splits a video payload into n evenly-
    spaced "frames". Stub decode: frames are contiguous byte slices (a
    real deployment seeks keyframes via ffmpeg here); the one-to-many
    relational shape, lateral-join usage, and frame indexing are the real
    100 TB plumbing.

    SQL usage::

        SELECT m.media_id, f.frame_idx, f.frame_bytes
        FROM media m, LATERAL sample_frames(m.payload, 4) f
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="frame_idx int, n_frames int, frame_bytes binary")
    class SampleFrames:
        def eval(self, payload, n):  # noqa: ANN001
            n = int(n) if n is not None else n_default
            if payload is None or n <= 0:
                return
            data = bytes(payload)
            step = max(len(data) // n, 1)
            for i in range(min(n, len(data))):
                yield i, n, data[i * step : (i + 1) * step]

    spark.udtf.register("sample_frames", SampleFrames)




def synth_ppm_near_dup_media(documents: DataFrame) -> DataFrame:
    """The PPM corpus plus a BRIGHTNESS-SHIFTED copy of every third image
    (media_id + 1e6, every channel +24 clipped) — visually the same
    picture, byte-wise a different payload: exactly the near-duplicate
    class byte hashing misses and perceptual hashing exists to catch."""
    import numpy as np

    def make(doc_id: int, n_chars: int):
        w = max(n_chars, 1)
        pixels = _doc_pixels(doc_id, w)
        rows = [(doc_id, encode_ppm(pixels), w)]
        if doc_id % 3 == 0:
            # +24 uniform brightness, clipped — aHash-invariant
            # wherever no pixel clips (the formula pixels top out
            # at 255 though, so clipping DOES occur on some rows;
            # the test pins the observed grouping, not a blanket
            # invariance claim)
            shifted = np.clip(pixels.astype(np.int16) + 24, 0, 255).astype(np.uint8)
            rows.append((doc_id + 1_000_000, encode_ppm(shifted), w))
        return rows

    return _synth_media(documents, "image", 2, make)


def _ahash(arr) -> int:
    """The unsigned 64-bit aHash of an (h, w, 3) image, as
    :func:`image_average_hash` describes it; cell bounds are clamped so
    every one of the 8x8 cells holds at least one pixel."""
    lum = arr[:, :, 0].astype("int64")
    h, w = lum.shape
    total_sum, n_total = int(lum.sum()), w * h
    bits = 0
    for gy in range(8):
        y0 = min(gy * h // 8, h - 1)
        y1 = max((gy + 1) * h // 8, y0 + 1)
        for gx in range(8):
            x0 = min(gx * w // 8, w - 1)
            x1 = max((gx + 1) * w // 8, x0 + 1)
            cell = lum[y0:y1, x0:x1]
            bits = (bits << 1) | int(int(cell.sum()) * n_total > total_sum * cell.size)
    return bits


def image_average_hash(media: DataFrame) -> DataFrame:
    """64-bit average hash (aHash) per image: luminance plane block-pooled
    onto an 8x8 grid, one bit per cell = 'cell mean above global mean',
    decided by EXACT integer cross-multiplication (cell_sum * n_total >
    total_sum * n_cell) so no float mean ever enters the bit pattern.
    Uniform brightness shifts cancel on both sides of the comparison, so
    visually-identical re-encodes collapse to one hash — the property
    that makes aHash the standard first pass of image dedup."""

    def phash(payload: bytes):
        bits = _ahash(decode_image(payload)[2])
        return (bits - (1 << 64) if bits >> 63 else bits,)  # as a signed long

    return _map_payloads(media, phash, "media_id long, phash long")


def synth_wav_near_dup_media(documents: DataFrame, sample_rate: int = 8000) -> DataFrame:
    """Varying-waveform WAV corpus plus an AMPLITUDE-DOUBLED copy of every
    third clip (media_id + 1e6) — the same recording at a different gain,
    byte-wise distinct: the near-duplicate class an energy-profile
    fingerprint exists to catch. Samples stay under 8192 so the x2 copy
    is EXACT int16 (no rounding, no clipping) and the scale-invariance
    of the fingerprint holds with no caveats."""
    import numpy as np

    def make(doc_id: int, n_chars: int):
        n = max(n_chars, 16)
        i = np.arange(n, dtype="int64")
        samples = ((doc_id * 13 + i * i) % 8192).astype("<i2")
        rows = [(doc_id, encode_wav(samples, sample_rate), n)]
        if doc_id % 3 == 0:
            doubled = (samples * 2).astype("<i2")
            rows.append((doc_id + 1_000_000, encode_wav(doubled, sample_rate), n))
        return rows

    return _synth_media(documents, "audio", 1, make)


def audio_energy_fingerprint(media: DataFrame) -> DataFrame:
    """16-bit energy-profile fingerprint per clip: absolute amplitude
    pooled into 16 time buckets, one bit per bucket = 'bucket energy
    above the clip mean', decided by exact integer cross-multiplication
    (bucket_sum * n_total > total_sum * n_bucket). A uniform gain change
    multiplies both sides identically, so re-gained copies of the same
    recording share a fingerprint EXACTLY — the audio sibling of
    image_average_hash's brightness invariance."""
    import numpy as np

    def fingerprint(payload: bytes):
        _, samples = decode_wav(payload)
        mag = np.abs(samples.astype("int64"))
        n = mag.size
        total = int(mag.sum())
        bits = 0
        for b in range(16):
            lo, hi = b * n // 16, max((b + 1) * n // 16, b * n // 16 + 1)
            seg = mag[min(lo, n - 1):min(max(hi, lo + 1), n)]
            if seg.size == 0:
                seg = mag[-1:]
            bits = (bits << 1) | int(int(seg.sum()) * n > total * seg.size)
        return (bits,)

    return _map_payloads(media, fingerprint, "media_id long, fingerprint long")


def synth_video_near_dup_media(documents: DataFrame, n_frames: int = 4) -> DataFrame:
    """A "video" per document: ``n_frames`` concatenated P6 PPM frames
    (frame f's pixels shift the doc pattern by 31*f), plus a
    BRIGHTNESS-SHIFTED re-encode of every third video (media_id + 1e6,
    all frames +16). Source pixels are capped under 240 so the shift
    never clips — per-frame aHash invariance is exact, no caveats."""
    import numpy as np

    def make(doc_id: int, n_chars: int):
        w = max(n_chars, 8)
        frames = [
            _doc_pixels(doc_id, w, shift=31 * f, modulus=240) for f in range(n_frames)
        ]
        rows = [(doc_id, b"".join(encode_ppm(p) for p in frames), w)]
        if doc_id % 3 == 0:
            shifted = b"".join(
                encode_ppm((p.astype(np.int16) + 16).astype(np.uint8)) for p in frames
            )
            rows.append((doc_id + 1_000_000, shifted, w))
        return rows

    return _synth_media(documents, "video", 2, make)


def split_ppm_frames(payload: bytes):
    """Parse a concatenated-PPM video container into its frame arrays by
    walking the real P6 headers (magic, dims, maxval, raster length) —
    container parsing, not byte-slicing guesswork."""
    data = bytes(payload)
    frames, pos = [], 0
    while pos < len(data):
        _, _, arr, pos = _ppm_frame(data, pos)
        frames.append(arr)
    return frames


def video_phash_signature(media: DataFrame) -> DataFrame:
    """Per-video perceptual signature: each frame gets the image aHash
    (the same :func:`_ahash` as image_average_hash), and the ordered
    frame-hash sequence is collapsed to one md5-derived 63-bit
    signature. Re-encoded videos whose every frame is visually identical
    share the signature exactly; one changed frame changes it."""
    import hashlib

    def signature(payload: bytes):
        frames = split_ppm_frames(payload)
        seq = ",".join(str(_ahash(a)) for a in frames)
        sig = int.from_bytes(
            hashlib.md5(seq.encode()).digest()[:8], "big"
        ) >> 1  # 63-bit: stays positive in a signed long
        return len(frames), sig

    return _map_payloads(
        media, signature, "media_id long, n_frames long, signature long"
    )
