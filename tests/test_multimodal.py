"""Multimodal column plumbing (SURVEY.md §2.10 north star).

PPM/PNG/WAV codecs are real and only the extract_features embedding is
stubbed; the distributed plumbing — binary payload column, Arrow batching
through mapInPandas, typed output schema — is real; these tests pin it down.
"""

from __future__ import annotations

import pytest

from etl_covid19_brasil_spark.io import load_table
from etl_covid19_brasil_spark.llm.multimodal import (
    FEATURE_SCHEMA,
    decode_image_stub,
    documents_as_media,
    extract_features,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    return documents_as_media(load_table(spark, SF, "documents"))


def test_schema_and_row_parity(spark, media):
    feats = extract_features(media, fake=True)
    assert feats.schema == FEATURE_SCHEMA
    assert feats.count() == media.count()


def test_features_deterministic_and_match_local_kernel(spark, media):
    rows = media.limit(20).collect()
    got = {
        r["media_id"]: r["feature"]
        for r in extract_features(media.limit(20), fake=True).collect()
    }
    for r in rows:
        expected = decode_image_stub(bytes(r["payload"]), fake=True)
        assert got[r["media_id"]] == expected, f"media_id={r['media_id']}"


def test_feature_is_normalized_histogram(spark, media):
    feats = extract_features(media, fake=True).limit(50).collect()
    for r in feats:
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-9
        assert r["n_bytes"] > 0


def test_real_decode_is_explicitly_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x89PNG...", fake=False)


def test_resize_updates_meta_and_payload_size(spark, media):
    from etl_covid19_brasil_spark.llm.multimodal import resize_images

    out = resize_images(media.limit(10), width=16, height=8).collect()
    for r in out:
        assert r["meta_width"] == 16 and r["meta_height"] == 8
        assert len(bytes(r["payload"])) == 16 * 8


def test_frame_sampler_udtf_lateral_join(spark, media):
    from etl_covid19_brasil_spark.llm.multimodal import register_frame_sampler

    register_frame_sampler(spark)
    media.limit(10).createOrReplaceTempView("media_v")
    frames = spark.sql(
        """
        SELECT m.media_id, f.frame_idx, f.n_frames, f.frame_bytes
        FROM media_v m, LATERAL sample_frames(m.payload, 4) f
        """
    )
    rows = frames.collect()
    assert len(rows) == 40  # 10 media x 4 frames
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_media.values())
    # frames are non-empty and deterministic slices
    assert all(len(bytes(r["frame_bytes"])) > 0 for r in rows)


def test_ppm_roundtrip_and_comment_header():
    import numpy as np

    from etl_covid19_brasil_spark.llm.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(7)
    pixels = rng.integers(0, 256, (5, 9, 3), dtype=np.uint8)
    w, h, arr = decode_ppm(encode_ppm(pixels))
    assert (w, h) == (9, 5)
    assert (arr == pixels).all()
    # header comments are part of the real format — must be skipped
    commented = b"P6\n# a comment\n2 1\n255\n" + bytes(6)
    w, h, arr = decode_ppm(commented)
    assert (w, h, arr.sum()) == (2, 1, 0)


def test_wav_roundtrip():
    import numpy as np

    from etl_covid19_brasil_spark.llm.multimodal import decode_wav, encode_wav

    samples = np.array([0, 100, -100, 32767, -32768], dtype="<i2")
    rate, got = decode_wav(encode_wav(samples, 16000))
    assert rate == 16000
    assert (got == samples).all()


def test_decode_image_dispatcher_gates_jpeg_on_pillow():
    import importlib.util

    import numpy as np
    import pytest as _pytest

    from etl_covid19_brasil_spark.llm.multimodal import decode_image, encode_png

    w, h, arr = decode_image(b"P6\n1 1\n255\n\x10\x20\x30")
    assert (w, h) == (1, 1) and list(arr.reshape(3)) == [0x10, 0x20, 0x30]
    # PNG decodes NATIVELY through the dispatcher (stdlib codec, no PIL)
    pixels = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    w, h, arr = decode_image(encode_png(pixels))
    assert (w, h) == (2, 2) and (arr == pixels).all()
    if importlib.util.find_spec("PIL") is None:
        with _pytest.raises(NotImplementedError):
            decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")


def test_png_roundtrip_all_filters():
    """Every PNG scanline filter type encodes/decodes to identity."""
    import numpy as np

    from etl_covid19_brasil_spark.llm.multimodal import decode_png, encode_png

    pixels = np.random.default_rng(7).integers(0, 256, (6, 9, 3), dtype=np.uint8)
    for ftype in range(5):
        w, h, arr = decode_png(encode_png(pixels, filters=ftype))
        assert (w, h) == (9, 6)
        assert (arr == pixels).all(), f"filter {ftype} roundtrip broke"
    # mixed per-row filters (the synth query's layout)
    w, h, arr = decode_png(encode_png(pixels, filters=[0, 1, 2, 3, 4, 2]))
    assert (arr == pixels).all()


def test_png_roundtrip_property():
    """Property: encode->decode is the identity for every uint8 image
    under every per-row filter assignment."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_covid19_brasil_spark.llm.multimodal import decode_png, encode_png

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=24),
        h=st.integers(min_value=1, max_value=12),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(w, h, seed):
        rng = np.random.default_rng(seed)
        pixels = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        filters = rng.integers(0, 5, h).tolist()
        got_w, got_h, arr = decode_png(encode_png(pixels, filters=filters))
        assert (got_w, got_h) == (w, h)
        assert (arr == pixels).all()

    roundtrip()


def test_png_crc_corruption_rejected():
    import numpy as np
    import pytest as _pytest

    from etl_covid19_brasil_spark.llm.multimodal import decode_png, encode_png

    payload = bytearray(
        encode_png(np.zeros((2, 2, 3), dtype=np.uint8) + 77)
    )
    # flip one IDAT byte (after the 8-byte sig + 25-byte IHDR chunk)
    payload[8 + 25 + 12] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(payload))


def test_png_grayscale_and_rgba_color_types():
    """The decoder handles color types 0 (gray) and 6 (RGBA) — built by
    hand here since the encoder only writes RGB."""
    import struct
    import zlib

    import numpy as np

    from etl_covid19_brasil_spark.llm.multimodal import (
        PNG_SIG,
        _png_chunk,
        decode_png,
    )

    def build(w, h, color, bpp, raster):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        scan = b"".join(
            b"\x00" + raster[y * w * bpp : (y + 1) * w * bpp] for y in range(h)
        )
        return (
            PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(scan))
            + _png_chunk(b"IEND", b"")
        )

    gw, gh, garr = decode_png(build(3, 2, 0, 1, bytes([10, 20, 30, 40, 50, 60])))
    assert (gw, gh) == (3, 2)
    assert (garr[:, :, 0] == garr[:, :, 1]).all() and garr[1, 2, 2] == 60

    rgba = bytes([1, 2, 3, 255, 4, 5, 6, 0])
    rw, rh, rarr = decode_png(build(2, 1, 6, 4, rgba))
    assert (rw, rh) == (2, 1)
    assert rarr.shape == (1, 2, 3)
    assert list(rarr[0, 1]) == [4, 5, 6]  # alpha dropped


def test_synth_png_decode_matches_documents(spark):
    from etl_covid19_brasil_spark.llm.multimodal import (
        image_features,
        synth_png_media,
    )

    docs = load_table(spark, SF, "documents").limit(25)
    got = image_features(synth_png_media(docs)).collect()
    by_id = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    assert len(got) == 25
    for r in got:
        w = min(max(by_id[r["media_id"]], 1), 256)
        expect_lum = sum((r["media_id"] * 7 + i) % 256 for i in range(2 * w))
        assert r["width"] == w and r["height"] == 2 and r["n_pixels"] == 2 * w
        assert r["sum_lum"] == expect_lum
        assert r["mean_lum_milli"] == expect_lum * 1000 // (2 * w)


def test_synth_decode_pipelines_match_documents(spark):
    from etl_covid19_brasil_spark.llm.multimodal import (
        audio_wav_features,
        image_features,
        synth_ppm_media,
        synth_wav_media,
    )

    docs = load_table(spark, SF, "documents").limit(25)
    img = image_features(synth_ppm_media(docs)).collect()
    wav = audio_wav_features(synth_wav_media(docs)).collect()
    by_id = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    assert len(img) == len(wav) == 25
    for r in img:
        w = max(by_id[r["media_id"]], 1)
        assert r["width"] == w and r["height"] == 2 and r["n_pixels"] == 2 * w
        assert r["mean_lum_milli"] == r["sum_lum"] * 1000 // (2 * w)
    for r in wav:
        n = max(by_id[r["media_id"]], 1)
        assert r["n_samples"] == n and r["sample_rate"] == 8000
        assert r["peak"] == r["media_id"] % 30000


def test_image_decoders_reject_non_positive_dimensions(spark):
    """A non-positive width or height is a corrupt image: decoding must
    raise, not hand a negative pixel count to image_features or a
    constant 0 hash to image_average_hash (which would group every
    degenerate image together)."""
    import numpy as np
    import pandas as pd

    from etl_covid19_brasil_spark.llm.multimodal import (
        decode_png,
        decode_ppm,
        encode_png,
        image_average_hash,
    )

    with pytest.raises(ValueError, match="1x-1"):
        decode_ppm(b"P6\n1 -1\n255\nabc")
    with pytest.raises(ValueError, match="0x0"):
        decode_ppm(b"P6\n0 0\n255\n")
    with pytest.raises(ValueError, match="0x1"):
        decode_png(encode_png(np.zeros((1, 0, 3), np.uint8)))
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "payload": [b"P6\n0 0\n255\n"]})
    )
    with pytest.raises(Exception, match="dimensions must be positive"):
        image_average_hash(media).collect()


def test_split_ppm_frames_accepts_header_comments():
    """'#' comments are legal anywhere in a P6 header; the container
    parser reads frame headers with the same tokenizer as decode_ppm."""
    import numpy as np

    from etl_covid19_brasil_spark.llm.multimodal import encode_ppm, split_ppm_frames

    rng = np.random.default_rng(3)
    first = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    second = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    container = encode_ppm(first) + b"P6\n# c\n3 2\n255\n" + second.tobytes()
    frames = split_ppm_frames(container)
    assert len(frames) == 2
    assert (frames[0] == first).all() and (frames[1] == second).all()


def test_audio_wav_features_zero_frame_clip(spark):
    """A valid 0-frame WAV reports zero samples, duration and peak
    instead of failing the whole stage on an empty max()."""
    import numpy as np
    import pandas as pd

    from etl_covid19_brasil_spark.llm.multimodal import audio_wav_features, encode_wav

    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [5], "payload": [encode_wav(np.zeros(0, "<i2"))]})
    )
    assert [tuple(r) for r in audio_wav_features(media).collect()] == [(5, 0, 8000, 0, 0)]


def test_ppm_roundtrip_property():
    """Property: encode->decode is the identity for every uint8 image."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_covid19_brasil_spark.llm.multimodal import decode_ppm, encode_ppm

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=32),
        h=st.integers(min_value=1, max_value=32),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def roundtrip(w, h, seed):
        pixels = np.random.default_rng(seed).integers(
            0, 256, (h, w, 3), dtype=np.uint8
        )
        got_w, got_h, arr = decode_ppm(encode_ppm(pixels))
        assert (got_w, got_h) == (w, h)
        assert (arr == pixels).all()

    roundtrip()


def test_wav_roundtrip_property():
    """Property: encode->decode is the identity for every int16 signal."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_covid19_brasil_spark.llm.multimodal import decode_wav, encode_wav

    @settings(max_examples=50, deadline=None)
    @given(
        samples=st.lists(
            st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=512
        ),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def roundtrip(samples, rate):
        sig = np.asarray(samples, dtype="<i2")
        got_rate, got = decode_wav(encode_wav(sig, rate))
        assert got_rate == rate
        assert (got == sig).all()

    roundtrip()


def test_phash_groups_collapse_brightness_shifted_copies(spark):
    """media_image_phash_dedup's contract: (1) the kernel's aHash equals
    a straightforward local numpy replay for every image; (2) a
    brightness-shifted copy lands in its source's phash group whenever
    no pixel clips (the +24 shift cancels in the mean comparison);
    (3) grouping is non-vacuous both ways — some groups hold 2+ images,
    and distinct sources do not all collapse together."""
    import numpy as np

    from etl_covid19_brasil_spark.llm.multimodal import (
        decode_ppm,
        image_average_hash,
        synth_ppm_near_dup_media,
    )
    from etl_covid19_brasil_spark.registry import T

    media = synth_ppm_near_dup_media(T(spark, "/root/testdata/sf0.001", "documents"))
    rows = {r.media_id: bytes(r.payload) for r in media.collect()}
    got = {r.media_id: r.phash for r in image_average_hash(media).collect()}

    def local_ahash(payload: bytes) -> int:
        w, h, arr = decode_ppm(payload)
        lum = arr[:, :, 0].astype("int64")
        total_sum, n_total = int(lum.sum()), w * h
        bits = 0
        for gy in range(8):
            y0 = min(gy * h // 8, h - 1)
            y1 = max(min(max((gy + 1) * h // 8, gy * h // 8 + 1), h) if gy * h // 8 < h else h, y0 + 1)
            for gx in range(8):
                x0 = min(gx * w // 8, w - 1)
                x1 = max(min(max((gx + 1) * w // 8, gx * w // 8 + 1), w) if gx * w // 8 < w else w, x0 + 1)
                cell = lum[y0:y1, x0:x1]
                bits = (bits << 1) | int(int(cell.sum()) * n_total > total_sum * cell.size)
        return int(np.uint64(bits).astype(np.int64))

    assert got and all(got[mid] == local_ahash(p) for mid, p in rows.items())

    collapsed = unclipped = 0
    for mid, payload in rows.items():
        if mid >= 1_000_000:
            src = mid - 1_000_000
            _, _, arr = decode_ppm(rows[src])
            if int(arr.max()) <= 255 - 24:  # shift cannot clip
                unclipped += 1
                assert got[mid] == got[src], (mid, src)
            collapsed += int(got[mid] == got[src])
    assert unclipped > 0  # invariance claim actually exercised
    assert collapsed > 0
    assert len(set(got.values())) > 1  # not everything in one bucket


def test_audio_fingerprint_is_exactly_gain_invariant(spark):
    """media_audio_fingerprint_dedup's contract: EVERY amplitude-doubled
    copy shares its source's fingerprint (samples are capped under 8192
    so x2 is exact int16 — the invariance has no clipping caveat, unlike
    the image case), and distinct recordings do not all collapse."""
    from etl_covid19_brasil_spark.llm.multimodal import (
        audio_energy_fingerprint,
        synth_wav_near_dup_media,
    )
    from etl_covid19_brasil_spark.registry import T

    media = synth_wav_near_dup_media(T(spark, "/root/testdata/sf0.001", "documents"))
    got = {r.media_id: r.fingerprint for r in audio_energy_fingerprint(media).collect()}
    copies = [m for m in got if m >= 1_000_000]
    assert copies
    for mid in copies:
        assert got[mid] == got[mid - 1_000_000], (mid, got[mid], got[mid - 1_000_000])
    assert len(set(got.values())) > 1


def test_video_signature_invariant_to_reencode_sensitive_to_frame_change(spark):
    """media_video_phash_dedup's two-sided contract: every
    brightness-shifted re-encode shares its source's signature (pixels
    capped under 240, +16 never clips — exact invariance), AND changing
    a single frame changes the signature (sequence sensitivity)."""
    import numpy as np

    from etl_covid19_brasil_spark.llm.multimodal import (
        encode_ppm,
        split_ppm_frames,
        synth_video_near_dup_media,
        video_phash_signature,
    )
    from etl_covid19_brasil_spark.registry import T

    media = synth_video_near_dup_media(T(spark, "/root/testdata/sf0.001", "documents"))
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    got = {r.media_id: (r.n_frames, r.signature) for r in video_phash_signature(media).collect()}

    copies = [m for m in got if m >= 1_000_000]
    assert copies
    for mid in copies:
        assert got[mid] == got[mid - 1_000_000], mid
    assert all(nf == 4 for nf, _ in got.values())
    assert len({sig for _, sig in got.values()}) > 1

    # single-frame sensitivity: swap one frame of one video for a
    # different pattern and the signature must move
    some_id = min(m for m in got if m < 1_000_000)
    frames = split_ppm_frames(payloads[some_id])
    frames[2] = np.ascontiguousarray(frames[2][:, ::-1, :])  # reversed ramp — different picture
    import pandas as pd

    mutated = b"".join(encode_ppm(f) for f in frames)
    pdf_media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "payload": [mutated]})
    )
    new_sig = video_phash_signature(pdf_media).collect()[0].signature
    assert new_sig != got[some_id][1]


# --- hypothesis differentials for the perceptual fingerprint tier ----------
#
# (VERDICT r10 item 7) The fixed-corpus tests above pin ONE synthetic
# shape; these generate RANDOM payloads and perturbation magnitudes and
# compare the distributed kernels against straightforward pure-Python
# references over the same stdlib decoders — the treatment the
# join/window families got. Each operator gets the two-sided contract:
# exact INVARIANCE under its perturbation class (uniform brightness
# shift / uniform gain / whole-video re-encode) and SENSITIVITY to a
# content change (luminance inversion flips every non-tied aHash bit;
# an inverted frame moves the video signature whenever its reference
# hash is nonzero).

import hashlib as _hashlib

import numpy as _np
import pandas as _pd
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

_MM_PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.fixture(scope="session")
def spark_global_mm(spark):
    # hypothesis forbids function-scoped fixtures; alias the session one
    return spark


def _ref_ahash_arr(arr) -> int:
    """Canonical 8x8 integer-cross-multiplication aHash — the pure-
    Python reference both image_average_hash and video_phash_signature
    must reproduce (their per-axis grid formulas are algebraically the
    same; a brute-force sweep over sizes 1..199 confirms)."""
    lum = arr[:, :, 0].astype("int64")
    h, w = lum.shape
    total_sum, n_total = int(lum.sum()), w * h
    bits = 0
    for gy in range(8):
        y0 = min(gy * h // 8, h - 1)
        y1 = max(min(max((gy + 1) * h // 8, y0 + 1), h), y0 + 1)
        for gx in range(8):
            x0 = min(gx * w // 8, w - 1)
            x1 = max(min(max((gx + 1) * w // 8, x0 + 1), w), x0 + 1)
            cell = lum[y0:y1, x0:x1]
            bits = (bits << 1) | int(int(cell.sum()) * n_total > total_sum * cell.size)
    return bits


def _ref_audio_fingerprint(samples) -> int:
    mag = _np.abs(samples.astype("int64"))
    n, total = mag.size, int(_np.abs(samples.astype("int64")).sum())
    bits = 0
    for b in range(16):
        lo, hi = b * n // 16, max((b + 1) * n // 16, b * n // 16 + 1)
        seg = mag[min(lo, n - 1):min(max(hi, lo + 1), n)]
        if seg.size == 0:
            seg = mag[-1:]
        bits = (bits << 1) | int(int(seg.sum()) * n > total * seg.size)
    return bits


_img_strategy = st.tuples(
    st.integers(1, 12),            # height
    st.integers(1, 40),            # width
    st.integers(0, 2**32 - 1),     # pixel seed
    st.integers(1, 24),            # brightness shift
)


@given(spec=_img_strategy)
@_MM_PROP
def test_image_ahash_differential_invariance_sensitivity(spark_global_mm, spec):
    from etl_covid19_brasil_spark.llm.multimodal import encode_ppm, image_average_hash

    spark = spark_global_mm
    h, w, seed, shift = spec
    rng = _np.random.default_rng(seed)
    # cap at 255 - shift so the uniform shift NEVER clips -> the
    # cross-multiplication invariance is exact with no caveats
    pixels = rng.integers(0, 256 - shift, size=(h, w, 3)).astype(_np.uint8)
    shifted = (pixels.astype(_np.int16) + shift).astype(_np.uint8)
    inverted = (255 - pixels.astype(_np.int16)).astype(_np.uint8)
    media = spark.createDataFrame(
        _pd.DataFrame(
            {
                "media_id": [0, 1, 2],
                "payload": [encode_ppm(p) for p in (pixels, shifted, inverted)],
            }
        )
    )
    got = {r.media_id: r.phash for r in image_average_hash(media).collect()}
    ref = _ref_ahash_arr(pixels)
    assert got[0] == int(_np.uint64(ref).astype(_np.int64))  # differential
    assert got[1] == got[0]  # exact brightness invariance
    # sensitivity: inversion flips every strictly-decided bit, so the
    # hash must move unless NO bit was strictly decided (ref == 0 and
    # every cell exactly at the mean — the constant-image tie case)
    assume(ref != 0)
    assert got[2] != got[0]


_wav_strategy = st.tuples(
    st.integers(1, 200),           # n samples
    st.integers(0, 2**32 - 1),     # sample seed
    st.sampled_from([2, 3, -2]),   # exact int16 gain (|s| <= 2730 -> no overflow)
)


@given(spec=_wav_strategy)
@_MM_PROP
def test_audio_fingerprint_differential_and_gain_invariance(spark_global_mm, spec):
    from etl_covid19_brasil_spark.llm.multimodal import (
        audio_energy_fingerprint,
        encode_wav,
    )

    spark = spark_global_mm
    n, seed, gain = spec
    rng = _np.random.default_rng(seed)
    samples = rng.integers(-2730, 2731, size=n).astype("<i2")
    gained = (samples.astype(_np.int32) * gain).astype("<i2")  # exact, no clip
    media = spark.createDataFrame(
        _pd.DataFrame(
            {
                "media_id": [0, 1],
                "payload": [encode_wav(samples), encode_wav(gained)],
            }
        )
    )
    got = {r.media_id: r.fingerprint for r in audio_energy_fingerprint(media).collect()}
    assert got[0] == _ref_audio_fingerprint(samples)  # differential
    assert got[1] == got[0]  # exact gain invariance (|g*s| cross-mults cancel)


_vid_strategy = st.tuples(
    st.integers(1, 4),             # n frames
    st.integers(4, 20),            # width (height fixed 2)
    st.integers(0, 2**32 - 1),     # pixel seed
    st.integers(1, 16),            # brightness shift
    st.integers(0, 3),             # frame to mutate (mod n_frames)
)


@given(spec=_vid_strategy)
@_MM_PROP
def test_video_signature_differential_invariance_sensitivity(spark_global_mm, spec):
    from etl_covid19_brasil_spark.llm.multimodal import (
        encode_ppm,
        video_phash_signature,
    )

    spark = spark_global_mm
    n_frames, w, seed, shift, mut = spec
    mut %= n_frames
    rng = _np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256 - shift, size=(2, w, 3)).astype(_np.uint8)
        for _ in range(n_frames)
    ]
    shifted = [(f.astype(_np.int16) + shift).astype(_np.uint8) for f in frames]
    mutated = [
        (255 - f.astype(_np.int16)).astype(_np.uint8) if i == mut else f
        for i, f in enumerate(frames)
    ]
    media = spark.createDataFrame(
        _pd.DataFrame(
            {
                "media_id": [0, 1, 2],
                "payload": [
                    b"".join(encode_ppm(f) for f in fs)
                    for fs in (frames, shifted, mutated)
                ],
            }
        )
    )
    got = {
        r.media_id: (r.n_frames, r.signature)
        for r in video_phash_signature(media).collect()
    }
    seq = ",".join(str(_ref_ahash_arr(f)) for f in frames)
    ref_sig = int.from_bytes(_hashlib.md5(seq.encode()).digest()[:8], "big") >> 1
    assert got[0] == (n_frames, ref_sig)  # differential vs reference
    assert got[1] == got[0]  # whole-video brightness re-encode invariance
    # sensitivity: the inverted frame's reference hash moves unless it
    # was all-ties (ref == 0); the md5 over the hash sequence must move
    assume(_ref_ahash_arr(frames[mut]) != 0)
    assert got[2][1] != got[0][1]
