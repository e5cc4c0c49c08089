"""Multimodal binary-column plumbing: schema, mapInPandas batches, stubs."""

import struct

import numpy as np
import pytest

from covid19_spark.operators.multimodal import (
    decode_image,
    extract_image_features,
    fake_image_features,
)
from tests.media_gen import (
    frame_sample_plan,
    gray_tiff,
    retag_tiff,
    riff_wav,
    synthesize_media,
)


def test_fake_features_deterministic():
    a = fake_image_features(b"hello world")
    b = fake_image_features(b"hello world")
    assert np.allclose(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-6
    assert fake_image_features(b"").tolist() == [0.0] * 8


def test_decode_stub_raises():
    # A JPEG magic followed by nothing is a TRUNCATED JPEG: the real decoder
    # (operators/jpeg.py) owns the format and must fail with its documented
    # ValueError contract, not a raw struct.error (ADVICE r04).
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"\xff\xd8\xff\xe0")
    # A truncated PNG magic (4 of 8 signature bytes) is not recognized as
    # PNG, BMP, JPEG, or GIF — falls through to the no-codec stub.
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    # GIF is now a REAL codec: a truncated GIF is the codec's ValueError,
    # not the stub; formats we genuinely lack still fall through.
    with pytest.raises(ValueError, match="GIF"):
        decode_image(b"GIF89a\x00\x00")
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBP")


def test_extract_features_end_to_end(spark):
    """Kernels decode by default: called with no flag on real payloads (a
    BMP image, a WAV clip), each returns the real-decode output, never the
    byte-histogram stand-in."""
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features_from_samples,
        audio_fingerprint,
        audio_fingerprints,
        decode_wav,
        dhash_pixels,
        encode_bmp,
        encode_wav,
        extract_audio_features,
        image_dhash,
        image_features_from_pixels,
    )

    img = np.random.default_rng(3).integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
    bmp = encode_bmp(img)
    tone = (8000 * np.sin(np.arange(3000) / 7.0)).astype(np.int16)
    wav = encode_wav(tone)
    media = spark.createDataFrame(
        [
            (0, "image", "image/bmp", 9, 12, None, bmp),
            (1, "audio", "audio/wav", None, None, 375, wav),
        ],
        MEDIA_SCHEMA,
    )
    (feat,) = extract_image_features(media.filter("kind = 'image'")).collect()
    assert feat.n_bytes == len(bmp)
    assert np.allclose(feat.feature, image_features_from_pixels(img), atol=1e-6)
    assert not np.allclose(feat.feature, fake_image_features(bmp), atol=1e-3)
    (h,) = image_dhash(media).collect()
    assert h.dhash == dhash_pixels(img)

    samples = decode_wav(wav)[0]
    (afeat,) = extract_audio_features(media, n_windows=8).collect()
    assert np.allclose(afeat.feature, audio_features_from_samples(samples, 8), atol=1e-6)
    (afp,) = audio_fingerprints(media).collect()
    assert afp.afp == audio_fingerprint(samples)


def test_frame_sample_plan(spark):
    media = synthesize_media(spark, n=12)
    frames = frame_sample_plan(media, every_ms=1000).collect()
    # only video rows fan out; media_id=5 has duration 5000 → 6 frames (0..5000)
    counts = {}
    for f in frames:
        counts[f.media_id] = counts.get(f.media_id, 0) + 1
    assert counts[5] == 6
    assert all(mid % 3 == 2 for mid in counts)  # kind == video


def test_audio_features_contract(spark):
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_wav,
        extract_audio_features,
    )

    rows = []
    for i in range(5):
        clip = (4000 * np.sin(np.arange(1200 + 300 * i) * (0.05 + 0.02 * i))).astype(np.int16)
        rows.append((i, "audio", "audio/wav", None, None, 150 + 40 * i, encode_wav(clip)))
    rows.append((9, "image", "image/bmp", 1, 1, None, b"BM"))  # pruned by kind
    rows_out = extract_audio_features(spark.createDataFrame(rows, MEDIA_SCHEMA), n_windows=8).collect()
    assert sorted(r.media_id for r in rows_out) == list(range(5))
    for r in rows_out:
        assert r.n_windows == 8 and len(r.feature) == 8
        assert all(0.0 <= x <= 1.0 for x in r.feature)  # peak-normalized
        assert max(r.feature) == 1.0
        assert r.n_bytes == len(rows[r.media_id][6])
        assert r.duration_ms == rows[r.media_id][5]


def test_real_codec_paths_raise(spark):
    import pytest

    from covid19_spark.operators.multimodal import extract_audio_features
    from tests.media_gen import synthesize_media

    # synthesize_media payloads are random bytes, not real containers: the
    # decode paths must fail loudly, not featurize garbage
    media = synthesize_media(spark, n=6)
    with pytest.raises(Exception, match="not a WAV"):
        extract_audio_features(media).collect()


def test_bmp_roundtrip_exact():
    from covid19_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(11)
    for h, w in [(5, 3), (4, 4), (7, 2), (1, 1)]:  # w=3,2,1 exercise row padding
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_bmp_top_down_and_rejects():
    import struct

    import pytest

    from covid19_spark.operators.multimodal import decode_bmp, encode_bmp

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    buf = bytearray(encode_bmp(img))
    # a negative height declares top-down rows: outside the supported profile
    h = struct.unpack_from("<i", buf, 22)[0]
    struct.pack_into("<i", buf, 22, -h)
    with pytest.raises(NotImplementedError, match="top-down"):
        decode_bmp(bytes(buf))
    with pytest.raises(ValueError):
        decode_bmp(b"\x89PNG")
    bad = bytearray(encode_bmp(img))
    struct.pack_into("<H", bad, 28, 8)  # 8-bpp paletted
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(bad))


def test_real_decode_path_end_to_end_exact_features(spark):
    """The decode path exercised for real: generated BMPs decode through the
    pure-numpy reader inside mapInPandas and produce the exact features
    computed locally from the known pixel arrays."""
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        image_features_from_pixels,
    )

    rng = np.random.default_rng(23)
    imgs = {i: rng.integers(0, 256, size=(6 + i, 5 + i, 3), dtype=np.uint8) for i in range(8)}
    rows = [
        (i, "image", "image/bmp", int(imgs[i].shape[1]), int(imgs[i].shape[0]), None, encode_bmp(imgs[i]))
        for i in range(8)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_image_features(media).collect()}
    assert len(out) == 8
    for i, img in imgs.items():
        expected = image_features_from_pixels(img)
        assert np.allclose(out[i].feature, expected, atol=1e-6), i
        assert out[i].n_bytes == len(encode_bmp(img))


def test_png_roundtrip_exact_all_filters():
    """encode_png/decode_png are pure-stdlib; every scanline filter type
    (None/Sub/Up/Average/Paeth) must round-trip RGB pixels exactly."""
    from covid19_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (5, 7), (16, 9)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for ftype in range(5):
            got = decode_png(encode_png(img, filter_type=ftype))
            assert np.array_equal(got, img), (h, w, ftype)


def test_png_gray_and_rgba():
    """encode_png writes (H, W, 3) uint8 only: gray, RGBA and wider samples
    are rejected instead of wrapped; a gray or RGBA PNG is outside the
    decoder's profile (NotImplementedError)."""
    from covid19_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(12)
    gray = rng.integers(0, 256, size=(6, 4), dtype=np.uint8)
    rgba = rng.integers(0, 256, size=(3, 5, 4), dtype=np.uint8)
    for bad in (gray, rgba):
        with pytest.raises(ValueError, match="uint8"):
            encode_png(bad)
    with pytest.raises(NotImplementedError, match="colour type 0"):
        decode_image(_make_png(4, 6, 8, 0, 0, b"".join(b"\x00" + r.tobytes() for r in gray)))
    with pytest.raises(NotImplementedError, match="colour type 6"):
        decode_image(_make_png(5, 3, 8, 6, 0, b"".join(b"\x00" + r.tobytes() for r in rgba)))


def test_encode_png_rejects_uint16():
    """A uint16 image must not wrap silently to its low byte (x*257 -> x)."""
    from covid19_spark.operators.multimodal import encode_png

    img16 = np.arange(2 * 3 * 3, dtype=np.uint16).reshape(2, 3, 3) * 257
    with pytest.raises(ValueError, match="uint16"):
        encode_png(img16)


def test_png_rejects_corrupt_and_unsupported():
    from covid19_spark.operators.multimodal import decode_png, encode_png

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    good = bytearray(encode_png(img))
    good[40] ^= 0xFF  # flip a byte inside IDAT -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(good))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM123456")
    # Adam7 interlace is outside the supported profile; a byte-count
    # mismatch in a non-interlaced stream is corrupt data
    with pytest.raises(NotImplementedError, match="interlace 1"):
        decode_png(_make_png(4, 4, 8, 2, 1, b"\x00" * 55))
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(_make_png(4, 4, 8, 2, 0, b"\x00" * 50))  # 4 x (1 + 12) due
    with pytest.raises(ValueError, match="interlace method"):
        decode_png(_make_png(4, 4, 8, 2, 2, b"\x00" * 52))


def test_png_real_decode_path_end_to_end(spark):
    """Real PNG payloads: generated PNGs decode through the
    stdlib codec inside mapInPandas and featurize identically to decoding
    the same pixels locally."""
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_png,
        extract_image_features,
        image_features_from_pixels,
    )

    rng = np.random.default_rng(21)
    imgs = {i: rng.integers(0, 256, size=(6 + i, 5 + i, 3), dtype=np.uint8) for i in range(4)}
    rows = [
        (i, "image", "image/png", int(imgs[i].shape[1]), int(imgs[i].shape[0]), None,
         encode_png(imgs[i], filter_type=i % 5))
        for i in imgs
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_image_features(media).collect()}
    for i, img in imgs.items():
        expected = image_features_from_pixels(img)
        assert np.allclose(np.array(out[i].feature), expected, atol=1e-6), i


# --- PNG variants outside the supported profile ------------------------------
# Hand-assembled payloads: encode_png writes only 8-bit RGB non-interlaced
# streams, so these build the refused variants chunk by chunk.

def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _make_png(w, h, depth, ctype, interlace, raw, plte=None) -> bytes:
    import zlib

    from covid19_spark.operators.multimodal import PNG_SIG

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")


def test_png_adam7_interlaced_roundtrip():
    """Adam7 interlace is refused; the same pixels non-interlaced decode."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(13, 11, 3), dtype=np.uint8)
    raw = b"".join(b"\x00" + img[r].tobytes() for r in range(13))
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_image(_make_png(11, 13, 8, 2, 1, raw))
    assert np.array_equal(decode_image(_make_png(11, 13, 8, 2, 0, raw)), img)


def test_png_adam7_tiny_image_skips_empty_passes():
    """A tiny image (3x2, where most Adam7 passes are empty) is refused at
    the header, before any pass arithmetic."""
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_image(_make_png(3, 2, 8, 2, 1, b""))


def test_png_palette_4bit():
    """Palette PNGs (colour type 3) are refused, with or without PLTE."""
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30, 200, 100, 50])
    raw = b"\x00\x01\x23\x40" * 2
    for plte in (pal, None):
        with pytest.raises(NotImplementedError, match="colour type 3"):
            decode_image(_make_png(5, 2, 4, 3, 0, raw, plte=plte))


def test_png_gray_1bit_checkerboard():
    """Sub-byte grayscale PNGs are refused."""
    raw = b"\x00\x55\x40" * 4
    with pytest.raises(NotImplementedError, match="depth 1"):
        decode_image(_make_png(10, 4, 1, 0, 0, raw))


def test_png_16bit_rgb_takes_high_byte():
    """16-bit RGB PNGs are refused instead of reduced to their high byte."""
    img16 = np.array(
        [[[0x1234, 0xFF00, 0x00FF], [0xABCD, 0x8000, 0x7FFF]]], dtype=">u2"
    )
    with pytest.raises(NotImplementedError, match="depth 16"):
        decode_image(_make_png(2, 1, 16, 2, 0, b"\x00" + img16.tobytes()))


def test_png_gray_alpha_drops_alpha():
    """Gray+alpha PNGs (colour type 4) are refused."""
    ga = np.array([[[10, 255], [200, 0]], [[77, 128], [0, 1]]], dtype=np.uint8)
    raw = b"".join(b"\x00" + ga[r].tobytes() for r in range(2))
    with pytest.raises(NotImplementedError, match="colour type 4"):
        decode_image(_make_png(2, 2, 8, 4, 0, raw))


def test_png_illegal_combo_and_bad_palette_raise():
    """Illegal depth/colour-type combinations are corrupt (ValueError),
    checked before the supported-profile refusal."""
    with pytest.raises(ValueError, match="depth/color-type"):
        _ = decode_image(_make_png(2, 1, 4, 2, 0, b"\x00\x00"))  # 4-bit RGB illegal
    with pytest.raises(ValueError, match="depth/color-type"):
        _ = decode_image(_make_png(1, 1, 16, 3, 0, b"\x00\x05"))  # 16-bit palette illegal


# --- WAV (RIFF PCM) codec ----------------------------------------------------


def test_wav_int16_roundtrip_exact():
    from covid19_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(5)
    mono = rng.integers(-32768, 32768, size=333, dtype=np.int16)
    out, rate = decode_wav(encode_wav(mono))
    assert rate == 8000 and out.shape == (333, 1)
    assert np.array_equal((out[:, 0] * 32768.0).astype(np.int16), mono)
    stereo = rng.integers(-32768, 32768, size=(100, 2), dtype=np.int16)
    out, rate = decode_wav(encode_wav(stereo))
    assert rate == 8000 and out.shape == (100, 2)
    assert np.array_equal((out * 32768.0).astype(np.int16), stereo)


def test_wav_other_depths_and_float():
    import struct

    from covid19_spark.operators.multimodal import decode_wav

    def wav(fmt_tag, ch, rate, bits, data):
        fmt = struct.pack("<HHIIHH", fmt_tag, ch, rate, rate * ch * bits // 8, ch * bits // 8, bits)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        # a LIST chunk the parser must skip
        body += b"LIST" + struct.pack("<I", 4) + b"INFO"
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # 8-bit unsigned PCM is outside the supported profile
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_wav(wav(1, 1, 8000, 8, bytes([0, 128, 255])))
    # 24-bit packed little-endian: 0x800000 is most negative
    data24 = b"\x00\x00\x80" + b"\xff\xff\x7f" + b"\x00\x00\x00"
    out, _ = decode_wav(wav(1, 1, 8000, 24, data24))
    assert np.allclose(out[:, 0], [-1.0, (2**23 - 1) / 2**23, 0.0], atol=1e-6)
    # 32-bit int
    data32 = struct.pack("<3i", -(2**31), 2**31 - 1, 0)
    out, _ = decode_wav(wav(1, 1, 8000, 32, data32))
    assert np.allclose(out[:, 0], [-1.0, (2**31 - 1) / 2**31, 0.0], atol=1e-6)
    # IEEE float32 (format 3)
    dataf = struct.pack("<3f", -0.5, 0.25, 1.0)
    out, _ = decode_wav(wav(3, 1, 8000, 32, dataf))
    assert np.allclose(out[:, 0], [-0.5, 0.25, 1.0])
    # compressed formats (MS ADPCM, MP3-in-WAV) are the codec seam
    for fmt_tag in (2, 0x55):
        with pytest.raises(NotImplementedError, match="compressed WAV"):
            decode_wav(wav(fmt_tag, 1, 8000, 4, b"\x00\x00"))
    # truncated chunk is corrupt
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(wav(1, 1, 8000, 16, b"\x00" * 8)[:-4])


def test_audio_real_decode_end_to_end(spark):
    """REAL WAV payloads: features computed in
    mapInPandas equal those computed locally from the same samples."""
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features_from_samples,
        decode_wav,
        encode_wav,
        extract_audio_features,
    )

    rng = np.random.default_rng(9)
    wavs = {}
    rows = []
    for i in range(6):
        t = np.arange(4000 + 500 * i)
        tone = (10000 * np.sin(2 * np.pi * (200 + 50 * i) * t / 8000)).astype(np.int16)
        payload = encode_wav(tone)
        wavs[i] = payload
        rows.append((i, "audio", "audio/wav", None, None, 500, payload))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_audio_features(media, n_windows=8).collect()}
    assert len(out) == 6
    for i, payload in wavs.items():
        expected = audio_features_from_samples(decode_wav(payload)[0], 8)
        assert np.allclose(out[i].feature, expected, atol=1e-6), i


# --- MJPEG AVI video path ----------------------------------------------------


def _mk_frames(n=8, h=24, w=32):
    frames = []
    for i in range(n):
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(xx * 3 + i * 20) % 256, (yy * 5) % 256, ((xx + yy) * 2 + i * 10) % 256],
            axis=2,
        ).astype(np.uint8)
        frames.append(img)
    return frames


def test_avi_roundtrip_and_sampling():
    from covid19_spark.operators.jpeg import decode_jpeg
    from covid19_spark.operators.multimodal import (
        decode_avi_frames,
        encode_mjpeg_avi,
        video_frame_features,
    )

    frames = _mk_frames(12)
    payload = encode_mjpeg_avi(frames, quality=88)
    jpegs, fps = decode_avi_frames(payload)
    assert len(jpegs) == 12 and fps == 4.0
    for i in (0, 5, 11):  # each frame is an independently decodable JPEG
        out = decode_jpeg(jpegs[i])
        assert out.shape == frames[i].shape
        assert int(np.abs(out.astype(int) - frames[i].astype(int)).max()) <= 8
    # 12 frames @4fps = 3000 ms -> samples every 500 ms = idx 0/2/4/.../10/11
    sampled = video_frame_features(payload)
    assert [(ts, idx) for ts, idx, _ in sampled] == [
        (0, 0), (500, 2), (1000, 4), (1500, 6), (2000, 8), (2500, 10), (3000, 11)
    ]


def test_avi_rejects():
    import struct

    from covid19_spark.operators.multimodal import decode_avi_frames, encode_mjpeg_avi

    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    payload = bytearray(encode_mjpeg_avi(_mk_frames(2)))
    with pytest.raises(ValueError, match="truncated"):
        decode_avi_frames(bytes(payload[:100]))
    # flip the stream handler to a real codec fourcc -> explicit seam
    i = payload.find(b"vidsMJPG")
    payload[i + 4 : i + 8] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPEG"):
        decode_avi_frames(bytes(payload))


def test_video_real_decode_end_to_end(spark):
    """REAL MJPEG AVI payloads in mapInPandas: sampled
    frame features equal those computed locally from the same container."""
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_mjpeg_avi,
        extract_video_frames,
        video_frame_features,
    )

    payloads = {}
    rows = []
    for i in range(4):
        n = 6 + 2 * i
        payload = encode_mjpeg_avi(_mk_frames(n))
        payloads[i] = payload
        rows.append((i, "video", "video/avi", 32, 24, int(n * 250), payload))
    # a non-video row that must be pruned before any decode
    rows.append((99, "image", "image/bmp", 8, 8, None, b"garbage"))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_video_frames(media).collect()
    got = {}
    for r in out:
        got.setdefault(r.media_id, []).append((r.frame_ts_ms, r.frame_index, r.feature))
    assert set(got) == set(payloads)
    for i, payload in payloads.items():
        expected = video_frame_features(payload)
        rows_i = sorted(got[i])
        assert [(ts, idx) for ts, idx, _ in rows_i] == [(ts, idx) for ts, idx, _ in expected]
        for (_, _, f_got), (_, _, f_exp) in zip(rows_i, expected):
            assert np.allclose(f_got, f_exp, atol=1e-6)


def test_video_frames_fanout_matches_plan(spark):
    """The decoded frame fan-out equals the declarative frame_sample_plan
    when ``duration_ms`` is the container's own ``int(n_frames*1000/fps)``:
    both sample on an inclusive bound."""
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_mjpeg_avi,
        extract_video_frames,
    )

    rows = []
    for i, n_frames in enumerate([3, 8, 12, 7, 5]):
        payload = encode_mjpeg_avi(_mk_frames(n_frames, h=8, w=8))
        rows.append((i, "video", "video/avi", 8, 8, int(n_frames * 1000 / 4), payload))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    plan_counts, frame_counts = {}, {}
    for r in frame_sample_plan(media, every_ms=500).collect():
        plan_counts[r.media_id] = plan_counts.get(r.media_id, 0) + 1
    for r in extract_video_frames(media).collect():
        frame_counts[r.media_id] = frame_counts.get(r.media_id, 0) + 1
    assert frame_counts == plan_counts
    assert set(frame_counts.values()) == {2, 5, 7, 4, 3}  # 750/2000/3000/1750/1250 ms


def test_avi_video_stream_not_first():
    """An AVI that declares an audio stream BEFORE the video stream carries
    its frames in 01dc chunks — the decoder must follow the strh order, not
    assume stream 0 (r05 code-review finding)."""
    import struct

    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from covid19_spark.operators.multimodal import decode_avi_frames

    def chunk(cid, data):
        pad = b"\x00" if len(data) % 2 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(four, data):
        return chunk(b"LIST", four + data)

    frames = _mk_frames(3, 16, 16)
    payloads = [encode_jpeg(f, quality=85) for f in frames]
    avih = struct.pack("<IIIIIIIIII4I", 250000, 0, 0, 0x10, 3, 0, 2, 0, 16, 16, 0, 0, 0, 0)
    auds_strh = b"auds" + b"\x00" * 4 + struct.pack("<IHHIIIIIIiI4h", *([0] * 15))
    vids_strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIiI4h", 0, 0, 0, 0, 1, 4, 0, 3, 0, -1, 0, 0, 0, 0, 0)
    )
    strf_v = struct.pack("<IiiHH4sIiiII", 40, 16, 16, 1, 24, b"MJPG", 16 * 16 * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", auds_strh) + chunk(b"strf", b"\x00" * 16))
        + lst(b"strl", chunk(b"strh", vids_strh) + chunk(b"strf", strf_v)),
    )
    movi = lst(b"movi", b"".join(chunk(b"01dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    jpegs, fps = decode_avi_frames(avi)
    assert len(jpegs) == 3 and fps == 4.0
    assert decode_jpeg(jpegs[0]).shape == (16, 16, 3)


# --- perceptual dHash image near-dup ----------------------------------------


def test_dhash_invariances():
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from covid19_spark.operators.multimodal import dhash_pixels

    rng = np.random.default_rng(3)
    base = np.repeat(
        np.repeat(rng.integers(0, 256, (6, 8, 3), dtype=np.uint8), 8, axis=0), 8, axis=1
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    h = dhash_pixels(base)
    assert dhash_pixels(base) == h  # deterministic
    # survives lossy JPEG re-encoding
    assert ham(h, dhash_pixels(decode_jpeg(encode_jpeg(base, quality=80)))) <= 10
    # survives 2x upscaling
    big = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1)
    assert ham(h, dhash_pixels(big)) <= 6
    # unrelated image is far
    other = np.repeat(
        np.repeat(rng.integers(0, 256, (6, 8, 3), dtype=np.uint8), 8, axis=0), 8, axis=1
    )
    assert ham(h, dhash_pixels(other)) > 15


def test_image_near_dup_finds_reencodes_distributed(spark):
    """Planted JPEG re-encodes of BMP originals must surface as candidate
    pairs via the banded Hamming probe, with no unrelated cross-pairs at
    the threshold."""
    from covid19_spark.operators.jpeg import encode_jpeg
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        image_dhash,
        image_near_dup_pairs,
    )

    rng = np.random.default_rng(13)
    rows = []
    for i in range(8):
        base = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
        img = np.repeat(np.repeat(base, 6, axis=0), 6, axis=1)
        rows.append((i, "image", "image/bmp", 48, 36, None, encode_bmp(img)))
        rows.append((100 + i, "image", "image/jpeg", 48, 36, None, encode_jpeg(img, quality=80)))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    hashes = image_dhash(media)
    pairs = {(r.doc_a, r.doc_b) for r in image_near_dup_pairs(hashes).collect()}
    for i in range(8):
        assert (i, 100 + i) in pairs, i
    # no unrelated original-original pair sneaks in
    assert not any(a < 100 and b < 100 for a, b in pairs)


# --- perceptual audio fingerprint near-dup ----------------------------------


def test_audio_fingerprint_invariances():
    from covid19_spark.operators.multimodal import (
        audio_fingerprint,
        decode_wav,
        encode_wav,
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    t = np.arange(16000)
    sig = np.sin(2 * np.pi * (200 + t / 200) * t / 8000) * (
        0.5 + 0.5 * np.sin(2 * np.pi * 2 * t / 8000)
    )
    s16 = (20000 * sig).astype(np.int16)
    h = audio_fingerprint(s16.astype(np.float64))
    assert h == audio_fingerprint(s16.astype(np.float64))  # deterministic
    # gain is exactly invariant (energy comparisons survive uniform scale);
    # 8-bit requantization adds noise that the finer 8-band split feels a
    # little more — the planted-copy contract is Hamming <= 8
    assert ham(h, audio_fingerprint(0.5 * s16.astype(np.float64))) <= 2
    assert ham(h, audio_fingerprint((s16 // 256 * 256).astype(np.float64))) <= 8
    out, _ = decode_wav(encode_wav(s16))
    assert ham(h, audio_fingerprint(out * 32768.0)) <= 2
    # NOTE deliberately absent: sample-repeat "resampling" halves the
    # playback pitch — audibly different content, and the spectral bands
    # rightly move (measured Hamming ~15); pitch-preserving invariance
    # would need sample-rate-aware band edges, a codec-level concern
    # unrelated signal is far
    other = (20000 * np.sin(2 * np.pi * (900 - t / 150) * t / 8000 + 1.0)).astype(np.float64)
    assert ham(h, audio_fingerprint(other)) > 10


def test_audio_near_dup_finds_variants_distributed(spark):
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprints,
        audio_near_dup_pairs,
        encode_wav,
    )

    rows = []
    for i in range(6):
        t = np.arange(8000)
        sig = np.sin(2 * np.pi * (150 + 40 * i + t / 150) * t / 8000) * (
            0.5 + 0.5 * np.sin(2 * np.pi * (2 + i % 3) * t / 8000)
        )
        s16 = (20000 * sig).astype(np.int16)
        rows.append((i, "audio", "audio/wav", None, None, 1000, encode_wav(s16)))
        v16 = ((s16 // 2) // 256 * 256).astype(np.int16)  # half gain + 8-bit
        rows.append((100 + i, "audio", "audio/wav", None, None, 1000, encode_wav(v16)))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fps = audio_fingerprints(media)
    pairs = {(r.doc_a, r.doc_b) for r in audio_near_dup_pairs(fps).collect()}
    for i in range(6):
        assert (i, 100 + i) in pairs, i
    assert not any(a < 100 and b < 100 for a, b in pairs)


def test_video_near_dup_finds_reencodes_distributed(spark):
    """Quality-70 re-encodes of quality-88 MJPEG videos must pair up on
    aligned per-frame dHashes; unrelated videos must not."""
    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_mjpeg_avi,
        video_frame_hashes,
        video_near_dup_pairs,
    )

    rng = np.random.default_rng(29)
    rows = []
    for i in range(5):
        base = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
        frames = [
            np.repeat(np.repeat(np.roll(base, k, axis=1), 4, axis=0), 4, axis=1)
            for k in range(5)
        ]
        rows.append((i, "video", "video/avi", 32, 24, 1250, encode_mjpeg_avi(frames, quality=88)))
        rows.append((100 + i, "video", "video/avi", 32, 24, 1250, encode_mjpeg_avi(frames, quality=70)))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    hashes = video_frame_hashes(media)
    pairs = {
        (r.doc_a, r.doc_b): r.matching_frames
        for r in video_near_dup_pairs(hashes).collect()
    }
    for i in range(5):
        assert (i, 100 + i) in pairs, i
        assert pairs[(i, 100 + i)] >= 3
    assert not any(a < 100 and b < 100 for (a, b) in pairs)


def test_avi_headerless_minimal_file_still_decodes():
    """A minimal AVI with bare 00dc chunks and NO stream headers keeps the
    old tolerance (the frames are self-describing JPEGs); only files that
    DECLARE streams must declare a video one."""
    import struct

    from covid19_spark.operators.jpeg import encode_jpeg
    from covid19_spark.operators.multimodal import decode_avi_frames

    def chunk(cid, data):
        pad = b"\x00" if len(data) % 2 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    payloads = [encode_jpeg(f, quality=85) for f in _mk_frames(2, 16, 16)]
    movi = chunk(b"LIST", b"movi" + b"".join(chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    frames, fps = decode_avi_frames(avi)
    assert len(frames) == 2 and fps == 0.0


def test_dc_decode_pair_sets_match_full_decode():
    """The pinned equivalence behind the DC-only thumbnail-decode path
    (VERDICT r05 task #3): on the registry's video corpus shape (80x64
    frames — large enough that the 1/8-scale DC image covers the 8x9 dHash
    grid), per-frame hashes from ``decode_jpeg_dc`` and from the full
    ``decode_jpeg`` produce IDENTICAL verified near-dup pair sets at the
    registered thresholds (max_hamming=10, min_matching_frames=3, banded
    candidate keying). Driver-side replica of q_video_near_dup's join — no
    Spark session needed."""
    from collections import defaultdict

    from covid19_spark.operators.jpeg import decode_jpeg, decode_jpeg_dc
    from covid19_spark.operators.multimodal import (
        _sampled_avi_frames,
        dhash_pixels,
        encode_mjpeg_avi,
    )

    vids = {}
    for d in range(40):  # subset of the registry corpus, all planted dups
        rng = np.random.default_rng(d + 9_000_000)
        n_frames = 4 + d % 3
        base = rng.integers(0, 256, size=(8, 10, 3), dtype=np.uint8)
        frames = [
            np.repeat(np.repeat(np.roll(base, i, axis=1), 8, axis=0), 8, axis=1)
            for i in range(n_frames)
        ]
        vids[d] = encode_mjpeg_avi(frames, quality=88)
        vids[100000 + d] = encode_mjpeg_avi(frames, quality=70)

    def pair_set(decoder):
        by_rank = defaultdict(list)
        for mid, avi in vids.items():
            for rank, (_ts, _idx, j) in enumerate(_sampled_avi_frames(avi)):
                by_rank[rank].append((mid, dhash_pixels(decoder(j))))
        agg = defaultdict(int)
        for lst in by_rank.values():
            for i in range(len(lst)):
                for j in range(i + 1, len(lst)):
                    (ida, ha), (idb, hb) = sorted((lst[i], lst[j]))
                    ham = bin((ha ^ hb) & (2**64 - 1)).count("1")
                    shares_band = any(
                        ((ha >> s) & 0xFFFF) == ((hb >> s) & 0xFFFF)
                        for s in (0, 16, 32, 48)
                    )
                    if ham <= 10 and shares_band:
                        agg[(ida, idb)] += 1
        return {k for k, n in agg.items() if n >= 3}

    full_pairs = pair_set(decode_jpeg)
    dc_pairs = pair_set(decode_jpeg_dc)
    assert full_pairs == dc_pairs
    # and the planted near-dups are actually recalled, not vacuously equal
    assert {(d, 100000 + d) for d in range(40)} <= dc_pairs


def test_small_frame_videos_fall_back_to_full_decode(spark):
    """Below 64x72 the DC image undersamples the dHash grid (measured:
    planted recall 20/40) — video_frame_hashes must use the full decode
    there. Pinned by equality with a hand-built full-decode hash."""
    from covid19_spark.operators.jpeg import decode_jpeg
    from covid19_spark.operators.multimodal import (
        _sampled_avi_frames,
        dhash_pixels,
        encode_mjpeg_avi,
        video_frame_hashes,
    )

    frames = _mk_frames(3, 24, 32)
    avi = encode_mjpeg_avi(frames, quality=85)
    media = spark.createDataFrame(
        [(1, "video", "video/avi", 32, 24, 750, bytearray(avi))],
        "media_id long, kind string, mime string, width int, height int, "
        "duration_ms long, payload binary",
    )
    got = {
        (r.media_id, r.frame_rank): r.dhash
        for r in video_frame_hashes(media).collect()
    }
    expected = {
        (1, rank): dhash_pixels(decode_jpeg(j))
        for rank, (_ts, _idx, j) in enumerate(_sampled_avi_frames(avi))
    }
    assert got == expected


def _audio_media(spark, payload):
    return spark.createDataFrame(
        [(1, "audio", "audio/wav", None, None, 1000, bytearray(payload))],
        "media_id long, kind string, mime string, width int, height int, "
        "duration_ms long, payload binary",
    )


def test_g711_wav_decode_roundtrip_and_anchors():
    """G.711 A-law/mu-law WAV (formats 6/7) is outside the supported
    profile: both refuse with NotImplementedError at the format seam."""
    from covid19_spark.operators.multimodal import decode_wav

    for fmt_tag in (6, 7):
        with pytest.raises(NotImplementedError, match=f"compressed WAV format {fmt_tag}"):
            decode_wav(riff_wav(fmt_tag, 8, bytes(range(256))))


def test_g711_wav_feeds_audio_features(spark):
    """A format-7 (mu-law) WAV fails the feature extractor's task with the
    seam's error instead of featurizing undecoded bytes."""
    from covid19_spark.operators.multimodal import extract_audio_features

    media = _audio_media(spark, riff_wav(7, 8, bytes(range(256)) * 4))
    with pytest.raises(Exception, match="compressed WAV format 7"):
        extract_audio_features(media).collect()


def test_ima_adpcm_wav_roundtrip(spark):
    """IMA/DVI ADPCM WAV (format 0x11) is refused, locally and inside the
    distributed feature extractor."""
    from covid19_spark.operators.multimodal import decode_wav, extract_audio_features

    wav = riff_wav(0x11, 4, bytes(256), extra=struct.pack("<HH", 2, 505))
    with pytest.raises(NotImplementedError, match="compressed WAV format 17"):
        decode_wav(wav)
    with pytest.raises(Exception, match="compressed WAV format 17"):
        extract_audio_features(_audio_media(spark, wav)).collect()


def test_ima_adpcm_partial_block_roundtrips_exact_length():
    """A 'fact' chunk (the sample count compressed formats carry) does not
    change a PCM decode: the data chunk alone sets the length."""
    from covid19_spark.operators.multimodal import decode_wav, encode_wav

    sig16 = (1000 * np.sin(np.arange(100) / 5.0)).astype(np.int16)
    plain = encode_wav(sig16)
    i = plain.index(b"data")
    with_fact = plain[:i] + b"fact" + struct.pack("<II", 4, 505) + plain[i:]
    with_fact = b"RIFF" + struct.pack("<I", len(with_fact) - 8) + with_fact[8:]
    decoded, rate = decode_wav(with_fact)
    assert rate == 8000 and decoded.shape == (100, 1)
    assert np.array_equal(decoded, decode_wav(plain)[0])


def test_image_dhash_uses_one_resolution_path_across_formats(spark):
    """Cross-format consistency contract: a BMP and a JPEG of the SAME
    pixels must hash within re-encode distance of each other — which
    forbids routing large JPEGs through the DC thumbnail decode (hashing
    one copy at 1/8 scale and its twin at full resolution measured
    Hamming 19 on identical content). Video frames may ride the DC path
    because they only compare against frames decoded the same way."""
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from covid19_spark.operators.multimodal import (
        dhash_pixels,
        encode_bmp,
        image_dhash,
    )

    rng = np.random.default_rng(21)
    big = np.repeat(np.repeat(rng.integers(0, 256, (8, 10, 3), dtype=np.uint8), 8, 0), 8, 1)
    rows = [
        (1, "image", "image/jpeg", 80, 64, None, bytearray(encode_jpeg(big, quality=85))),
        (3, "image", "image/bmp", 80, 64, None, bytearray(encode_bmp(big))),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, mime string, width int, height int, "
        "duration_ms long, payload binary",
    )
    got = {r.media_id: r.dhash for r in image_dhash(media).collect()}
    assert got[1] == dhash_pixels(decode_jpeg(bytes(rows[0][6])))
    ham = bin((got[1] ^ got[3]) & (2**64 - 1)).count("1")
    assert ham <= 4, ham


def test_image_features_precision_aware():
    """A uint16 decode (16-bit lossless JPEG) of x*257 and the uint8 x of
    the same scene produce the same features: the dtype max is the sample
    peak, so the [0, 1] contract holds at both depths; the uint8 path stays
    bit-identical to the historical formula."""
    from covid19_spark.operators.multimodal import image_features_from_pixels

    rng = np.random.default_rng(17)
    img8 = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    f8 = image_features_from_pixels(img8)
    f16 = image_features_from_pixels(img8.astype(np.uint16) * 257)
    assert np.allclose(f8, f16, atol=1e-6)
    # pure uint8 path unchanged (bit-identical to the pre-change formula)
    arr = img8.astype(np.float32)
    means = arr.reshape(-1, 3).mean(axis=0) / 255.0
    gray = arr.mean(axis=2).astype(np.uint8).reshape(-1)
    hist = np.histogram(gray, bins=5, range=(0, 256))[0]
    feat = np.concatenate([means, hist.astype(np.float32)])
    feat = feat / np.linalg.norm(feat)
    assert np.array_equal(f8, feat.astype(np.float32))


# --- GIF codec ---------------------------------------------------------------


def test_gif_roundtrip_exact_and_width_boundaries():
    """encode_gif/decode_gif are pure-stdlib LZW; round-trips must be exact
    across palette sizes, including a 256-color image large enough to walk
    the code width 9->12 and force a table reset."""
    from covid19_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(3)
    pal = np.unique(rng.integers(0, 256, (300, 3), dtype=np.uint8), axis=0)[:256]
    big = pal[rng.integers(0, len(pal), (120, 150))]
    assert np.array_equal(decode_gif(encode_gif(big)), big)
    for ncol in (2, 3, 5, 17, 64):
        cols = np.unique(rng.integers(0, 256, (ncol * 2, 3), dtype=np.uint8), axis=0)[:ncol]
        im = cols[rng.integers(0, len(cols), (31, 17))]
        assert np.array_equal(decode_gif(encode_gif(im)), im), ncol
    solid = np.full((20, 20, 3), 77, dtype=np.uint8)  # KwKwK chains
    assert np.array_equal(decode_gif(encode_gif(solid)), solid)
    with pytest.raises(ValueError, match="256"):
        encode_gif(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))


def test_gif_minimal_external_anchor():
    """The canonical hand-assembled 1x1 black-pixel GIF (the 'smallest GIF'
    byte sequence circulated with the GIF89a spec) must decode — an
    EXTERNAL conformance vector, not a round-trip of our own encoder."""
    from covid19_spark.operators.multimodal import decode_gif, decode_image

    mini = bytes(
        [0x47, 0x49, 0x46, 0x38, 0x39, 0x61, 1, 0, 1, 0, 0x80, 0, 0,
         0, 0, 0, 255, 255, 255,
         0x2C, 0, 0, 0, 0, 1, 0, 1, 0, 0x00,
         0x02, 0x02, 0x44, 0x01, 0x00, 0x3B]
    )
    out = decode_gif(mini)
    assert out.shape == (1, 1, 3) and out[0, 0].tolist() == [0, 0, 0]
    assert np.array_equal(decode_image(mini), out)  # dispatch covers GIF


def test_gif_interlaced_decode():
    """Interlaced images and local colour tables are outside the supported
    GIF profile: setting either descriptor flag makes the decode raise
    NotImplementedError."""
    from covid19_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(5)
    cols = np.unique(rng.integers(0, 256, (20, 3), dtype=np.uint8), axis=0)
    img = cols[rng.integers(0, len(cols), (13, 9))]
    good = encode_gif(img)
    assert np.array_equal(decode_gif(good), img)
    i = good.index(0x2C)
    for flag in (0x40, 0x80):  # interlace, local colour table
        payload = bytearray(good)
        payload[i + 9] |= flag
        with pytest.raises(NotImplementedError, match="interlace"):
            decode_gif(bytes(payload))


def _gif_image(ix, iy, iw, ih, idx_val) -> bytes:
    """One image descriptor + LZW data filled with palette index
    ``idx_val`` (2-bit minimum code size)."""
    from covid19_spark.operators.multimodal import _gif_lzw_encode

    b = bytes([0x2C]) + struct.pack("<HHHH", ix, iy, iw, ih) + bytes([0])
    lzw = _gif_lzw_encode(np.full(iw * ih, idx_val, dtype=np.uint16), 2)
    b += bytes([2])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        b += bytes([len(chunk)]) + chunk
    return b + b"\x00"


def _gif_header() -> bytes:
    """A 4x4 screen with a 4-entry global table: black, red, green, pad."""
    out = b"GIF89a" + struct.pack("<HH", 4, 4) + bytes([0x80 | 1, 0, 0])
    return out + bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 0])


def test_gif_animation_frames_and_transparency():
    """Animation is outside the supported GIF profile: encode_gif takes one
    frame, and a graphic-control extension (delay, transparency) ahead of
    the first image makes the decode raise NotImplementedError."""
    from covid19_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(7)
    cols = np.unique(rng.integers(0, 256, (40, 3), dtype=np.uint8), axis=0)
    frames = [cols[rng.integers(0, len(cols), (24, 30))] for _ in range(3)]
    with pytest.raises(ValueError, match="H, W, 3"):
        encode_gif(frames)
    gce = bytes([0x21, 0xF9, 4, 0x01, 0, 0, 0, 0])  # transparent index 0
    with pytest.raises(NotImplementedError, match="extension"):
        decode_gif(_gif_header() + gce + _gif_image(0, 0, 4, 4, 1) + b"\x3b")


def test_gif_disposal_applies_to_own_frame():
    """decode_gif returns the first image drawn onto the background: later
    images in the file are not composited, and a sub-rectangle image keeps
    the background colour outside its rect."""
    from covid19_spark.operators.multimodal import decode_gif

    two = _gif_header() + _gif_image(0, 0, 4, 4, 1) + _gif_image(0, 0, 1, 1, 2) + b"\x3b"
    assert np.array_equal(decode_gif(two), np.tile(np.array([255, 0, 0], np.uint8), (4, 4, 1)))
    sub = _gif_header() + _gif_image(1, 1, 2, 2, 2) + b"\x3b"
    want = np.zeros((4, 4, 3), np.uint8)
    want[1:3, 1:3] = [0, 255, 0]
    assert np.array_equal(decode_gif(sub), want)


def test_gif_rejects_corrupt():
    from covid19_spark.operators.multimodal import decode_gif, encode_gif

    img = np.full((4, 4, 3), 10, dtype=np.uint8)
    good = encode_gif(img)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"GIF00a" + good[6:])
    with pytest.raises(ValueError):
        decode_gif(good[: len(good) // 2])  # truncated
    bad = bytearray(good)
    bad[-2] = 0x77  # clobber the final data sub-block terminator chain
    with pytest.raises(ValueError):
        decode_gif(bytes(bad))


def test_wav_depth_variants_decode_bit_identically():
    """encode_wav's i24/i32/f32/f64 containers of an int16 signal decode to
    the EXACT same normalized float stream as the i16 original: x<<8 over
    2^23, x<<16 over 2^31, and x/32768 in IEEE float are all exactly
    x/32768 in float32."""
    from covid19_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(1)
    sig = (
        12000 * np.sin(2 * np.pi * 440 * np.arange(2000) / 8000)
        + rng.integers(-500, 500, 2000)
    ).astype(np.int16)
    base, rate = decode_wav(encode_wav(sig, dtype="i16"))
    assert rate == 8000
    for dt in ("i24", "i32", "f32", "f64"):
        got, _ = decode_wav(encode_wav(sig, dtype=dt))
        assert np.array_equal(got, base), dt
    # stereo survives every depth too
    st = np.stack([sig[:100], -sig[:100]], axis=1)
    for dt in ("i16", "i24", "i32", "f32", "f64"):
        got, _ = decode_wav(encode_wav(st, dtype=dt))
        assert got.shape == (100, 2), dt
    with pytest.raises(ValueError, match="dtype"):
        encode_wav(sig, dtype="i8")


def test_ms_adpcm_full_range_input_encodes():
    """Microsoft ADPCM (format 2) with its fmt extension (samplesPerBlock and
    the coefficient table) and a fact chunk is refused at the format seam,
    before any block is parsed."""
    from covid19_spark.operators.multimodal import decode_wav

    extra = struct.pack("<HHH", 32, 500, 7) + bytes(28)
    with pytest.raises(NotImplementedError, match="compressed WAV format 2"):
        decode_wav(riff_wav(2, 4, bytes(7), extra=extra))


def test_image_features_12bit_jpeg_peak_aware():
    """Image features are peak-aware through the dtype: a 16-bit lossless
    JPEG of x*257 and an 8-bit lossless JPEG of x featurize alike, and a
    12-bit DCT JPEG is refused at the codec seam."""
    from covid19_spark.operators.jpeg import encode_jpeg, encode_jpeg_lossless
    from covid19_spark.operators.multimodal import _decoded_image_features

    rng = np.random.default_rng(3)
    img8 = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    f8 = _decoded_image_features(encode_jpeg_lossless(img8))
    f16 = _decoded_image_features(encode_jpeg_lossless(img8.astype(np.uint16) * 257))
    assert np.allclose(f8, f16, atol=1e-6)
    deep = bytearray(encode_jpeg(img8, quality=95))
    i = deep.find(b"\xff\xc0")
    deep[i + 1], deep[i + 4] = 0xC1, 12
    with pytest.raises(NotImplementedError, match="12-bit"):
        _decoded_image_features(bytes(deep))


def test_ms_adpcm_wav_roundtrip(spark):
    """A Microsoft ADPCM WAV fails the distributed feature extractor's task
    with the seam's error."""
    from covid19_spark.operators.multimodal import extract_audio_features

    wav = riff_wav(2, 4, bytes(7), extra=struct.pack("<HHH", 32, 500, 7) + bytes(28))
    with pytest.raises(Exception, match="compressed WAV format 2"):
        extract_audio_features(_audio_media(spark, wav)).collect()


# --- TIFF codec ----------------------------------------------------------------


def test_tiff_roundtrip_all_compressions():
    """Baseline TIFF strips round-trip exactly under none/PackBits/LZW
    across strip boundaries and LZW width growth; 8-bit grayscale decodes
    (from a hand-built file) but the encoder refuses it."""
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(1)
    for comp in ("none", "packbits", "lzw"):
        for shape in [(5, 7, 3), (16, 9, 3), (1, 1, 3), (40, 33, 3)]:
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            assert np.array_equal(
                decode_tiff(encode_tiff(img, compression=comp)), img
            ), (comp, shape)
    gray = rng.integers(0, 256, (11, 6), dtype=np.uint8)
    out = decode_tiff(gray_tiff(gray, rows_per_strip=4))
    assert np.array_equal(out[:, :, 0], gray)
    with pytest.raises(NotImplementedError, match="grayscale"):
        encode_tiff(gray)
    big = rng.integers(0, 256, (80, 90, 3), dtype=np.uint8)  # LZW 9->12 bits
    assert np.array_equal(
        decode_tiff(encode_tiff(big, compression="lzw", rows_per_strip=40)), big
    )
    flat = np.zeros((32, 32, 3), dtype=np.uint8)
    from covid19_spark.operators.multimodal import encode_tiff as et
    assert len(et(flat, compression="packbits")) < len(et(flat, compression="none"))
    assert len(et(flat, compression="lzw")) < len(et(flat, compression="none"))


def test_tiff_big_endian_predictor_and_rejects():
    """Big-endian (MM) files are outside the supported profile
    (NotImplementedError); predictor 2 undoes horizontal differencing;
    unsupported compressions fall to the documented seam and corrupt
    structures raise ValueError."""
    import struct

    from covid19_spark.operators.multimodal import decode_image, decode_tiff, encode_tiff

    rng = np.random.default_rng(2)

    def hand_tiff(img, endian, extra_tags=()):
        e = "<" if endian == "II" else ">"
        h, w = img.shape[:2]
        raw = img.tobytes()
        tags = [(256, 3, [w]), (257, 3, [h]), (258, 3, [8, 8, 8]), (259, 3, [1]),
                (262, 3, [2]), (273, 4, None), (277, 3, [3]), (278, 3, [h]),
                (279, 4, [len(raw)])] + list(extra_tags)
        tags.sort(key=lambda x: x[0])
        n = len(tags)
        data_off = 8 + 2 + 12 * n + 4
        extra = b""
        ents = []
        for tag, typ, vals in tags:
            if tag == 273:
                vals = [data_off + 6]  # strip follows the 6-byte bits array
            fmt = {3: "H", 4: "I"}[typ]
            sz = {3: 2, 4: 4}[typ] * len(vals)
            body = struct.pack(e + str(len(vals)) + fmt, *vals)
            if sz <= 4:
                ents.append(struct.pack(e + "HHI", tag, typ, len(vals)) + body.ljust(4, b"\x00"))
            else:
                ents.append(struct.pack(e + "HHII", tag, typ, len(vals), data_off + len(extra)))
                extra += body
        magic = b"II*\x00" if endian == "II" else b"MM\x00*"
        return (magic + struct.pack(e + "I", 8) + struct.pack(e + "H", n)
                + b"".join(ents) + struct.pack(e + "I", 0) + extra + raw)

    img = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    with pytest.raises(NotImplementedError, match="big-endian"):
        decode_image(hand_tiff(img, "MM"))  # dispatch reaches the TIFF seam
    assert np.array_equal(decode_image(hand_tiff(img, "II")), img)  # dispatch

    # predictor 2: store horizontal differences, decoder must cumsum back
    diffs = img.astype(np.int64).copy()
    diffs[:, 1:] = np.diff(img.astype(np.int64), axis=1)
    stored = (diffs % 256).astype(np.uint8)
    pred_file = hand_tiff(stored, "II", extra_tags=[(317, 3, [2])])
    assert np.array_equal(decode_tiff(pred_file), img)

    with pytest.raises(NotImplementedError, match="compression"):
        decode_tiff(hand_tiff(img, "II", extra_tags=[(259, 3, [9])]))  # JBIG
    # compressions 6 and 7 are REAL now (round 8) — but an RGB-photometric
    # (photo 2) JPEG-in-TIFF hits the ADVICE-r08 interop guard before any
    # chunk is touched (decode_jpeg would mis-color an RGB-stored scan)
    with pytest.raises(NotImplementedError, match="RGB-photometric"):
        decode_tiff(hand_tiff(img, "II", extra_tags=[(259, 3, [7])]))
    with pytest.raises(ValueError):
        decode_tiff(hand_tiff(img, "II")[:40])  # truncated IFD/strip
    with pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"II+\x00\x00\x00\x00\x00")


def test_permissive_decode_image_features(spark):
    """on_error='permissive': corrupt/unsupported blobs yield NULL feature +
    classified error instead of a task failure; default 'fail' mode is
    unchanged (same schema, raises on the same corpus)."""
    import pytest

    from covid19_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        encode_png,
        extract_image_features,
    )

    rng = np.random.default_rng(5)
    good_bmp = encode_bmp(rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8))
    good_png = encode_png(rng.integers(0, 256, size=(3, 3, 3), dtype=np.uint8))
    rows = [
        (0, "image", "image/bmp", 5, 4, None, good_bmp),
        (1, "image", "image/png", 3, 3, None, good_png),
        (2, "image", "image/png", 3, 3, None, good_png[:20]),      # truncated
        (3, "image", "application/x-junk", None, None, None, b"\x00garbage"),
        (4, "image", "image/bmp", None, None, None, None),          # null payload
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)

    out = extract_image_features(media, on_error="permissive")
    assert "error" in out.columns
    got = {r.media_id: r for r in out.collect()}
    assert len(got) == 5
    assert got[0].error is None and len(got[0].feature) == 8
    assert got[1].error is None and len(got[1].feature) == 8
    assert got[2].feature is None and got[2].error.startswith("corrupt:")
    assert got[3].feature is None and got[3].error.startswith("unsupported:")
    assert got[4].feature is None and got[4].error.startswith("unsupported:")

    # default mode: schema has NO error column, and the bad corpus raises
    strict = extract_image_features(media)
    assert "error" not in strict.columns
    with pytest.raises(Exception, match="corrupt|PNG|unpack"):
        strict.collect()
    with pytest.raises(ValueError, match="on_error"):
        extract_image_features(media, on_error="ignore")


def test_tiff_16bit_and_planar():
    """Planar configuration 2 decodes under every byte codec; 16-bit and
    other non-8-bit sample widths are outside the supported profile —
    refused by the decoder (NotImplementedError) and by the encoder
    (ValueError)."""
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(3)
    img8 = rng.integers(0, 256, (7, 6, 3), dtype=np.uint8)
    for comp in ("none", "packbits", "lzw"):
        for planar in (1, 2):
            got = decode_tiff(
                encode_tiff(img8, compression=comp, planar=planar, rows_per_strip=3)
            )
            assert np.array_equal(got, img8), (comp, planar)
    with pytest.raises(ValueError, match="uint8"):
        encode_tiff(img8.astype(np.uint16))
    gray = gray_tiff(img8[:, :, 0])
    for bits in (12, 16):
        with pytest.raises(NotImplementedError, match="samples"):
            decode_tiff(retag_tiff(gray, 258, bits))


def test_tiff_tiled_roundtrip():
    """Tiled TIFF (TIFF 6.0 §15, tags 322-325): edge-padded tiles round-trip
    under every compression, planar config and predictor 2 — including
    tile sizes that do not divide the image dims."""
    from covid19_spark.operators.multimodal import decode_image, decode_tiff, encode_tiff

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    for comp in ("none", "packbits", "lzw"):
        for planar in (1, 2):
            for tile in ((8, 8), (5, 7)):
                for pred in (1, 2):
                    got = decode_tiff(
                        encode_tiff(img, compression=comp, planar=planar,
                                    tile=tile, predictor=pred)
                    )
                    assert np.array_equal(got, img), (comp, planar, tile, pred)
    gray = rng.integers(0, 256, (9, 9), dtype=np.uint8)
    out = decode_image(gray_tiff(gray, tile=(4, 4)))
    assert np.array_equal(out[:, :, 0], gray)
    # strips with predictor 2 through the ENCODER too (the hand-built
    # vectors above cover the decode side only)
    assert np.array_equal(decode_tiff(encode_tiff(img, compression="lzw", predictor=2)), img)


def test_tiff_sub_byte_samples():
    """1/2/4-bit samples outside CCITT, WhiteIsZero outside CCITT and
    palette images are outside the supported TIFF profile: each raises
    NotImplementedError."""
    from covid19_spark.operators.multimodal import decode_tiff

    rng = np.random.default_rng(41)
    gray = gray_tiff(rng.integers(0, 256, (17, 23)).astype(np.uint8), rows_per_strip=5)
    for bit in (1, 2, 4):
        with pytest.raises(NotImplementedError, match="sub-byte|samples"):
            decode_tiff(retag_tiff(gray, 258, bit))
    for photo in (0, 3):
        with pytest.raises(NotImplementedError, match=f"photometric {photo}"):
            decode_tiff(retag_tiff(gray, 262, photo))


def test_tiff_deflate_compression():
    """Adobe deflate (compression 8): zlib per strip/tile — stdlib-real,
    bit-exact round-trips for strips, tiles, planar, predictor 2, and the
    old-deflate code 32946 decodes identically."""
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, (17, 23, 3), dtype=np.uint8)
    for planar in (1, 2):
        for pred in (1, 2):
            assert np.array_equal(
                decode_tiff(encode_tiff(img, compression="deflate", planar=planar,
                                        predictor=pred, rows_per_strip=5)), img)
            assert np.array_equal(
                decode_tiff(encode_tiff(img, compression="deflate", planar=planar,
                                        tile=(8, 8), predictor=pred)), img)
    # old-deflate code 32946 is the same zlib stream — patch the tag value
    import struct
    p = bytearray(encode_tiff(img, compression="deflate", rows_per_strip=100))
    i = p.find(struct.pack("<HHI", 259, 3, 1))
    assert i > 0 and struct.unpack_from("<H", p, i + 8)[0] == 8
    struct.pack_into("<H", p, i + 8, 32946)
    assert np.array_equal(decode_tiff(bytes(p)), img)
    # corrupt deflate stream raises ValueError, not zlib.error
    bad = bytearray(encode_tiff(img, compression="deflate", rows_per_strip=100))
    bad[-10] ^= 0xFF
    with pytest.raises(ValueError):
        decode_tiff(bytes(bad))


def test_tiff_jpeg_compression():
    """New-style JPEG-in-TIFF (compression 7, TIFF TechNote 2): every strip
    is an RGB JPEG stream decoded by operators/jpeg. The contract is
    pixel-equality with the per-strip JPEG round-trip (JPEG is lossy).
    Tiles, grayscale input, 16-bit input and the predictor are rejected by
    the encoder; JPEG tiles are refused by the decoder."""
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(21)
    base = rng.integers(0, 256, (5, 6, 3)).astype(np.uint8)
    img = np.repeat(np.repeat(base, 5, axis=0), 5, axis=1)  # 25x30, blocky

    got = decode_tiff(encode_tiff(img, compression="jpeg", rows_per_strip=8))
    exp = np.concatenate(
        [decode_jpeg(encode_jpeg(img[y : y + 8], quality=90)) for y in range(0, 25, 8)],
        axis=0,
    )
    assert np.array_equal(got, exp)
    assert np.abs(got.astype(int) - img.astype(int)).mean() < 10  # lossy but close

    with pytest.raises(ValueError, match="strips"):
        encode_tiff(img, compression="jpeg", tile=(16, 16))
    with pytest.raises(ValueError, match="RGB"):
        encode_tiff(img[:, :, 0], compression="jpeg")
    with pytest.raises(ValueError, match="uint8"):
        encode_tiff(img.astype(np.uint16), compression="jpeg")
    with pytest.raises(ValueError, match="predictor"):
        encode_tiff(img, compression="jpeg", predictor=2)
    tiled = encode_tiff(img, tile=(16, 16))
    with pytest.raises(NotImplementedError, match="tiles"):
        decode_tiff(retag_tiff(retag_tiff(tiled, 259, 7), 262, 6))


def test_tiff_old_style_jpeg():
    """Old-style JPEG-in-TIFF (compression 6, TIFF 6.0 §22): the forms real
    writers produced decode — (a) a complete interchange stream at tag 513
    (with or without the 514 length, strips entirely absent), (b) strips
    that are themselves complete SOI streams (handled by the compression-7
    fall-through). The tables-split variant without SOI chunks rejects."""
    import struct

    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from covid19_spark.operators.multimodal import decode_tiff

    rng = np.random.default_rng(29)
    img = np.repeat(np.repeat(rng.integers(0, 256, (4, 4, 3)).astype(np.uint8), 4, 0), 4, 1)
    stream = encode_jpeg(img, quality=85)  # 16x16
    e = "<"

    def build(tags_spec, trailer):
        n = len(tags_spec)
        data_off = 8 + 2 + 12 * n + 4
        extra = struct.pack(e + "3H", 8, 8, 8)
        ents = []
        for tag, typ, vals in tags_spec:
            if tag == 258:
                ents.append(struct.pack(e + "HHII", 258, 3, 3, data_off))
                continue
            if vals == "TRAILER":
                vals = [data_off + len(extra)]
            fmt = {3: "H", 4: "I"}[typ]
            body = struct.pack(e + str(len(vals)) + fmt, *vals)
            ents.append(struct.pack(e + "HHI", tag, typ, len(vals)) + body.ljust(4, b"\x00"))
        return (b"II*\x00" + struct.pack(e + "I", 8) + struct.pack(e + "H", n)
                + b"".join(ents) + struct.pack(e + "I", 0) + extra + trailer)

    want = decode_jpeg(stream)
    base = [(256, 3, [16]), (257, 3, [16]), (258, 3, None), (259, 3, [6]),
            (262, 3, [6]), (277, 3, [3])]
    # (a) tag 513 + 514, no strips at all
    p = build(base + [(513, 4, "TRAILER"), (514, 4, [len(stream)])], stream)
    assert np.array_equal(decode_tiff(p), want)
    # (a') tag 513 without 514 — length defaults to end of file
    p = build(base + [(513, 4, "TRAILER")], stream)
    assert np.array_equal(decode_tiff(p), want)
    # (b) per-strip complete streams, no 513
    p = build(base + [(273, 4, "TRAILER"), (278, 3, [16]),
                      (279, 4, [len(stream)])], stream)
    assert np.array_equal(decode_tiff(p), want)
    # tables-split seam: strips that are not SOI streams
    p = build(base + [(273, 4, "TRAILER"), (278, 3, [16]),
                      (279, 4, [100])], b"\x00" * 100)
    with pytest.raises(ValueError, match="missing SOI"):
        decode_tiff(p)


def test_tiff_jpeg_tables_abbreviated_stream():
    """TechNote 2's JPEGTables layout (shared DQT/DHT in tag 347, type
    UNDEFINED, as an abbreviated tables-only stream; each strip an
    abbreviated image stream WITHOUT its tables) is outside the supported
    profile: the decoder raises NotImplementedError instead of merging."""
    import struct

    from covid19_spark.operators.jpeg import encode_jpeg
    from covid19_spark.operators.multimodal import decode_tiff

    rng = np.random.default_rng(23)
    img = np.repeat(np.repeat(rng.integers(0, 256, (4, 4, 3)).astype(np.uint8), 4, 0), 4, 1)
    full = encode_jpeg(img, quality=85)  # one full-image strip, 16x16

    # split: DQT (FFDB) / DHT (FFC4) segments -> tables; the rest -> strip
    tables, rest = bytearray(b"\xff\xd8"), bytearray(b"\xff\xd8")
    pos = 2
    while pos + 4 <= len(full):
        assert full[pos] == 0xFF
        marker = full[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0xDA:  # SOS: scan data runs to EOI, keep in strip
            rest += full[pos:-2]
            break
        (seglen,) = struct.unpack_from(">H", full, pos + 2)
        seg = full[pos : pos + 2 + seglen]
        (tables if marker in (0xDB, 0xC4) else rest).extend(seg)
        pos += 2 + seglen
    tables += b"\xff\xd9"
    rest += b"\xff\xd9"
    # sanity: the abbreviated strip alone must be missing its tables
    assert b"\xff\xdb" not in bytes(rest[:40])

    e = "<"
    strip = bytes(rest)
    tags = [
        (256, 3, [16]), (257, 3, [16]), (258, 3, None), (259, 3, [7]),
        (262, 3, [6]), (273, 4, None), (277, 3, [3]), (278, 3, [16]),
        (279, 4, [len(strip)]), (347, 7, None),
    ]
    n = len(tags)
    data_off = 8 + 2 + 12 * n + 4
    bits_off = data_off
    tables_off = bits_off + 6
    strip_off = tables_off + len(tables)
    extra = struct.pack(e + "3H", 8, 8, 8) + bytes(tables)
    ents = []
    for tag, typ, vals in tags:
        if tag == 258:
            ents.append(struct.pack(e + "HHII", 258, 3, 3, bits_off))
            continue
        if tag == 273:
            vals = [strip_off]
        if tag == 347:
            ents.append(struct.pack(e + "HHII", 347, 7, len(tables), tables_off))
            continue
        fmt = {3: "H", 4: "I"}[typ]
        body = struct.pack(e + str(len(vals)) + fmt, *vals)
        ents.append(struct.pack(e + "HHI", tag, typ, len(vals)) + body.ljust(4, b"\x00"))
    payload = (
        b"II*\x00" + struct.pack(e + "I", 8) + struct.pack(e + "H", n)
        + b"".join(ents) + struct.pack(e + "I", 0) + extra + strip
    )
    with pytest.raises(NotImplementedError, match="JPEGTables"):
        decode_tiff(payload)


def test_tiff_tiled_hand_built_vector():
    """Hand-built little-endian tiled vector: 4x4 RGB, 2x2 tiles stored in
    tile-row-major order with predictor 2 applied PER TILE (differencing
    restarts at each tile's left edge — the semantic difference from
    strips). Exercises decode only, independent of encode_tiff."""
    import struct

    from covid19_spark.operators.multimodal import decode_tiff

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    e = "<"
    tiles = []
    for ty in range(2):
        for tx in range(2):
            blk = img[ty * 2 : ty * 2 + 2, tx * 2 : tx * 2 + 2].astype(np.int64)
            d = blk.copy()
            d[:, 1:] -= blk[:, :-1]  # per-tile horizontal differencing
            tiles.append((d % 256).astype(np.uint8).tobytes())
    tags = [
        (256, 3, [4]), (257, 3, [4]), (258, 3, None), (259, 3, [1]),
        (262, 3, [2]), (277, 3, [3]), (317, 3, [2]),
        (322, 3, [2]), (323, 3, [2]), (324, 4, None), (325, 4, None),
    ]
    n = len(tags)
    data_off = 8 + 2 + 12 * n + 4
    # out-of-line payloads: bits array (6 B), tile offsets (16 B),
    # tile counts (16 B), then the 4 tiles of 12 B each
    bits_off = data_off
    toff_off = bits_off + 6
    tcnt_off = toff_off + 16
    tile0 = tcnt_off + 16
    offsets = [tile0 + 12 * i for i in range(4)]
    extra = struct.pack(e + "3H", 8, 8, 8)
    extra += struct.pack(e + "4I", *offsets)
    extra += struct.pack(e + "4I", 12, 12, 12, 12)
    ents = []
    for tag, typ, vals in tags:
        if tag == 258:
            ents.append(struct.pack(e + "HHII", 258, 3, 3, bits_off))
            continue
        if tag == 324:
            ents.append(struct.pack(e + "HHII", 324, 4, 4, toff_off))
            continue
        if tag == 325:
            ents.append(struct.pack(e + "HHII", 325, 4, 4, tcnt_off))
            continue
        body = struct.pack(e + str(len(vals)) + "H", *vals)
        ents.append(struct.pack(e + "HHI", tag, typ, len(vals)) + body.ljust(4, b"\x00"))
    payload = (
        b"II*\x00" + struct.pack(e + "I", 8) + struct.pack(e + "H", n)
        + b"".join(ents) + struct.pack(e + "I", 0) + extra + b"".join(tiles)
    )
    assert np.array_equal(decode_tiff(payload), img)
    # a decoder that applied the predictor across the assembled row (strip
    # semantics) instead of per tile would differ wherever a tile boundary
    # crosses a row — guard that the vector actually discriminates: the
    # right-column tiles' first columns are ABSOLUTE samples per-tile but
    # would be differences under strip semantics
    whole = img.astype(np.int64)
    dall = whole.copy()
    dall[:, 1:] -= whole[:, :-1]
    strip_style_tile1 = (dall[0:2, 2:4] % 256).astype(np.uint8).tobytes()
    assert tiles[1] != strip_style_tile1


def _split_jpeg(stream):
    qt, dc, ac = {}, {}, {}
    dri, entropy = 0, None
    pos = 2
    while pos + 4 <= len(stream):
        assert stream[pos] == 0xFF
        marker = stream[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        ln = int.from_bytes(stream[pos : pos + 2], "big")
        body = stream[pos + 2 : pos + ln]
        if marker == 0xDB:
            b = 0
            while b < len(body):
                qt[body[b] & 0xF] = body[b + 1 : b + 65]
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0xF
                n = sum(body[b + 1 : b + 17])
                (dc if tc == 0 else ac)[th] = body[b + 1 : b + 17 + n]
                b += 17 + n
        elif marker == 0xDD:
            dri = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:
            pos += ln
            entropy = stream[pos:-2]
            return qt, dc, ac, dri, entropy
        pos += ln
    raise AssertionError("no SOS in stream")

def _build_tables_split(w, h, spp, photo, entropies, rps, qt, dc, ac, dri=0, sub=None,
          proc=1, tile=None):
    e = "<"
    blobs = []

    def blob(data):
        blobs.append(bytes(data))
        return len(blobs) - 1

    tsel = lambda ci: 0 if ci == 0 else 1
    q_i = [blob(qt[tsel(ci)]) for ci in range(spp)]
    d_i = [blob(dc[tsel(ci)]) for ci in range(spp)]
    a_i = [blob(ac[tsel(ci)]) for ci in range(spp)]
    s_i = [blob(en) for en in entropies]
    if tile:
        chunk_tags = [
            (322, 4, [tile[0]]), (323, 4, [tile[1]]),
            (324, 4, [("b", i) for i in s_i]),
            (325, 4, [len(en) for en in entropies]),
        ]
    else:
        chunk_tags = [
            (273, 4, [("b", i) for i in s_i]),
            (278, 3, [rps]),
            (279, 4, [len(en) for en in entropies]),
        ]
    tags = [
        (256, 4, [w]), (257, 4, [h]), (258, 3, [8] * spp),
        (259, 3, [6]), (262, 3, [photo]),
        (277, 3, [spp]),
        (512, 3, [proc]),
        (519, 4, [("b", i) for i in q_i]),
        (520, 4, [("b", i) for i in d_i]),
        (521, 4, [("b", i) for i in a_i]),
    ] + chunk_tags
    if dri:
        tags.append((515, 4, [dri]))
    if sub:
        tags.append((530, 3, list(sub)))
    tags.sort()
    n = len(tags)
    ifd_end = 8 + 2 + 12 * n + 4
    tsize = {3: 2, 4: 4}
    val_area = sum(
        tsize[typ] * len(vals)
        for _, typ, vals in tags
        if tsize[typ] * len(vals) > 4
    )
    val_area += val_area % 2
    blob_offs, off = [], ifd_end + val_area
    for b in blobs:
        blob_offs.append(off)
        off += len(b) + (len(b) % 2)
    ents, vals_out = [], b""
    for tag, typ, vals in tags:
        rv = [blob_offs[i] if isinstance(v, tuple) else v
              for v in vals for i in [v[1] if isinstance(v, tuple) else 0]]
        fmt = {3: "H", 4: "I"}[typ]
        body = struct.pack(e + str(len(rv)) + fmt, *rv)
        if len(body) <= 4:
            ents.append(
                struct.pack(e + "HHI", tag, typ, len(rv)) + body.ljust(4, b"\0")
            )
        else:
            voff = ifd_end + len(vals_out)
            ents.append(struct.pack(e + "HHII", tag, typ, len(rv), voff))
            vals_out += body
    vals_out = vals_out.ljust(val_area, b"\0")
    blob_area = b"".join(
        b + b"\0" * (len(b) % 2) for b in blobs
    )
    return (b"II*\x00" + struct.pack(e + "I", 8) + struct.pack(e + "H", n)
            + b"".join(ents) + struct.pack(e + "I", 0) + vals_out + blob_area)



def test_tiff_old_style_jpeg_tables_split():
    """TIFF 6.0 §22 tables-split old-style JPEG — the last §22 form: tags
    519/520/521 point at RAW quant/Huffman table data and the strips are
    BARE entropy-coded scan data (no markers). The decoder must rebuild an
    interchange stream per strip and match the plain JPEG decode of the
    same data. Covers grayscale, multi-strip YCbCr 2x2 (tag 530), restart
    intervals (tag 515 -> DRI, live RSTn markers in the strip bytes), and
    the photometric-2 / lossless-proc seams."""
    import struct

    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from covid19_spark.operators.multimodal import decode_tiff

    split_jpeg, build = _split_jpeg, _build_tables_split

    rng = np.random.default_rng(31)

    # grayscale, single strip
    g = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
    full = encode_jpeg(g, quality=85)
    qt, dc, ac, dri, en = split_jpeg(full)
    p = build(17, 24, 1, 1, [en], 24, qt, dc, ac)
    assert np.array_equal(decode_tiff(p), decode_jpeg(full))

    # YCbCr 2x2, three strips (16 + 16 + 8 rows)
    img = rng.integers(0, 256, size=(40, 32, 3), dtype=np.uint8)
    strips = [img[0:16], img[16:32], img[32:40]]
    streams = [encode_jpeg(s, quality=80, subsampling="420") for s in strips]
    qt, dc, ac, _, _ = split_jpeg(streams[0])
    ens = [split_jpeg(st)[4] for st in streams]
    p = build(32, 40, 3, 6, ens, 16, qt, dc, ac, sub=(2, 2))
    want = np.concatenate([decode_jpeg(st) for st in streams], axis=0)
    assert np.array_equal(decode_tiff(p), want)

    # restart interval: DRI segment + real RSTn markers in the strip bytes
    full = encode_jpeg(img, quality=80, subsampling="420", restart_interval=2)
    qt, dc, ac, dri, en = split_jpeg(full)
    assert dri == 2 and b"\xff\xd0" in en
    p = build(32, 40, 3, 6, [en], 40, qt, dc, ac, dri=dri, sub=(2, 2))
    assert np.array_equal(decode_tiff(p), decode_jpeg(full))

    # photometric 2 (RGB-in-JPEG) stays a seam
    p = build(32, 40, 3, 2, [en], 40, qt, dc, ac, dri=dri)
    with pytest.raises(NotImplementedError, match="photometric 2"):
        decode_tiff(p)
    # lossless old-style proc stays a seam
    p = build(32, 40, 3, 6, [en], 40, qt, dc, ac, dri=dri, sub=(2, 2), proc=14)
    with pytest.raises(NotImplementedError, match="JPEGProc"):
        decode_tiff(p)
    # out-of-range table offset is corrupt, not a crash
    bad = bytearray(build(17, 24, 1, 1, [split_jpeg(encode_jpeg(g))[4]], 24,
                          {0: b"\xff" * 64}, dc, ac))
    i = bad.find(struct.pack("<HH", 519, 4))
    struct.pack_into("<I", bad, i + 8, len(bad) + 10)
    with pytest.raises(ValueError, match="out of range"):
        decode_tiff(bytes(bad))


def test_tiff_rgb_photometric_new_jpeg_is_a_seam():
    """ADVICE r08: decode_jpeg treats every 3-component scan as YCbCr, so a
    third-party RGB-photometric (photo 2) new-style JPEG-in-TIFF would
    decode mis-colored; it must raise the documented NotImplementedError
    instead — the same guard the tables-split old-JPEG path already has."""
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    payload = bytearray(encode_tiff(img, compression="jpeg"))
    # tag 262 (PhotometricInterpretation), SHORT, count 1, value 6 (YCbCr)
    entry = bytes.fromhex("060103000100000006000000")
    i = payload.find(entry)
    assert i >= 0
    payload[i + 8] = 2  # rewrite to photometric 2 (RGB)
    with pytest.raises(NotImplementedError, match="RGB-photometric"):
        decode_tiff(bytes(payload))


def test_tiff_old_style_jpeg_tables_split_tiled():
    """VERDICT r08 task #7: the tiled organization of the §22 tables-split
    form — the same rebuilt-stream kernel over TIFF 6.0 §15 grid framing.
    Every tile is a FULL tile-size scan (edge tiles padded by the writer);
    the decoder assembles row-major and crops. Grayscale and YCbCr 2x2
    grids, plus the short-tile-list corruption guard."""
    from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from covid19_spark.operators.multimodal import decode_tiff

    rng = np.random.default_rng(37)

    def tiles_of(img, tw, tl):
        h, w = img.shape[:2]
        padded = np.pad(
            img,
            ((0, -h % tl), (0, -w % tw)) + ((0, 0),) * (img.ndim - 2),
            mode="edge",
        )
        return [
            padded[y : y + tl, x : x + tw]
            for y in range(0, padded.shape[0], tl)
            for x in range(0, padded.shape[1], tw)
        ]

    # grayscale 40x50, 16x16 tiles (4x3 grid, both edges ragged)
    g = rng.integers(0, 256, size=(40, 50), dtype=np.uint8)
    streams = [encode_jpeg(tp, quality=85) for tp in tiles_of(g, 16, 16)]
    qt, dc, ac, _, _ = _split_jpeg(streams[0])
    ens = [_split_jpeg(st)[4] for st in streams]
    p = _build_tables_split(50, 40, 1, 1, ens, 0, qt, dc, ac, tile=(16, 16))
    rows = [
        np.concatenate([decode_jpeg(st) for st in streams[r * 4 : r * 4 + 4]], axis=1)
        for r in range(3)
    ]
    want = np.concatenate(rows, axis=0)[:40, :50]
    assert np.array_equal(decode_tiff(p), want)

    # YCbCr 2x2-subsampled RGB, 32x16 tiles over 30x40
    img = rng.integers(0, 256, size=(30, 40, 3), dtype=np.uint8)
    streams = [
        encode_jpeg(tp, quality=80, subsampling="420")
        for tp in tiles_of(img, 32, 16)
    ]
    qt, dc, ac, _, _ = _split_jpeg(streams[0])
    ens = [_split_jpeg(st)[4] for st in streams]
    p = _build_tables_split(
        40, 30, 3, 6, ens, 0, qt, dc, ac, sub=(2, 2), tile=(32, 16)
    )
    rows = [
        np.concatenate([decode_jpeg(st) for st in streams[r * 2 : r * 2 + 2]], axis=1)
        for r in range(2)
    ]
    want = np.concatenate(rows, axis=0)[:30, :40]
    assert np.array_equal(decode_tiff(p), want)

    # a tile list shorter than the grid is corrupt, not a crash
    p = _build_tables_split(40, 30, 3, 6, ens[:2], 0, qt, dc, ac,
                            sub=(2, 2), tile=(32, 16))
    with pytest.raises(ValueError, match="tiles cover less"):
        decode_tiff(p)
