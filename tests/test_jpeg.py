"""Baseline JPEG codec (operators/jpeg.py): round-trip fidelity, subsampling,
restart markers, reject paths. No Spark session needed — the codec is a
per-row kernel; its Spark plumbing is covered by test_multimodal.py."""

import numpy as np
import pytest

from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg
from covid19_spark.operators.multimodal import decode_image


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _gradient(h=40, w=56):
    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255 / max(w - 1, 1)).astype(np.uint8)
    g = (yy * 255 / max(h - 1, 1)).astype(np.uint8)
    b = ((xx + yy) * 255 / (h + w - 2)).astype(np.uint8)
    return np.stack([r, g, b], axis=2)


def test_roundtrip_444_high_quality():
    img = _gradient()
    out = decode_jpeg(encode_jpeg(img, quality=92))
    assert out.shape == img.shape
    assert _psnr(img, out) > 32


def test_roundtrip_420_subsampled():
    img = _gradient()
    payload = encode_jpeg(img, quality=90, subsampling="420")
    out = decode_jpeg(payload)
    assert out.shape == img.shape
    assert _psnr(img, out) > 28
    # 4:2:0 files are smaller than 4:4:4 at the same quality
    assert len(payload) < len(encode_jpeg(img, quality=90, subsampling="444"))


def test_flat_color_near_exact():
    img = np.full((24, 24, 3), 130, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=90))
    assert int(np.abs(out.astype(int) - 130).max()) <= 2


def test_grayscale_roundtrip():
    yy, xx = np.mgrid[0:32, 0:24]
    gray = ((xx * 7 + yy * 3) % 256).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(gray, quality=95))
    assert out.shape == (32, 24, 3)
    # all three channels replicate Y
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    assert _psnr(np.repeat(gray[:, :, None], 3, axis=2), out) > 25


def test_odd_dimensions_crop_back():
    img = _gradient(17, 13)
    for ss in ("444", "420"):
        out = decode_jpeg(encode_jpeg(img, quality=90, subsampling=ss))
        assert out.shape == (17, 13, 3)


def test_restart_markers_equivalent():
    img = _gradient(33, 47)
    plain = decode_jpeg(encode_jpeg(img, quality=85))
    with_rst = encode_jpeg(img, quality=85, restart_interval=2)
    assert b"\xff\xdd" in with_rst  # DRI segment present
    assert with_rst.count(b"\xff\xd0") >= 1  # at least one RST0
    assert np.array_equal(decode_jpeg(with_rst), plain)


def test_encode_deterministic():
    img = _gradient()
    assert encode_jpeg(img, quality=80) == encode_jpeg(img, quality=80)


def test_quality_monotone_size():
    img = _gradient()
    sizes = [len(encode_jpeg(img, quality=q)) for q in (50, 70, 90)]
    assert sizes[0] < sizes[1] < sizes[2]
    # below 50 the quality scaling is refused
    with pytest.raises(NotImplementedError, match="quality below 50"):
        encode_jpeg(img, quality=30)


def test_rejects_arithmetic_and_garbage():
    img = _gradient(16, 16)
    payload = bytearray(encode_jpeg(img, quality=80))
    i = payload.find(b"\xff\xc0")
    # PROGRESSIVE arithmetic (SOF10) stays an explicit seam — sequential
    # SOF9 is now decoded (tests/test_jpeg_arith.py)
    payload[i + 1] = 0xCA
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(payload))
    # SOF2 is now DECODED — but a baseline scan header (Ss=0, Se=63) under a
    # progressive frame is an illegal band combination, not silent garbage
    payload[i + 1] = 0xC2
    with pytest.raises(ValueError, match="spectral"):
        decode_jpeg(bytes(payload))
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")
    with pytest.raises(ValueError):
        decode_jpeg(None)


def test_seam_rejection_happens_at_sniff_cost():
    """VERDICT r06 task #8: unsupported-variant/12-bit streams are refused by the
    header marker walk BEFORE any DQT/DHT parsing. Proof: plant a DHT whose
    body is corrupt (counts point past the segment) ahead of the SOF — the
    main walk would raise ValueError parsing it, so getting
    NotImplementedError means the seam fired without touching the tables."""
    import struct

    from covid19_spark.operators.jpeg import sniff_jpeg_frame

    img = _gradient(16, 16)
    payload = bytearray(encode_jpeg(img, quality=80))
    i = payload.find(b"\xff\xc0")
    # corrupt DHT: 16 count bytes claiming 255 symbols with a 1-byte body
    bad_dht = b"\xff\xc4" + struct.pack(">H", 2 + 17 + 1) + b"\x00" + b"\xff" * 16 + b"\x00"
    seam = payload[:i] + bad_dht + payload[i:]

    arith = bytearray(seam)
    j = bytes(arith).find(b"\xff\xc0")
    arith[j + 1] = 0xCA
    with pytest.raises(NotImplementedError, match="SOF marker 0xca"):
        decode_jpeg(bytes(arith))

    deep = bytearray(seam)
    deep[j + 4] = 12  # precision byte of the SOF body
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(deep))

    # the sniff itself reports the frame header for both
    marker, prec, h, w = sniff_jpeg_frame(bytes(arith))
    assert (marker, h, w) == (0xCA, 16, 16)
    assert sniff_jpeg_frame(bytes(deep))[1] == 12

    # control: the same corrupt DHT under a SUPPORTED SOF still surfaces
    # the table error from the main walk
    with pytest.raises(ValueError, match="corrupt JPEG"):
        decode_jpeg(bytes(seam))


def test_decode_image_dispatches_jpeg():
    img = _gradient(16, 16)
    out = decode_image(encode_jpeg(img, quality=92))
    assert out.shape == (16, 16, 3)
    assert _psnr(img, out) > 30


def test_truncated_payload_raises_valueerror_everywhere():
    """Any prefix of a valid JPEG that passes the SOI magic must fail with
    the documented ValueError('corrupt JPEG...') contract — never a raw
    struct.error / IndexError escaping the marker loop or the entropy bit
    reader (ADVICE r04). Sweep every segment boundary plus mid-entropy cuts."""
    payload = encode_jpeg(_gradient(24, 24), quality=85)
    # a sweep over prefix lengths: fine-grained through the headers, then
    # strided through the entropy-coded segment
    cuts = list(range(2, min(len(payload), 200))) + list(
        range(200, len(payload) - 1, 37)
    )
    for n in cuts:
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(payload[:n])


def test_corrupted_segment_length_raises_valueerror():
    """A segment length pointing past end-of-buffer is truncation, not a
    crash."""
    payload = bytearray(encode_jpeg(_gradient(16, 16), quality=85))
    # APP0/DQT length field lives right after the first marker: blow it up
    payload[4] = 0xFF
    payload[5] = 0xFF
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(bytes(payload[:64]))


# --- progressive (SOF2) ------------------------------------------------------


def test_progressive_matches_baseline_exactly():
    """Progressive and baseline encodings share the same quantized
    coefficients, so their decodes must be bit-identical — this closes the
    loop on every Annex G scan type the encoder's script emits (interleaved
    DC first/refine, spectral-selection AC first, AC refinement, EOB runs)."""
    rng = np.random.default_rng(3)
    cases = [
        (_gradient(), dict(subsampling="444")),
        (_gradient(), dict(subsampling="420")),
        (rng.integers(0, 256, (24, 40, 3), dtype=np.uint8), dict(subsampling="444")),
        (_gradient(17, 13), dict(subsampling="420")),
    ]
    for img, kw in cases:
        base = decode_jpeg(encode_jpeg(img, quality=85, **kw))
        prog = decode_jpeg(encode_jpeg(img, quality=85, progressive=True, **kw))
        assert np.array_equal(base, prog), kw
    # grayscale progressive is refused at the encoder
    gray = (np.mgrid[0:32, 0:24][0] * 7 % 256).astype(np.uint8)
    with pytest.raises(NotImplementedError, match="progressive grayscale"):
        encode_jpeg(gray, quality=85, progressive=True)


def test_progressive_large_smooth_exercises_eob_runs():
    """A large flat image makes every AC band all-zero -> EOBn codes with
    multi-block runs (the decoder's r>0 EOB path), including refinement
    scans whose run blocks consume correction bits."""
    img = np.full((80, 80, 3), 200, dtype=np.uint8)
    payload = encode_jpeg(img, quality=85, progressive=True)
    out = decode_jpeg(payload)
    assert int(np.abs(out.astype(int) - 200).max()) <= 2
    base = decode_jpeg(encode_jpeg(img, quality=85))
    assert np.array_equal(out, base)


def test_progressive_is_sof2_and_multiscan():
    payload = encode_jpeg(_gradient(), quality=85, progressive=True)
    assert b"\xff\xc2" in payload  # SOF2
    assert payload.count(b"\xff\xda") >= 6  # one SOS per scan-script entry
    # progressive file differs from baseline but decodes identically
    assert b"\xff\xc0" not in payload


def test_progressive_truncation_raises_valueerror():
    payload = encode_jpeg(_gradient(24, 24), quality=85, progressive=True)
    cuts = list(range(2, min(len(payload), 300), 3)) + list(
        range(300, len(payload) - 1, 101)
    )
    for n in cuts:
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(payload[:n])


def test_decode_image_dispatches_progressive():
    img = _gradient(16, 16)
    out = decode_image(encode_jpeg(img, quality=92, progressive=True))
    assert out.shape == (16, 16, 3)
    assert _psnr(img, out) > 30


def test_peek_jpeg_dims_contracts():
    """Header-only dimension probe: agrees with the decoded shape for
    baseline 4:4:4, 4:2:0, grayscale, and progressive streams; rejects
    non-JPEG and SOF-less payloads with ValueError."""
    import pytest

    from covid19_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        peek_jpeg_dims,
    )

    rng = np.random.default_rng(11)
    img = np.repeat(
        np.repeat(rng.integers(0, 256, (5, 7, 3), dtype=np.uint8), 8, 0), 8, 1
    )
    for payload in (
        encode_jpeg(img, quality=85, subsampling="444"),
        encode_jpeg(img, quality=85, subsampling="420"),
        encode_jpeg(img.mean(axis=2).astype(np.uint8), quality=85),
        encode_jpeg(img, quality=85, progressive=True),
    ):
        h, w = peek_jpeg_dims(payload)
        assert (h, w) == decode_jpeg(payload).shape[:2] == (40, 56)
    with pytest.raises(ValueError, match="not a JPEG"):
        peek_jpeg_dims(b"BM\x00\x00")
    with pytest.raises(ValueError):
        peek_jpeg_dims(b"\xff\xd8\xff\xd9")  # SOI+EOI, no SOF


def test_dc_decode_tracks_block_means_across_variants():
    """decode_jpeg_dc must return (ceil(H/8), ceil(W/8), 3) block means for
    every sequential Huffman stream shape — 4:4:4, 4:2:0 (chroma
    upsample-by-repeat in _dc_assemble), grayscale (replicated), restart
    markers — each within quantization distance of the full decode's true
    8x8 block means. Progressive streams are refused."""
    from covid19_spark.operators.jpeg import (
        decode_jpeg,
        decode_jpeg_dc,
        encode_jpeg,
    )

    rng = np.random.default_rng(13)
    base = rng.integers(40, 216, (6, 8, 3), dtype=np.uint8)
    img = np.repeat(np.repeat(base, 8, 0), 8, 1)  # 48x64, smooth blocks
    gray = img.mean(axis=2).astype(np.uint8)
    variants = [
        ("444", encode_jpeg(img, quality=90, subsampling="444")),
        ("420", encode_jpeg(img, quality=90, subsampling="420")),
        ("gray", encode_jpeg(gray, quality=90)),
        ("rst", encode_jpeg(img, quality=90, restart_interval=2)),
    ]
    for name, payload in variants:
        dc = decode_jpeg_dc(payload)
        assert dc.shape == (6, 8, 3), name
        full = decode_jpeg(payload).astype(np.float64)
        bm = full.reshape(6, 8, 8, 8, 3).mean(axis=(1, 3))
        if name == "420":
            # one chroma DC covers a 16x16 area, so per-8x8-block chroma
            # means legitimately differ (the full decode carries chroma AC
            # the 1/8-scale image cannot) — but luma is full-resolution and
            # the JFIF inverse transform makes 0.299R+0.587G+0.114B recover
            # the Y plane exactly, so compare in luma space
            w = np.array([0.299, 0.587, 0.114])
            assert np.abs((dc.astype(np.float64) - bm) @ w).max() <= 3.0
        else:
            assert np.abs(dc.astype(np.float64) - bm).max() <= 3.0, name
    with pytest.raises(NotImplementedError, match="DC-only"):
        decode_jpeg_dc(encode_jpeg(img, quality=90, progressive=True))


def test_lossless_sof3_roundtrip_and_contracts():
    """Lossless JPEG (SOF3, T.81 Annex H): bit-exact RGB round-trip with
    predictor 4, plus the shared-surface contracts — header peek, the DC
    thumbnail and the other predictors and component counts refused, gray
    input rejected by the encoder."""
    import pytest

    from covid19_spark.operators.jpeg import (
        decode_jpeg,
        decode_jpeg_dc,
        encode_jpeg_lossless,
        peek_jpeg_dims,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (21, 34, 3), dtype=np.uint8)
    payload = encode_jpeg_lossless(img)
    assert np.array_equal(decode_jpeg(payload), img)
    assert peek_jpeg_dims(payload) == (21, 34)
    with pytest.raises(NotImplementedError, match="DC-only"):
        decode_jpeg_dc(payload)
    sos = payload.index(b"\xff\xda")
    for pred in (1, 7):
        other = bytearray(payload)
        other[sos + 4 + 1 + 2 * 3] = pred  # Ss = predictor selector
        with pytest.raises(NotImplementedError, match=f"predictor {pred}"):
            decode_jpeg(bytes(other))
    gray = img.mean(axis=2).astype(np.uint8)
    with pytest.raises(ValueError, match="H, W, 3"):
        encode_jpeg_lossless(gray)


def test_16bit_quantization_tables_decode_identically():
    """DQT precision 1 (16-bit entries, T.81 B.2.4.1) is outside the
    supported profile: rewriting a file's 8-bit DQT as 16-bit makes the
    decode raise NotImplementedError, while an invalid pq (2) stays a
    corrupt-stream ValueError."""
    payload = encode_jpeg(_gradient(24, 24), quality=85)
    i = payload.find(b"\xff\xdb")
    wide = bytearray(payload)
    wide[i + 4] = 0x10 | (wide[i + 4] & 0x0F)  # pq=1
    with pytest.raises(NotImplementedError, match="16-bit DQT"):
        decode_jpeg(bytes(wide))
    with pytest.raises(ValueError, match="DQT precision"):
        bad = bytearray(payload)
        bad[i + 4] = 0x20 | (bad[i + 4] & 0x0F)  # pq=2: invalid
        decode_jpeg(bytes(bad))


def _with_sof(payload: bytes, marker: int, prec: int) -> bytes:
    """``payload`` with its SOF marker byte and precision byte rewritten."""
    out = bytearray(payload)
    i = out.find(b"\xff\xc0")
    out[i + 1] = marker
    out[i + 4] = prec
    return bytes(out)


def test_12bit_extended_sequential_roundtrip():
    """12-bit DCT frames are outside the supported profile: a 12-bit SOF1
    header is refused with NotImplementedError, and the same stream
    declared 8-bit SOF1 (extended sequential at P=8) decodes exactly like
    its SOF0 original."""
    payload = encode_jpeg(_gradient(), quality=92)
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(_with_sof(payload, 0xC1, 12))
    assert np.array_equal(decode_jpeg(_with_sof(payload, 0xC1, 8)), decode_jpeg(payload))


def test_12bit_matches_8bit_pipeline_at_same_content():
    """The encoders write 8-bit frames only: the SOF precision byte of a
    baseline, progressive and arithmetic encoding of the same content is 8,
    and all three decode to the same uint8 picture."""
    from covid19_spark.operators.jpeg import sniff_jpeg_frame
    from covid19_spark.operators.jpeg_arith import encode_jpeg_arith

    rng = np.random.default_rng(13)
    base = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    img8 = np.repeat(np.repeat(base, 8, axis=0), 8, axis=1)
    streams = [
        encode_jpeg(img8, quality=90),
        encode_jpeg(img8, quality=90, progressive=True),
        encode_jpeg_arith(img8, quality=90),
    ]
    assert [sniff_jpeg_frame(p)[1] for p in streams] == [8, 8, 8]
    outs = [decode_jpeg(p) for p in streams]
    assert all(o.dtype == np.uint8 and np.array_equal(o, outs[0]) for o in outs)


def test_12bit_rejections_and_truncation_contract():
    """12-bit frames are refused at sniff cost under every DCT SOF marker
    (baseline, extended sequential, progressive, arithmetic), and the
    truncation sweep contract holds for the refused payload too."""
    payload = encode_jpeg(_gradient(32, 40), quality=88)
    for marker in (0xC0, 0xC1, 0xC2, 0xC9):
        with pytest.raises(NotImplementedError, match="12-bit"):
            decode_jpeg(_with_sof(payload, marker, 12))
    deep = _with_sof(payload, 0xC1, 12)
    cuts = list(range(2, min(len(deep), 180))) + list(range(180, len(deep) - 1, 41))
    for n in cuts:
        with pytest.raises((ValueError, NotImplementedError)):
            decode_jpeg(deep[:n])


def test_12bit_progressive_matches_sequential_exactly():
    """Restart intervals are written and read for sequential streams only:
    the progressive encoder rejects them, and a progressive stream that
    carries a DRI segment is refused with NotImplementedError."""
    import struct

    img = _gradient(48, 48)
    with pytest.raises(ValueError, match="baseline"):
        encode_jpeg(img, quality=90, progressive=True, restart_interval=2)
    prog = encode_jpeg(img, quality=90, progressive=True)
    i = prog.find(b"\xff\xc2")
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 2)
    with pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(prog[:i] + dri + prog[i:])


def test_lossless_high_precision_roundtrips_bit_exact():
    """SOF3 at 16 bits: uint16 RGB samples round-trip bit-exactly, including
    the mod-2^16 wrap case (category 16, no extra bits) that only appears
    above 8 bits; other lossless precisions are refused at the seam and
    other input dtypes are rejected by the encoder."""
    from covid19_spark.operators.jpeg import encode_jpeg_lossless, sniff_jpeg_frame

    rng = np.random.default_rng(7)
    rgb16 = rng.integers(0, 65536, (23, 31, 3), dtype=np.uint16)
    payload = encode_jpeg_lossless(rgb16)
    assert sniff_jpeg_frame(payload)[:2] == (0xC3, 16)
    out = decode_jpeg(payload)
    assert out.dtype == np.uint16
    assert np.array_equal(out, rgb16)

    # 0/65535 alternation forces the ±32768 wrap on every sample
    alt = np.zeros((6, 8, 3), dtype=np.uint16)
    alt[:, 1::2] = 65535
    assert np.array_equal(decode_jpeg(encode_jpeg_lossless(alt)), alt)

    p12 = bytearray(payload)
    i = p12.find(b"\xff\xc3")
    p12[i + 4] = 12
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(p12))

    # uint8 input keeps the 8-bit contract (dtype and Annex K table)
    g8 = rng.integers(0, 256, (12, 12, 3), dtype=np.uint8)
    o8 = decode_jpeg(encode_jpeg_lossless(g8))
    assert o8.dtype == np.uint8 and np.array_equal(o8, g8)

    with pytest.raises(ValueError, match="uint8 or uint16"):
        encode_jpeg_lossless(rgb16.astype(np.int32))
