"""Arithmetic-coded JPEG (SOF9, T.81 Annex D/E/F): QM-coder primitives,
state-table structure, and full encode/decode round trips pinned
bit-identical to the Huffman modes of the same quantized coefficients."""

import numpy as np
import pytest

from covid19_spark.operators.jpeg import decode_jpeg, encode_jpeg, sniff_jpeg_frame
from covid19_spark.operators.jpeg_arith import (
    _QE_TAB,
    _ArithDecoder,
    _ArithEncoder,
    encode_jpeg_arith,
)


def test_qe_table_structure():
    """Table D.3 invariants: 113 adaptive states + the frozen sign bin; Qe
    below the renormalization threshold; next-state indices in range; the
    switch flag only on high-Qe (fast-attack) states; state 0 and the
    frozen bin both start at the canonical 0x5A1D."""
    assert len(_QE_TAB) == 114
    for i, (qe, nmps, nlps, sw) in enumerate(_QE_TAB):
        assert 0 < qe < 0x8000, i
        assert 0 <= nmps < len(_QE_TAB), i
        assert 0 <= nlps < len(_QE_TAB), i
        assert sw in (0, 1), i
        if sw:
            assert qe > 0x5000, i  # MPS switches only near p=0.5
    assert _QE_TAB[0][0] == 0x5A1D
    assert _QE_TAB[113] == (0x5A1D, 113, 113, 0)  # frozen equiprobable bin
    # the steady-state ladder's terminal state points at itself via MPS
    assert _QE_TAB[13][1] == 13


def _roundtrip_bits(bits, nbins=1):
    enc = _ArithEncoder()
    stats = bytearray(nbins)
    for j, b in enumerate(bits):
        enc.encode(stats, j % nbins, b)
    payload = enc.flush()
    dec = _ArithDecoder(payload, 0)
    stats2 = bytearray(nbins)
    out = [dec.decode(stats2, j % nbins) for j in range(len(bits))]
    return payload, out


def test_coder_primitives_roundtrip_and_adapt():
    """The raw QM coder must (a) round-trip any bit sequence exactly and
    (b) actually adapt: a 5%-ones stream must compress far below 1
    bit/symbol (the whole point of the 113-state estimator)."""
    rng = np.random.default_rng(3)
    bits = (rng.random(10000) < 0.05).astype(int).tolist()
    payload, out = _roundtrip_bits(bits)
    assert out == bits
    assert len(payload) < 10000 / 8 * 0.45  # ~0.29 bits/symbol achievable
    # equiprobable bits: no compression, still exact
    bits = (rng.random(2000) < 0.5).astype(int).tolist()
    payload, out = _roundtrip_bits(bits, nbins=4)
    assert out == bits
    assert len(payload) > 2000 / 8 * 0.9


def test_fixed_bin_roundtrip():
    rng = np.random.default_rng(5)
    bits = (rng.random(3000) < 0.5).astype(int).tolist()
    enc = _ArithEncoder()
    for b in bits:
        enc.encode_fixed(b)
    payload = enc.flush()
    dec = _ArithDecoder(payload, 0)
    assert [dec.decode_fixed() for _ in bits] == bits


def test_stuffing_invariant_in_entropy_stream():
    """T.81 arithmetic marker protection: inside the generated stream every
    0xFF is followed by <= 0x8F (stuffed 7-bit byte) or by a real marker
    code — never by an un-escaped data byte that could alias a marker."""
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    payload = encode_jpeg_arith(img, quality=90)
    sos = payload.find(b"\xff\xda")
    seglen = int.from_bytes(payload[sos + 2 : sos + 4], "big")
    body = payload[sos + 2 + seglen : -2]  # entropy bytes up to EOI
    for i, b in enumerate(body[:-1]):
        if b == 0xFF:
            nxt = body[i + 1]
            assert nxt <= 0x8F or 0xD0 <= nxt <= 0xD7, (i, nxt)


@pytest.mark.parametrize(
    "shape,kwargs",
    [
        ((21, 13, 3), {}),
        ((48, 33, 3), {}),
        ((17, 29), {}),
        ((24, 24, 3), {"quality": 95}),
        ((40, 40, 3), {"restart_interval": 3}),
        ((56, 72, 3), {"quality": 60, "restart_interval": 5}),
    ],
)
def test_roundtrip_matches_huffman(shape, kwargs):
    """SOF9 and SOF0 encodings of one image share the quantized-coefficient
    front half, so their decodes must be bit-identical — this pins the
    entire Annex D/E/F path against the independently-tested Huffman path."""
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    pa = encode_jpeg_arith(img, **kwargs)
    ph = encode_jpeg(img, **kwargs)
    da, dh = decode_jpeg(pa), decode_jpeg(ph)
    assert np.array_equal(da, dh)
    assert len(pa) < len(ph)  # adaptive coding must beat static Huffman here


def test_roundtrip_12bit():
    """The arithmetic encoder writes 8-bit SOF9 frames; a 12-bit SOF9 header
    is refused with NotImplementedError."""
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, size=(19, 23, 3), dtype=np.uint8)
    pa = encode_jpeg_arith(img)
    marker, prec, h, w = sniff_jpeg_frame(pa)
    assert (marker, prec, h, w) == (0xC9, 8, 19, 23)
    deep = bytearray(pa)
    i = deep.find(b"\xff\xc9")
    deep[i + 4] = 12
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(deep))


def test_smooth_image_compresses_hard():
    """Gradients are the EOB/zero-run-heavy regime where adaptive contexts
    shine; the arithmetic stream should be less than half the Huffman one."""
    yy, xx = np.mgrid[0:40, 0:56]
    grad = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, (yy + xx) % 256], axis=2
    ).astype(np.uint8)
    pa = encode_jpeg_arith(grad)
    ph = encode_jpeg(grad)
    assert np.array_equal(decode_jpeg(pa), decode_jpeg(ph))
    assert len(pa) < 0.55 * len(ph)


def test_dc_only_matches_block_means():
    """The DC-only thumbnail decode takes sequential Huffman streams only:
    an arithmetic stream is refused with NotImplementedError."""
    rng = np.random.default_rng(33)
    img = rng.integers(0, 256, size=(40, 48, 3), dtype=np.uint8)
    pa = encode_jpeg_arith(img)
    with pytest.raises(NotImplementedError, match="DC-only"):
        decode_jpeg(pa, dc_only=True)


def test_truncated_stream_raises():
    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    pa = encode_jpeg_arith(img)
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(pa[: len(pa) // 2])


def test_progressive_arithmetic_still_a_seam():
    """SOF10 remains behind the documented codec-library seam."""
    rng = np.random.default_rng(43)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    pa = bytearray(encode_jpeg_arith(img))
    i = pa.find(b"\xff\xc9")
    pa[i + 1] = 0xCA
    with pytest.raises(NotImplementedError, match="SOF"):
        decode_jpeg(bytes(pa))


def test_marker_layout():
    img = np.full((8, 8, 3), 77, np.uint8)
    p = encode_jpeg_arith(img)
    assert p[:2] == b"\xff\xd8" and p[-2:] == b"\xff\xd9"
    assert b"\xff\xc9" in p  # SOF9
    assert b"\xff\xcc" in p  # DAC conditioning
    assert b"\xff\xc4" not in p  # no Huffman tables in an arithmetic stream


def test_foreign_sof9_gate():
    """ADVICE r08: cross-library SOF9 interop is unverified, so an
    arithmetic-coded stream NOT stamped with the encoder twin's COM
    signature must fail loudly (NotImplementedError), not risk a silent
    mis-decode."""
    import struct

    from covid19_spark.operators import jpeg_arith

    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    p = encode_jpeg_arith(img)
    sig_seg = (
        struct.pack(">HH", 0xFFFE, len(jpeg_arith.SOF9_SELF_SIGNATURE) + 2)
        + jpeg_arith.SOF9_SELF_SIGNATURE
    )
    assert sig_seg in p
    foreign = p.replace(sig_seg, b"")  # strip the provenance stamp
    with pytest.raises(NotImplementedError, match="third-party"):
        decode_jpeg(foreign)
