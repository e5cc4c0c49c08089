"""CCITT Group 4 (ITU-T T.6) codec tests — `operators/ccitt.py`.

Hand-derivable vectors first (the all-white image encodes to pure V0 bits;
a known single-transition line exercises horizontal mode with exact T.4
codes), then dense round-trip fuzzing across densities and shapes, makeup
chains past 2560, and the TIFF compression-4 integration (strips, tiles,
photometric-0 fax convention, decode_image dispatch).
"""

import numpy as np
import pytest

from covid19_spark.operators.ccitt import g4_decode, g4_encode


def test_all_white_is_pure_v0():
    # each all-white line codes as a single V0 bit "1" (b1 = a1 = w);
    # 8 lines -> 0b11111111 -> one 0xFF byte, then EOFB (two EOLs)
    assert g4_encode(np.zeros((8, 8), np.uint8)) == b"\xff\x00\x10\x01"
    # and decodes back from that byte alone
    assert np.array_equal(
        g4_decode(b"\xff", 8, 8), np.zeros((8, 8), np.uint8)
    )


def test_first_line_horizontal_mode_codes():
    """First line of [0,0,1,1,0,...]: reference is the imaginary white
    line, so b1=w makes vertical impossible (|a1-b1|>3 for small a1) and
    the coder must use horizontal mode: 001 + white-run(2) '0111' +
    black-run(2) '11'."""
    img = np.zeros((1, 20), np.uint8)
    img[0, 2:4] = 1
    enc = g4_encode(img)
    bits = "".join(f"{b:08b}" for b in enc)
    # H + white2 + black2, then the remaining white run to EOL is coded by
    # vertical against b1=w ... the leading 9 bits are fully determined:
    assert bits.startswith("001" + "0111" + "11"), bits
    assert np.array_equal(g4_decode(enc, 20, 1), img)


def test_roundtrip_fuzz():
    rng = np.random.default_rng(3)
    for _ in range(40):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 70))
        for density in (0.05, 0.5, 0.95):
            img = (rng.random((h, w)) < density).astype(np.uint8)
            assert np.array_equal(g4_decode(g4_encode(img), w, h), img)


def test_makeup_chains_and_structured():
    # structured, text-like content
    img = np.zeros((30, 200), np.uint8)
    img[5:8, 10:180] = 1
    img[12, ::3] = 1
    img[20:25, 50:55] = 1
    assert np.array_equal(g4_decode(g4_encode(img), 200, 30), img)
    # runs beyond one 2560-makeup chain
    img = np.zeros((3, 3000), np.uint8)
    img[1, 2900:] = 1
    assert np.array_equal(g4_decode(g4_encode(img), 3000, 3), img)
    img = np.ones((2, 2800), np.uint8)
    assert np.array_equal(g4_decode(g4_encode(img), 2800, 2), img)


def test_g4_compresses_documents():
    # a scanned-text-like page compresses far below the packed-bit size
    rng = np.random.default_rng(7)
    img = np.zeros((100, 800), np.uint8)
    for row in range(10, 90, 12):
        # "words": black runs of 8-40px separated by white gaps, repeated
        # identically for 6 scan rows (vertical coherence is what G4's 2D
        # modes exploit — real glyphs have it, noise doesn't)
        x = 40
        line = np.zeros(800, np.uint8)
        while x < 740:
            run = int(rng.integers(8, 40))
            line[x : x + run] = 1
            x += run + int(rng.integers(4, 20))
        img[row : row + 6] = line
    packed = 100 * ((800 + 7) // 8)
    assert len(g4_encode(img)) < packed / 4


def test_g4_rejects():
    with pytest.raises(ValueError, match="2D"):
        g4_encode(np.zeros((2, 2, 3), np.uint8))
    with pytest.raises(ValueError, match="0/1"):
        g4_encode(np.full((2, 2), 9, np.uint8))
    with pytest.raises(ValueError):
        g4_decode(b"\x00\x00", 50, 50)  # not enough data for 50 lines


def test_mh_1d_roundtrip_and_vectors():
    """TIFF compression 2 (CCITT 1D Modified Huffman): rows code
    independently as alternating T.4 runs starting white, byte-aligned per
    row. Hand vector: an all-white 8-wide row is white-run-8 '10011'
    padded to '10011000'."""
    from covid19_spark.operators.ccitt import mh_decode, mh_encode

    assert mh_encode(np.zeros((1, 8), np.uint8)) == bytes([0b10011000])
    # row starting black needs the zero-length white run '00110101'
    row = np.ones((1, 2), np.uint8)
    bits = "".join(f"{b:08b}" for b in mh_encode(row))
    assert bits.startswith("00110101" + "11")  # white0 + black2
    rng = np.random.default_rng(13)
    for _ in range(30):
        h, w = int(rng.integers(1, 30)), int(rng.integers(1, 80))
        for density in (0.1, 0.5, 0.9):
            img = (rng.random((h, w)) < density).astype(np.uint8)
            assert np.array_equal(mh_decode(mh_encode(img), w, h), img)
    wide = np.zeros((2, 3000), np.uint8)
    wide[0, 10:2990] = 1
    assert np.array_equal(mh_decode(mh_encode(wide), 3000, 2), wide)


def test_mh_in_tiff():
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(17)
    img = (rng.random((20, 90)) < 0.4).astype(np.uint8)
    got = decode_tiff(encode_tiff(img, compression="mh", rows_per_strip=6))
    assert np.array_equal(got[:, :, 0], (1 - img) * 255)
    with pytest.raises(ValueError, match="strips"):
        encode_tiff(img, compression="mh", tile=(8, 16))


def test_fax_tiles_are_refused():
    """CCITT-compressed tiles are outside the supported TIFF profile: a
    tiled file re-tagged as 1-bit G4 WhiteIsZero raises
    NotImplementedError."""
    from covid19_spark.operators.multimodal import decode_tiff
    from tests.media_gen import gray_tiff, retag_tiff

    tiled = gray_tiff(np.zeros((16, 16), np.uint8), tile=(8, 16))
    fax = retag_tiff(retag_tiff(retag_tiff(tiled, 259, 4), 258, 1), 262, 0)
    with pytest.raises(NotImplementedError, match="tiles"):
        decode_tiff(fax)


def test_g3_roundtrip_and_structure():
    """TIFF compression 3 (CCITT G3, T.4): EOL-framed lines; 2D mode tags
    every line 1D/2D after its EOL with a 1D line every k-th (error
    resilience). The stream must START with an EOL and an all-white image
    must code each line as EOL + white-run(w)."""
    from covid19_spark.operators.ccitt import g3_decode, g3_encode

    enc = g3_encode(np.zeros((2, 8), np.uint8))
    bits = "".join(f"{b:08b}" for b in enc)
    assert bits.startswith("000000000001" + "10011")  # EOL + white-8
    rng = np.random.default_rng(19)
    for two_d in (False, True):
        for _ in range(15):
            h, w = int(rng.integers(1, 30)), int(rng.integers(1, 80))
            img = (rng.random((h, w)) < 0.4).astype(np.uint8)
            dec = g3_decode(g3_encode(img, two_d=two_d), w, h, two_d=two_d)
            assert np.array_equal(dec, img), (two_d, h, w)


def test_g3_in_tiff():
    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(23)
    img = (rng.random((20, 90)) < 0.4).astype(np.uint8)
    for comp in ("g3", "g3_2d"):
        got = decode_tiff(encode_tiff(img, compression=comp, rows_per_strip=6))
        assert np.array_equal(got[:, :, 0], (1 - img) * 255), comp
    # every defined T4Options bit decodes: bit 1 (uncompressed mode
    # allowed) and bit 2 (fill bits) on a stream that carries neither is a
    # no-op, not a seam (the EOL scanner absorbs fill zeros; the run
    # decoder recognizes the T.4 enter codes natively)
    import struct

    p = bytearray(encode_tiff(img, compression="g3", rows_per_strip=99))
    i = p.find(struct.pack("<HHI", 292, 4, 1))
    assert i > 0
    for opts in (0x2, 0x4, 0x6):
        struct.pack_into("<I", p, i + 8, opts)
        got = decode_tiff(bytes(p))
        assert np.array_equal(got[:, :, 0], (1 - img) * 255), hex(opts)


def test_g4_in_tiff():
    """TIFF compression 4: strips through the G4 codec, with the fax
    photometric-0 convention (sample 1 = black ink decodes dark)."""
    from covid19_spark.operators.multimodal import (
        decode_image,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(9)
    img = (rng.random((30, 200)) < 0.3).astype(np.uint8)
    got = decode_tiff(encode_tiff(img, compression="g4", rows_per_strip=7))
    assert np.array_equal(got[:, :, 0], (1 - img) * 255)
    got = decode_image(encode_tiff(img, compression="g4", rows_per_strip=999))
    assert np.array_equal(got[:, :, 0], (1 - img) * 255)
    with pytest.raises(ValueError, match="bilevel"):
        encode_tiff(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8), compression="g4")


def test_t4_uncompressed_mode_roundtrip_and_escape():
    """T.4 §4.2.1.3.5 uncompressed mode (VERDICT r08 task #7): noisy lines
    escape to literal pixel-pattern coding (strictly smaller stream), the
    stream still decodes bit-exactly, and smooth inputs keep normal coding
    (byte-identical output with and without the option)."""
    from covid19_spark.operators.ccitt import g3_decode, g3_encode

    rng = np.random.default_rng(5)
    noisy = rng.integers(0, 2, size=(23, 61), dtype=np.uint8)
    smooth = np.zeros((23, 61), np.uint8)
    smooth[:, 20:40] = 1
    plain = g3_encode(noisy)
    unc = g3_encode(noisy, uncompressed=True)
    assert len(unc) < len(plain)  # the escape pays off on noise
    assert np.array_equal(g3_decode(unc, 61, 23), noisy)
    assert g3_encode(smooth, uncompressed=True) == g3_encode(smooth)
    # uncompressed mode on 2D-coded lines is outside the supported profile
    with pytest.raises(ValueError, match="1D"):
        g3_encode(noisy, two_d=True, uncompressed=True)
    eol_2d_enter = "000000000001" + "0" + "0000001111"
    stream = int(eol_2d_enter.ljust(24, "0"), 2).to_bytes(3, "big")
    with pytest.raises(NotImplementedError, match="2D"):
        g3_decode(stream, 8, 1, two_d=True)


def test_t4_uncompressed_hand_vector():
    """Pin the literal code table against a hand-derived bitstream: pattern
    codes (z<=4 white + black, 000001 = five white), exit 000000+0^n+1+tag.
    Row 01000001000 -> '01' '000001' '1' exit(3 zeros) tag 0."""
    from covid19_spark.operators.ccitt import (
        _BitReader,
        _BitWriter,
        _decode_uncompressed,
        _emit_uncompressed,
    )

    row = np.array([0, 1, 0, 0, 0, 0, 0, 1, 0, 0, 0], np.uint8)
    bw = _BitWriter()
    _emit_uncompressed(bw, row)
    bits = "".join(format(b, "08b") for b in bw.finish())
    assert bits.startswith("01" + "000001" + "1" + "000000000" + "1" + "0")
    out = np.zeros(11, np.uint8)
    pos, color = _decode_uncompressed(_BitReader(bw.finish()), out, 0, 11)
    assert (pos, color) == (11, 0) and np.array_equal(out, row)


def test_t4_uncompressed_in_tiff():
    """compression='g3_uncomp' writes T4Options=2 (bit 1: uncompressed mode
    in use) and round-trips through decode_tiff; a stream with BOTH fill
    bits tolerated and the uncompressed option set is not a seam anymore."""
    import struct

    from covid19_spark.operators.multimodal import decode_tiff, encode_tiff

    rng = np.random.default_rng(11)
    ink = rng.integers(0, 2, size=(19, 43), dtype=np.uint8)
    p = encode_tiff(ink, compression="g3_uncomp", rows_per_strip=6)
    assert struct.pack("<HHI", 292, 4, 1) + struct.pack("<I", 2) in p
    assert np.array_equal(decode_tiff(p)[:, :, 0], (1 - ink) * 255)
