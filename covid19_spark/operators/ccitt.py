"""CCITT fax codecs for bilevel images: Group 4 (ITU-T T.6 MMR), Group 3
(ITU-T T.4, EOL-framed 1D/2D), and 1D Modified Huffman.

These are THE compressions of scanned-document / fax TIFF corpora (TIFF
6.0 compressions 4, 3 and 2). Pure stdlib+numpy, implemented from the
public specs:

- every line is coded relative to the previous (reference) line's changing
  elements with three modes — pass (``0001``), horizontal (``001`` + two
  T.4 run-length Huffman codes), vertical (|a1-b1| ≤ 3, codes ``1``/
  ``011``/``010``/``000011``/``000010``/``0000011``/``0000010``);
- run lengths use ITU-T T.4 §2.3.1.2's white/black terminating (0-63) and
  makeup (64-1728) tables plus the shared extended makeup codes
  (1792-2560, T.4 Table 4) for either colour; runs beyond 2560+63 chain
  2560-makeups;
- the first line's reference is the imaginary all-white line; there are no
  EOL codes inside a G4 block (T.6 §4.2); an optional EOFB terminator and
  byte padding trail the data.

Sample convention matches TIFF fax practice: 0 = white, 1 = black
(photometric 0, WhiteIsZero). Every encode/decode pair round-trips
bit-exactly. `operators/multimodal.decode_tiff` dispatches compression 4
(``g4_*``), 3 (``g3_*`` — EOL-framed lines, T4Options bit 0 selecting 2D
coding with a 1D line every k-th for error resilience, RTC trailer), and
2 (``mh_*`` — independent byte-aligned 1D rows). T.4's uncompressed-mode
extension (T4Options bit 1, §4.2.1.3.5) is supported on 1D-coded lines
both ways: the decoders accept the 1D enter code, literal pixel patterns
and exit tags, and ``g3_encode`` escapes to literal coding per line when
run coding would expand (``uncompressed=True``). The 2D-line enter code
raises NotImplementedError.

Bit order is MSB-first within each byte (TIFF FillOrder 1, the default).
"""

from __future__ import annotations

import numpy as np

# ITU-T T.4 Table 2 — white run lengths: run -> (code_bits_string)
_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
}
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100",
    1024: "011010101", 1088: "011010110", 1152: "011010111",
    1216: "011011000", 1280: "011011001", 1344: "011011010",
    1408: "011011011", 1472: "010011000", 1536: "010011001",
    1600: "010011010", 1664: "011000", 1728: "010011011",
}
# ITU-T T.4 Table 3 — black run lengths
_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
}
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}
# T.4 Table 4 — extended makeup, shared by both colours
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

# decode maps: code-string -> (value, is_terminating)
_RUN_DECODE = [  # index by colour: 0 white, 1 black
    {
        **{c: (r, True) for r, c in _WHITE_TERM.items()},
        **{c: (r, False) for r, c in _WHITE_MAKEUP.items()},
        **{c: (r, False) for r, c in _EXT_MAKEUP.items()},
    },
    {
        **{c: (r, True) for r, c in _BLACK_TERM.items()},
        **{c: (r, False) for r, c in _BLACK_MAKEUP.items()},
        **{c: (r, False) for r, c in _EXT_MAKEUP.items()},
    },
]
_RUN_MAX_BITS = 13

_MODE_CODES = {
    "1": ("V", 0), "011": ("V", 1), "010": ("V", -1),
    "000011": ("V", 2), "000010": ("V", -2),
    "0000011": ("V", 3), "0000010": ("V", -3),
    "001": ("H", None), "0001": ("P", None),
    # T.4 §4.2.1.3.5 2D extension code 0000001xxx, xxx=111: enter
    # uncompressed mode (prefix-free vs the V3 codes 0000011/0000010) —
    # recognized so it is refused, not misread as a corrupt code
    "0000001111": ("U", None),
}
_MODE_MAX_BITS = 10

#: 1D extension code 000000001xxx, xxx=111 — enter uncompressed mode from
#: the 1D (MH-run) coding scheme
_UNCOMP_ENTER_1D = "000000001111"


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: str) -> None:
        for ch in code:
            self.acc = (self.acc << 1) | (ch == "1")
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.n = 0

    def finish(self) -> bytes:
        if self.n:
            self.out.append(self.acc << (8 - self.n))
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read_bit(self) -> int:
        byte = self.pos >> 3
        if byte >= len(self.data):
            raise ValueError("corrupt G4: bit stream exhausted")
        bit = (self.data[byte] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return bit


def _changes(line: "np.ndarray") -> list:
    """Positions where the colour changes, line implicitly starting white."""
    prev = np.concatenate(([0], line[:-1]))
    return np.nonzero(line != prev)[0].tolist()


def _b1_b2(ref_changes: list, a0: int, color: int, w: int) -> "tuple[int, int]":
    """b1 = first changing element of the reference line right of a0 with a
    colour transition TO the opposite of the current colour (changes at
    even indices flip white→black, odd flip black→white, since every line
    notionally starts white); b2 = the next change after b1."""
    from bisect import bisect_right

    i = bisect_right(ref_changes, a0)
    if i % 2 != color:
        i += 1
    b1 = ref_changes[i] if i < len(ref_changes) else w
    b2 = ref_changes[i + 1] if i + 1 < len(ref_changes) else w
    return b1, b2


def _emit_run(bw: _BitWriter, run: int, color: int) -> None:
    makeup = _WHITE_MAKEUP if color == 0 else _BLACK_MAKEUP
    term = _WHITE_TERM if color == 0 else _BLACK_TERM
    while run >= 2624:
        bw.put(_EXT_MAKEUP[2560])
        run -= 2560
    if run >= 64:
        m = min((run // 64) * 64, 2560)
        bw.put(makeup[m] if m <= 1728 else _EXT_MAKEUP[m])
        run -= m
    bw.put(term[run])


def _read_run(br: _BitReader, color: int, allow_enter: bool = False) -> "int | None":
    table = _RUN_DECODE[color]
    total = 0
    while True:
        code = ""
        while len(code) <= _RUN_MAX_BITS:
            code += "1" if br.read_bit() else "0"
            if code in table:
                break
            if allow_enter and total == 0 and code == _UNCOMP_ENTER_1D:
                return None  # 1D extension: enter uncompressed mode
        else:
            raise ValueError("corrupt G4: bad run-length code")
        val, terminating = table[code]
        total += val
        if terminating:
            return total


def _decode_uncompressed(br: _BitReader, out_row: "np.ndarray", pos: int,
                         width: int) -> "tuple[int, int]":
    """T.4 §4.2.1.3.5 uncompressed mode: literal pixel patterns until the
    exit code. Codes by leading-zero count z before the next 1 bit:
    z ≤ 4 → z white pixels + one black; z = 5 → five white pixels
    (mode continues); 6 ≤ z ≤ 10 → exit with z-6 trailing white pixels
    followed by one tag bit giving the colour the normal coding resumes
    with. Returns (position after the literal pixels, resume colour)."""
    while True:
        zeros = 0
        while not br.read_bit():
            zeros += 1
            if zeros > 10:
                raise ValueError("corrupt G3/G4: bad uncompressed code")
        if zeros <= 4:
            if pos + zeros + 1 > width:
                raise ValueError("corrupt G3/G4: uncompressed overruns line")
            out_row[pos + zeros] = 1
            pos += zeros + 1
        elif zeros == 5:
            if pos + 5 > width:
                raise ValueError("corrupt G3/G4: uncompressed overruns line")
            pos += 5
        else:
            n = zeros - 6
            if pos + n > width:
                raise ValueError("corrupt G3/G4: uncompressed overruns line")
            pos += n
            return pos, br.read_bit()


def _emit_uncompressed(bw: _BitWriter, row: "np.ndarray") -> None:
    """Literal-code a whole line in uncompressed mode (enter code NOT
    included) and exit with white as the next color. White runs longer than the
    4-white headroom of the pattern/exit codes chunk through the
    five-white code 000001."""
    zeros = 0
    for px in row:
        if px:
            while zeros > 5:
                bw.put("000001")
                zeros -= 5
            if zeros == 5:
                bw.put("000001")
                zeros = 0
            bw.put("0" * zeros + "1")
            zeros = 0
        else:
            zeros += 1
    while zeros > 4:
        bw.put("000001")
        zeros -= 5
    bw.put("000000" + "0" * zeros + "1")
    bw.put("0")


def g4_encode(bitmap: "np.ndarray") -> bytes:
    """Encode a (H, W) array of 0/1 samples (0 = white) as a T.6 G4 block
    ending in EOFB.
    Deterministic; vertical mode is preferred whenever |a1-b1| ≤ 3 (the
    spec's own coding procedure, T.6 §4.2.1.3)."""
    arr = np.asarray(bitmap)
    if arr.ndim != 2:
        raise ValueError("G4 encodes 2D bilevel arrays")
    if arr.size and int(arr.max()) > 1:
        raise ValueError("G4 samples must be 0/1")
    h, w = arr.shape
    bw = _BitWriter()
    ref_changes: list = []  # imaginary all-white reference line
    for y in range(h):
        _encode_2d_line(bw, arr[y], ref_changes)
        ref_changes = _changes(arr[y])
    bw.put("000000000001" * 2)  # EOFB = two EOLs (T.6 §4.2.2)
    return bw.finish()


def mh_encode(bitmap: "np.ndarray") -> bytes:
    """TIFF compression 2 — CCITT Group 3 one-dimensional Modified Huffman
    (TIFF 6.0 §10): each row codes independently as alternating white/black
    T.4 run lengths, starting with a (possibly zero-length) white run, no
    EOL codes, and each row's coding begins on a byte boundary."""
    arr = np.asarray(bitmap)
    if arr.ndim != 2:
        raise ValueError("MH encodes 2D bilevel arrays")
    if arr.size and int(arr.max()) > 1:
        raise ValueError("MH samples must be 0/1")
    out = bytearray()
    for row in arr:
        bw = _BitWriter()
        _encode_1d_line(bw, row)
        out += bw.finish()  # byte-align per row
    return bytes(out)


def mh_decode(data: bytes, width: int, height: int) -> "np.ndarray":
    """Decode TIFF compression-2 MH rows (byte-aligned per row) to a
    (height, width) uint8 array of 0/1 samples (0 = white)."""
    if width <= 0 or height <= 0:
        raise ValueError("MH dimensions must be positive")
    out = np.zeros((height, width), np.uint8)
    br = _BitReader(data)
    for y in range(height):
        _decode_1d_line(br, out[y], width)
        br.pos = (br.pos + 7) & ~7  # each row begins on a byte boundary
    return out


_EOL = "000000000001"


def _encode_1d_line(bw: _BitWriter, row: "np.ndarray") -> None:
    changes = _changes(row) + [len(row)]
    pos, color = 0, 0
    for c in changes:
        _emit_run(bw, c - pos, color)
        pos, color = c, color ^ 1


def _decode_1d_line(br: _BitReader, out_row: "np.ndarray", width: int) -> None:
    pos, color = 0, 0
    while pos < width:
        run = _read_run(br, color, allow_enter=True)
        if run is None:  # uncompressed mode until its exit code
            pos, color = _decode_uncompressed(br, out_row, pos, width)
            continue
        if pos + run > width:
            raise ValueError("corrupt G3: run overruns line")
        if color:
            out_row[pos : pos + run] = 1
        pos += run
        color ^= 1


def _encode_2d_line(bw: _BitWriter, line: "np.ndarray", ref_changes: list) -> None:
    """One T.4/T.6 2D-coded line against the reference line's changing
    elements — the shared kernel of G4 and G3-2D."""
    from bisect import bisect_right

    w = len(line)
    cur_changes = _changes(line)
    a0, color = -1, 0
    while a0 < w:
        i = bisect_right(cur_changes, a0)
        a1 = cur_changes[i] if i < len(cur_changes) else w
        b1, b2 = _b1_b2(ref_changes, a0, color, w)
        if b2 < a1:
            bw.put("0001")  # pass
            a0 = b2
        elif abs(a1 - b1) <= 3:
            delta = a1 - b1
            bw.put({0: "1", 1: "011", -1: "010", 2: "000011",
                    -2: "000010", 3: "0000011", -3: "0000010"}[delta])
            a0 = a1
            color ^= 1
        else:
            a2 = cur_changes[i + 1] if i + 1 < len(cur_changes) else w
            bw.put("001")  # horizontal
            start = max(a0, 0)
            _emit_run(bw, a1 - start, color)
            _emit_run(bw, a2 - a1, color ^ 1)
            a0 = a2


def _decode_2d_line(br: _BitReader, out_row: "np.ndarray", ref_changes: list,
                    width: int) -> None:
    a0, color = -1, 0
    while a0 < width:
        code = ""
        while len(code) <= _MODE_MAX_BITS:
            code += "1" if br.read_bit() else "0"
            if code in _MODE_CODES:
                break
        else:
            raise ValueError("corrupt G3/G4: bad mode code")
        mode, delta = _MODE_CODES[code]
        if mode == "U":
            raise NotImplementedError("uncompressed mode in 2D-coded lines not supported")
        b1, b2 = _b1_b2(ref_changes, a0, color, width)
        if mode == "P":
            if color:
                out_row[max(a0, 0) : b2] = 1
            a0 = b2
        elif mode == "V":
            a1 = b1 + delta
            if not (0 <= a1 <= width):
                raise ValueError("corrupt G3/G4: vertical move out of line")
            if color:
                out_row[max(a0, 0) : a1] = 1
            a0 = a1
            color ^= 1
        else:
            start = max(a0, 0)
            r1 = _read_run(br, color)
            r2 = _read_run(br, color ^ 1)
            a1 = start + r1
            a2 = a1 + r2
            if a2 > width:
                raise ValueError("corrupt G3/G4: horizontal runs overrun line")
            if color:
                out_row[start:a1] = 1
            else:
                out_row[a1:a2] = 1
            a0 = a2


def g3_encode(
    bitmap: "np.ndarray", two_d: bool = False, uncompressed: bool = False,
) -> bytes:
    """TIFF compression 3 — CCITT Group 3 (ITU-T T.4) with EOL codes.
    1D: every line is EOL + MH runs. 2D (``two_d=True``, T4Options bit 0):
    every EOL carries a tag bit — 1 selects a 1D line, 0 a 2D line coded
    against the previous line; every second line is 1D (the fax error-
    resilience ladder, T.4 §4.2.2). Ends with RTC (6 EOLs).

    ``uncompressed=True`` (T4Options bit 1, §4.2.1.3.5; 1D coding only): a
    line whose run coding would be LONGER than its literal form is written
    in uncompressed mode instead (enter extension code + pixel-pattern
    codes + exit) — the spec's escape for noisy lines where MH coding
    expands. Deterministic: strictly-shorter wins, ties keep normal
    coding."""
    arr = np.asarray(bitmap)
    if arr.ndim != 2:
        raise ValueError("G3 encodes 2D bilevel arrays")
    if arr.size and int(arr.max()) > 1:
        raise ValueError("G3 samples must be 0/1")
    if two_d and uncompressed:
        raise ValueError("uncompressed mode is written on 1D-coded G3 only")
    bw = _BitWriter()
    prev: "np.ndarray | None" = None

    def line_bits(row, one_d: bool) -> str:
        tmp = _BitWriter()
        if one_d:
            _encode_1d_line(tmp, row)
        else:
            _encode_2d_line(tmp, row, _changes(prev))
        coded = "".join(
            format(b, "08b") for b in tmp.out
        ) + (format(tmp.acc, f"0{tmp.n}b") if tmp.n else "")
        if not uncompressed:
            return coded
        tmp2 = _BitWriter()
        tmp2.put(_UNCOMP_ENTER_1D)
        _emit_uncompressed(tmp2, row)
        literal = "".join(
            format(b, "08b") for b in tmp2.out
        ) + (format(tmp2.acc, f"0{tmp2.n}b") if tmp2.n else "")
        return literal if len(literal) < len(coded) else coded

    for y, row in enumerate(arr):
        bw.put(_EOL)
        if two_d:
            one_d = (y % 2) == 0
            bw.put("1" if one_d else "0")
            bw.put(line_bits(row, one_d))
        else:
            bw.put(line_bits(row, True))
        prev = row
    for _ in range(6):  # RTC
        bw.put(_EOL)
        if two_d:
            bw.put("1")
    return bw.finish()


def g3_decode(data: bytes, width: int, height: int, two_d: bool = False) -> "np.ndarray":
    """Decode a T.4 G3 stream (EOL-framed; ``two_d`` per T4Options bit 0)
    to (height, width) 0/1 samples. Fill bits before each EOL are consumed
    by the variable-length EOL scan; trailing RTC is ignored."""
    if width <= 0 or height <= 0:
        raise ValueError("G3 dimensions must be positive")
    br = _BitReader(data)
    out = np.zeros((height, width), np.uint8)
    prev_changes: list = []
    for y in range(height):
        # scan to the next EOL: zeros (>= 11) then a 1; leading fill bits
        # are zeros too, so just count zeros until the closing 1
        zeros = 0
        while True:
            if br.read_bit():
                if zeros >= 11:
                    break
                raise ValueError("corrupt G3: expected EOL")
            zeros += 1
        if two_d:
            one_d = br.read_bit() == 1
        else:
            one_d = True
        if one_d:
            _decode_1d_line(br, out[y], width)
        else:
            _decode_2d_line(br, out[y], prev_changes, width)
        prev_changes = _changes(out[y])
    return out


def g4_decode(data: bytes, width: int, height: int) -> "np.ndarray":
    """Decode a T.6 G4 block to a (height, width) uint8 array of 0/1
    samples (0 = white). Trailing EOFB/padding bits are ignored."""
    if width <= 0 or height <= 0:
        raise ValueError("G4 dimensions must be positive")
    br = _BitReader(data)
    out = np.zeros((height, width), np.uint8)
    ref_changes: list = []
    for y in range(height):
        _decode_2d_line(br, out[y], ref_changes, width)
        # the next line's reference changes come from the DECODED pixels —
        # simpler and safer than tracking changing elements incrementally
        ref_changes = _changes(out[y])
    return out
