"""Arithmetic-coded JPEG (ITU-T T.81 Annexes D/E/F): SOF9 extended
sequential DCT, decoder + encoder twin.

This closes the last big named seam of the in-repo JPEG codec family
(baseline/extended SOF0/1, progressive SOF2, lossless SOF3 live in
``jpeg.py``): the QM adaptive binary arithmetic coder of T.81 Annex D with
the 113-state probability-estimation machine of Table D.3, driven by the
sequential-DCT statistical model of Annex F (conditioning contexts per
Figures F.19-F.24 — DC difference classified against the DAC L/U
thresholds, per-index AC EOB/zero/magnitude decisions, shared
magnitude-category exponent chains, equiprobable fixed bin for AC signs).

Register conventions. The coder is implemented with the LPS subinterval
ordered at the BOTTOM of the current interval (base unchanged on an MPS
with no exchange is the *top* path: base += Qe), conditional MPS/LPS
exchange when the MPS subinterval shrinks below Qe, estimation only on
renormalization, and A in (0x8000, 0x10000]. The encoder emits bits
MSB-first with direct carry propagation into the emitted-bit buffer (the
byte-stack/0xFF-run machinery of Figure D.8 is an in-place optimization of
exactly this), then packs bytes applying T.81's arithmetic-mode marker
protection: the byte following an emitted 0xFF carries only 7 data bits
with a forced-0 MSB, so any 0xFF followed by a value > 0x8F is a marker.
The decoder's byte feed mirrors that rule and supplies 1-bits once a
marker terminates the entropy segment (T.81 F.2.2.1 convention).

Conformance contract: every structural element (marker syntax incl. DAC,
Table D.3 state transitions, Annex F context layout: 64 DC / 256 AC
statistics bins, X1 at 20, AC exponent areas at 189/217, mantissa offset
+14, Kx split, restart reinitialization of coder AND statistics) follows
the public spec, and encoder/decoder round-trips are pinned bit-exact
against the Huffman modes of the same quantized coefficients in
tests/test_jpeg_arith.py. Cross-library bitstream interop is UNVERIFIED in
this container (no libjpeg and no external arithmetic-coded sample files
exist here) — the subinterval-ordering and byte-feed details above are the
parts a production deployment should differentially test against
libjpeg-turbo's jdarith before ingesting third-party SOF9 corpora.

Reference behavior anchor: the reference repo has no codecs; this module
belongs to the mandated beyond-reference multimodal layer (decode /
feature-extract over binary media columns feeding the Arrow-batched
``mapInPandas`` kernels in operators/multimodal.py).
"""

from __future__ import annotations

import struct

import numpy as np

#: COM-segment payload ``encode_jpeg_arith`` stamps into every stream it
#: produces. Streams carrying it are round-trip-verified by construction.
#: Cross-library SOF9 bitstream interop (LPS subinterval ordering, 0xFF
#: byte-feed convention) is verified only against this module's encoder
#: twin, with no reference decoder or third-party arithmetic-coded sample
#: to test against, so ``decode_jpeg`` refuses SOF9 streams that do not
#: carry the signature, failing loudly instead of risking a silent
#: mis-decode of a third-party corpus.
SOF9_SELF_SIGNATURE = b"covid19_spark qm/T.81-D v1"

#: T.81 Table D.3 — Qe value, Next_Index_MPS, Next_Index_LPS, Switch_MPS.
#: 113 adaptive states; index 113 is the frozen equiprobable bin used for
#: AC coefficient signs (never updated — NMPS/NLPS point at itself).
_QE_TAB = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

class _BitFeed:
    """Decoder-side entropy bit feed. Supplies bits MSB-first, applying the
    arithmetic-mode 0xFF rule: the byte after an 0xFF data byte carries 7
    bits (its MSB is a stuffed 0), and 0xFF followed by a value > 0x8F is a
    marker — from then on the feed supplies 1-bits (F.2.2.1)."""

    __slots__ = ("data", "pos", "acc", "n", "prev_ff", "marker", "marker_pos")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.prev_ff = False
        self.marker = False
        self.marker_pos: int | None = None

    def bit(self) -> int:
        if self.n == 0:
            if self.marker:
                return 1
            if self.pos >= len(self.data):
                self.marker = True
                return 1
            b = self.data[self.pos]
            if self.prev_ff:
                if b > 0x8F:
                    self.marker = True
                    self.marker_pos = self.pos - 1
                    return 1
                self.pos += 1
                self.acc = b & 0x7F
                self.n = 7
                self.prev_ff = False
            else:
                self.pos += 1
                self.acc = b
                self.n = 8
                self.prev_ff = b == 0xFF
        self.n -= 1
        return (self.acc >> self.n) & 1


class _ArithDecoder:
    """QM decoder: interval register A in (0x8000, 0x10000], code window V
    with invariant 0 <= V < A. LPS subinterval at the bottom [0, Qe); MPS
    at [Qe, A) with conditional exchange when A - Qe < Qe; probability
    estimation on renormalization only (Annex D structure)."""

    __slots__ = ("a", "v", "feed")

    def __init__(self, data: bytes, pos: int):
        self.feed = _BitFeed(data, pos)
        self.a = 0x10000
        v = 0
        for _ in range(16):
            v = (v << 1) | self.feed.bit()
        self.v = v

    def decode(self, stats: bytearray, i: int) -> int:
        s = stats[i]
        mps = s >> 7
        qe, nmps, nlps, sw = _QE_TAB[s & 0x7F]
        t = self.a - qe
        if self.v < qe:
            # bottom subinterval (size Qe)
            if t < qe:  # conditional exchange: bottom carries the MPS
                d = mps
                stats[i] = (mps << 7) | nmps
            else:
                d = mps ^ 1
                if sw:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            self.a = qe
        else:
            self.v -= qe
            self.a = t
            if t >= 0x8000:
                return mps
            if t < qe:  # conditional exchange: top carries the LPS
                d = mps ^ 1
                if sw:
                    mps ^= 1
                stats[i] = (mps << 7) | nlps
            else:
                d = mps
                stats[i] = (mps << 7) | nmps
        a, v, feed = self.a, self.v, self.feed
        while a < 0x8000:
            a <<= 1
            v = (v << 1) | feed.bit()
        self.a, self.v = a, v
        return d

    def decode_fixed(self) -> int:
        """Equiprobable non-adaptive bin (AC sign)."""
        qe = 0x5A1D
        t = self.a - qe
        if self.v < qe:
            d = 1 if t < qe else 0  # exchange mirrors the adaptive path
            d ^= 1  # bottom is LPS(=1) unless exchanged
            self.a = qe
        else:
            self.v -= qe
            self.a = t
            if t >= 0x8000:
                return 0
            d = 1 if t >= qe else 0
            d ^= 1
        a, v, feed = self.a, self.v, self.feed
        while a < 0x8000:
            a <<= 1
            v = (v << 1) | feed.bit()
        self.a, self.v = a, v
        return d


class _ArithEncoder:
    """QM encoder twin: emits bits MSB-first with direct carry propagation
    into the emitted-bit buffer; ``flush`` packs bytes with the stuffed-MSB
    0xFF rule the decoder's feed expects."""

    __slots__ = ("a", "c", "bits")

    def __init__(self):
        self.a = 0x10000
        self.c = 0
        self.bits: list[int] = []

    def _add(self, qe: int) -> None:
        self.c += qe
        if self.c >= 0x10000:
            # carry into already-emitted bits (the code value never reaches
            # 1.0, so the propagation always terminates at a 0 bit)
            i = len(self.bits) - 1
            while True:
                if i < 0:
                    raise AssertionError("arithmetic carry past stream start")
                self.bits[i] ^= 1
                if self.bits[i]:
                    break
                i -= 1
            self.c &= 0xFFFF

    def _renorm(self) -> None:
        while self.a < 0x8000:
            self.bits.append((self.c >> 15) & 1)
            self.c = (self.c << 1) & 0xFFFF
            self.a <<= 1

    def encode(self, stats: bytearray, i: int, bit: int) -> None:
        s = stats[i]
        mps = s >> 7
        qe, nmps, nlps, sw = _QE_TAB[s & 0x7F]
        t = self.a - qe
        if bit == mps:
            if t >= 0x8000:
                self._add(qe)
                self.a = t
                return
            if t < qe:  # exchange: MPS takes the bottom subinterval
                self.a = qe
            else:
                self._add(qe)
                self.a = t
            stats[i] = (mps << 7) | nmps
        else:
            if t < qe:  # exchange: LPS takes the top subinterval
                self._add(qe)
                self.a = t
            else:
                self.a = qe
            if sw:
                mps ^= 1
            stats[i] = (mps << 7) | nlps
        self._renorm()

    def encode_fixed(self, bit: int) -> None:
        qe = 0x5A1D
        t = self.a - qe
        if bit == 0:  # MPS of the frozen bin
            if t >= 0x8000:
                self._add(qe)
                self.a = t
                return
            if t < qe:
                self.a = qe
            else:
                self._add(qe)
                self.a = t
        else:
            if t < qe:
                self._add(qe)
                self.a = t
            else:
                self.a = qe
        self._renorm()

    def flush(self) -> bytes:
        for _ in range(16):
            self.bits.append((self.c >> 15) & 1)
            self.c = (self.c << 1) & 0xFFFF
        out = bytearray()
        bits = self.bits
        i, n = 0, len(bits)
        prev_ff = False
        while i < n:
            width = 7 if prev_ff else 8
            chunk = bits[i : i + width]
            i += width
            b = 0
            for x in chunk:
                b = (b << 1) | x
            b <<= width - len(chunk)  # 0-pad the final partial byte
            out.append(b)
            prev_ff = b == 0xFF
        return bytes(out)


def _find_rst(data: bytes, start: int, n: int) -> int:
    """Position just past the RSTn marker at/after ``start``. Data bytes can
    contain 0xFF only when followed by <= 0x8F (stuffed), so the first
    0xFF + 0xD0..0xD7 pair IS the marker."""
    p = max(start, 0)
    while p + 1 < len(data):
        if data[p] == 0xFF and 0xD0 <= data[p + 1] <= 0xD7:
            if data[p + 1] != 0xD0 + (n % 8):
                raise ValueError(
                    f"corrupt JPEG: expected RST{n % 8}, got {data[p + 1]:#x}"
                )
            return p + 2
        p += 1
    raise ValueError("corrupt JPEG: missing restart marker")


def _decode_dc(dec, stats, dc_ctx, si, L, U):
    """One DC difference (T.81 Figures F.19/F.21-F.24 decision sequence)."""
    st = dc_ctx[si]
    if dec.decode(stats, st) == 0:
        dc_ctx[si] = 0
        return 0
    sign = dec.decode(stats, st + 1)
    st2 = st + 2 + sign
    m = dec.decode(stats, st2)
    stx = st2
    if m:
        stx = 20  # X1 bin (Table F.4)
        while dec.decode(stats, stx):
            m <<= 1
            if m == 0x8000:
                raise ValueError("corrupt JPEG: arithmetic DC magnitude overflow")
            stx += 1
    # conditioning category for the NEXT block (F.1.4.4.1.2)
    if m > 1:
        dc_ctx[si] = 12 + 4 * sign
    else:
        dc_ctx[si] = 4 + 4 * sign
    v = m
    stm = stx + 14
    while m > 1:
        m >>= 1
        if dec.decode(stats, stm):
            v |= m
    v += 1
    return -v if sign else v


def _encode_dc(enc, stats, dc_ctx, si, diff):
    """Encode one DC difference under the default conditioning bounds
    (L = 0, U = 1: no "small" class, "large" above 1)."""
    st = dc_ctx[si]
    if diff == 0:
        enc.encode(stats, st, 0)
        dc_ctx[si] = 0
        return
    enc.encode(stats, st, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(stats, st + 1, sign)
    st2 = st + 2 + sign
    v = (-diff if sign else diff) - 1
    stx = st2
    if v == 0:
        enc.encode(stats, st2, 0)
        m = 0
    else:
        enc.encode(stats, st2, 1)
        cat = 1
        stx = 20
        while (cat << 1) <= v:
            enc.encode(stats, stx, 1)
            cat <<= 1
            stx += 1
        enc.encode(stats, stx, 0)
        m = cat
    if m > 1:
        dc_ctx[si] = 12 + 4 * sign
    else:
        dc_ctx[si] = 4 + 4 * sign
    stm = stx + 14
    mm = m
    while mm > 1:
        mm >>= 1
        enc.encode(stats, stm, 1 if v & mm else 0)


def _decode_ac_block(dec, stats, zz, kx):
    """AC coefficients of one block (F.20/F.21 sequence: per-index EOB
    decision, zero-run decisions, fixed-bin sign, shared magnitude areas at
    189 (k <= Kx) / 217 (k > Kx), mantissa at +14)."""
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return  # EOB
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("corrupt JPEG: arithmetic AC run past block end")
        sign = dec.decode_fixed()
        st += 2
        m = dec.decode(stats, st)
        stx = st
        if m:
            if dec.decode(stats, st):
                m = 2
                stx = 189 if k <= kx else 217
                while dec.decode(stats, stx):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError(
                            "corrupt JPEG: arithmetic AC magnitude overflow"
                        )
                    stx += 1
        v = m
        stm = stx + 14
        mm = m
        while mm > 1:
            mm >>= 1
            if dec.decode(stats, stm):
                v |= mm
        v += 1
        zz[k] = -v if sign else v
        k += 1


def _encode_ac_block(enc, stats, zz):
    """Encode one block's AC coefficients under the default conditioning
    bound Kx = 5."""
    nz = [k for k in range(1, 64) if zz[k]]
    kmax = nz[-1] if nz else 0
    k = 1
    while k <= kmax:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)  # not EOB
        while zz[k] == 0:
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        enc.encode(stats, st + 1, 1)
        coef = int(zz[k])
        sign = 1 if coef < 0 else 0
        enc.encode_fixed(sign)
        st += 2
        v = (-coef if sign else coef) - 1
        stx = st
        if v == 0:
            enc.encode(stats, st, 0)
            m = 0
        else:
            enc.encode(stats, st, 1)
            if v == 1:
                enc.encode(stats, st, 0)
                m = 1
            else:
                enc.encode(stats, st, 1)
                cat = 2
                stx = 189 if k <= 5 else 217
                while (cat << 1) <= v:
                    enc.encode(stats, stx, 1)
                    cat <<= 1
                    stx += 1
                enc.encode(stats, stx, 0)
                m = cat
        stm = stx + 14
        mm = m
        while mm > 1:
            mm >>= 1
            enc.encode(stats, stm, 1 if v & mm else 0)
        k += 1
    if kmax < 63:
        enc.encode(stats, 3 * (kmax + 1 - 1), 1)  # EOB


def _decode_arith_scan(
    data, pos, frame, scan, qtabs, dc_cond, ac_cond, restart_interval
):
    """Sequential SOF9 entropy scan → assembled RGB image. Mirrors the MCU
    geometry of the Huffman `_decode_scan` (interleaved vf×hf blocks per
    component per MCU, zigzag-indexed (rows, cols, 64) grids); statistics
    areas are per arithmetic-conditioning-table id (64 DC / 256 AC bins),
    restart intervals reinitialize the coder, the statistics, the DC
    predictors, and the DC conditioning contexts (F.1.4.x)."""
    from covid19_spark.operators.jpeg import _idct_and_assemble

    h0, w0 = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcus_x = -(-w0 // (8 * hmax))
    mcus_y = -(-h0 // (8 * vmax))
    grids = [
        np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32)
        for c, _, _ in scan
    ]
    dc_stats: dict[int, bytearray] = {}
    ac_stats: dict[int, bytearray] = {}
    for _, td, ta in scan:
        dc_stats.setdefault(td, bytearray(64))
        ac_stats.setdefault(ta, bytearray(256))
    dec = _ArithDecoder(data, pos)
    last_dc = [0] * len(scan)
    dc_ctx = [0] * len(scan)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                n = mcu_count // restart_interval - 1
                feed = dec.feed
                start = feed.marker_pos if feed.marker_pos is not None else feed.pos - 1
                pos2 = _find_rst(data, start, n)
                for s in dc_stats.values():
                    s[:] = bytes(len(s))
                for s in ac_stats.values():
                    s[:] = bytes(len(s))
                dec = _ArithDecoder(data, pos2)
                last_dc = [0] * len(scan)
                dc_ctx = [0] * len(scan)
            for si, (comp, td, ta) in enumerate(scan):
                L, U = dc_cond.get(td, (0, 1))
                kx = ac_cond.get(ta, 5)
                ds, as_ = dc_stats[td], ac_stats[ta]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        zz = grids[si][my * comp["v"] + by, mx * comp["h"] + bx]
                        last_dc[si] += _decode_dc(dec, ds, dc_ctx, si, L, U)
                        zz[0] = last_dc[si]
                        _decode_ac_block(dec, as_, zz, kx)
            mcu_count += 1
    comps = [comp for comp, _, _ in scan]
    return _idct_and_assemble(h0, w0, comps, grids, qtabs, hmax, vmax)


def encode_jpeg_arith(
    pixels: np.ndarray,
    quality: int = 85,
    restart_interval: int = 0,
) -> bytes:
    """Encode (H, W, 3) RGB or (H, W) grayscale uint8 samples as an
    arithmetic-coded 8-bit extended sequential JPEG (SOF9, 4:4:4) with
    default DAC conditioning (DC L=0/U=1, AC Kx=5). Shares the
    quantized-coefficient front half with ``encode_jpeg``, so the SOF9
    stream decodes bit-identically to the Huffman encodings of the same
    image — the round-trip twin that makes the Annex D/E/F decode path
    testable without external sample files."""
    from covid19_spark.operators.jpeg import ZIGZAG, _prepare_quantized_coefs

    gray, factors, qtabs, comp_coefs, h0, w0 = _prepare_quantized_coefs(
        pixels, quality, "444"
    )
    ncomp = 1 if gray else 3
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcus_y = -(-h0 // (8 * vmax))
    mcus_x = -(-w0 // (8 * hmax))

    def fresh_state():
        ds = {tid: bytearray(64) for tid in range(min(ncomp, 2))}
        as_ = {tid: bytearray(256) for tid in range(min(ncomp, 2))}
        return _ArithEncoder(), ds, as_, [0] * ncomp, [0] * ncomp

    enc, dstats, astats, pred, dc_ctx = fresh_state()
    entropy = bytearray()
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                entropy += enc.flush()
                n = mcu_count // restart_interval - 1
                entropy += bytes([0xFF, 0xD0 + (n % 8)])
                enc, dstats, astats, pred, dc_ctx = fresh_state()
            mcu_count += 1
            for ci, (hf, vf) in enumerate(factors):
                tsel = 0 if ci == 0 else 1
                for by in range(vf):
                    for bx in range(hf):
                        zz = comp_coefs[ci][my * vf + by, mx * hf + bx]
                        dc = int(zz[0])
                        _encode_dc(enc, dstats[tsel], dc_ctx, ci, dc - pred[ci])
                        pred[ci] = dc
                        _encode_ac_block(enc, astats[tsel], zz)
    entropy += enc.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # provenance stamp consumed by decode_jpeg's SOF9 interop gate (see
    # SOF9_SELF_SIGNATURE): marks the stream as produced by the verified
    # encoder twin
    out += seg(0xFFFE, SOF9_SELF_SIGNATURE)
    for tid, q in enumerate(qtabs[: 1 if gray else 2]):
        out += seg(0xFFDB, bytes([tid]) + bytes(int(x) for x in q[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h0, w0, ncomp)
    for ci in range(ncomp):
        hf, vf = factors[ci]
        sof += bytes([ci + 1, (hf << 4) | vf, 0 if ci == 0 else 1])
    out += seg(0xFFC9, sof)
    # DAC: explicit default conditioning for every table in use (DC value
    # packs U<<4 | L per B.2.4.3; AC value is Kx)
    dac = b""
    for tid in range(min(ncomp, 2)):
        dac += bytes([0x00 | tid, (1 << 4) | 0])
        dac += bytes([0x10 | tid, 5])
    out += seg(0xFFCC, dac)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tsel = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tsel << 4) | tsel])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)
