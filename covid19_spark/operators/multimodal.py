"""Multimodal (binary) column plumbing: images/audio/video as opaque BINARY
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The package ships no codec libraries, so the REAL decode paths are the
formats a pure-stdlib reader can handle, each trimmed to the variants the
registered queries feed it: uncompressed 24-bpp BMP, 8-bit truecolour PNG
(the chart format the reference serves, covid19-visualizer
Visualizer.java:469,520 / ChartRequest.java:23), baseline + progressive +
lossless-SOF3 JPEG (operators/jpeg.py) plus arithmetic-coded JPEG — the
T.81 Annex D/E/F decoder+encoder in operators/jpeg_arith.py
(oracle-green `jpeg_entropy_matrix`) — baseline TIFF (incl. tiled, old-
and new-style JPEG-in-TIFF and CCITT G3/G4), still GIF, RIFF/WAVE audio
(PCM 16/24/32-bit + IEEE float), and Motion-JPEG AVI video (RIFF
container walk + per-frame JPEG decode, real frame sampling). Every other
variant of these formats, compressed audio in WAV (G.711, ADPCM, MP3) and
inter-frame video codecs (H.264/VP9) raise ``NotImplementedError``; a
permissive-mode kernel reports them as ``unsupported`` rows. Every public
kernel decodes: there is no fake path. They all run one per-blob loop
(``_map_blobs``) that owns the fail/permissive policy.

Scale design: media blobs dominate bytes, not rows — so (1) metadata-only
predicates must prune *before* any decode (keep metadata in top-level columns,
never inside the blob), (2) decode runs in ``mapInPandas`` so one Python
worker handles an Arrow batch at a time with bounded memory
(``maxRecordsPerBatch`` sized to blob size), and (3) outputs carry fixed-size
feature vectors, not re-encoded media, to keep the shuffle small.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, mime string, width int, height int, n_bytes long, "
    "feature array<float>"
)


def encode_bmp(pixels: "np.ndarray") -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an uncompressed 24-bpp
    bottom-up BMP (BITMAPINFOHEADER). Pure numpy/struct — used by tests and
    the demo media synthesizer to produce REAL decodable payloads."""
    import struct

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # bottom-up rows, BGR channel order, 4-byte row padding
    body = b"".join(
        arr[r, :, ::-1].tobytes() + b"\x00" * pad for r in range(h - 1, -1, -1)
    )
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + body


def decode_bmp(payload: bytes) -> "np.ndarray":
    """Decode an uncompressed 24-bpp bottom-up BMP (the one format a
    pure-numpy reader can handle without a codec library) to an (H, W, 3)
    uint8 RGB array, honouring 4-byte row padding; rejects top-down,
    compressed and paletted variants."""
    import struct

    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs not supported")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bpp BMP supported (got bpp={bpp}, "
            f"compression={compression})"
        )
    if h < 0:
        raise NotImplementedError("top-down BMPs not supported")
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=pixel_offset)
    rows = data.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    return rows[::-1, :, ::-1].copy()  # bottom-up rows, BGR -> RGB


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth_predict(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): pick left/up/upper-left whichever
    is closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: "np.ndarray", filter_type: int = 0) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an 8-bit truecolour PNG
    (colour type 2) — pure stdlib (struct + zlib), no codec library. Any
    other dtype or shape raises: a wider sample would wrap silently.
    ``filter_type`` applies one of the five PNG scanline filters to every
    row (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth), so the queries and tests
    exercise every unfilter path in ``decode_png``; 0 is the fastest to
    write."""
    import struct
    import zlib

    arr = np.asarray(pixels)
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(
            f"encode_png takes (H, W, 3) uint8 pixels (got {arr.dtype} {arr.shape})"
        )
    h, w, nch = arr.shape
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"invalid PNG filter type {filter_type}")

    def left_of(cur: "np.ndarray") -> "np.ndarray":
        return np.concatenate([np.zeros(nch, dtype=np.int32), cur[:-nch]])

    lines = []
    prev = np.zeros(w * nch, dtype=np.int32)
    for r in range(h):
        cur = arr[r].reshape(-1).astype(np.int32)
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left_of(cur)
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - (left_of(cur) + prev) // 2
        else:  # Paeth — inherently sequential in the spec's byte order
            lo, filt = left_of(cur), np.empty_like(cur)
            lo_prev = left_of(prev)
            for i in range(len(cur)):
                filt[i] = cur[i] - _paeth_predict(int(lo[i]), int(prev[i]), int(lo_prev[i]))
        lines.append(bytes([filter_type]) + (filt & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    raw = b"".join(lines)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, width: int, height: int) -> "np.ndarray":
    """Unfilter the scanlines of an 8-bit RGB image → (height, width, 3)
    uint8. Filter byte offsets use bpp = 3, the spec's per-pixel byte
    count."""
    bpp = 3
    stride = width * 3
    if (stride + 1) * height != len(raw):
        raise ValueError("PNG pixel data length mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    rpos = 0
    for r in range(height):
        ftype = raw[rpos]
        line = np.frombuffer(raw, np.uint8, stride, rpos + 1).astype(np.int32)
        rpos += stride + 1
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up — vectorized (no within-row dependency)
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth — sequential in-row
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + int(prev[i])) // 2
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    pred = _paeth_predict(a, int(prev[i]), c)
                cur[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG scanline filter {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(height, width, 3)


def decode_png(payload: bytes) -> "np.ndarray":
    """Decode an 8-bit truecolour (colour type 2), non-interlaced PNG to an
    (H, W, 3) uint8 RGB array — pure stdlib (struct + zlib + numpy), the
    format the reference actually serves for charts
    (covid19-visualizer Visualizer.java:469,520 requests "png" charts
    (ChartRequest.java:23)). All five scanline filters, CRC-validated
    chunks, multi-IDAT streams. Gray, palette and alpha colour types, other
    bit depths and Adam7 interlace raise NotImplementedError."""
    import struct
    import zlib

    if payload is None or len(payload) < 8 or payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError(f"invalid PNG compression/filter method ({comp}/{filt})")
    legal_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
    if ctype not in legal_depths or depth not in legal_depths[ctype]:
        raise ValueError(
            f"invalid PNG depth/color-type combination (depth={depth}, color type={ctype})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if (ctype, depth, interlace) != (2, 8, 0):
        raise NotImplementedError(
            f"only 8-bit truecolour non-interlaced PNG supported (got colour "
            f"type {ctype}, depth {depth}, interlace {interlace})"
        )
    return _png_unfilter(zlib.decompress(b"".join(idat)), w, h)


# --- GIF (GIF87a/GIF89a) — pure-stdlib LZW codec -----------------------------
#
# Web crawls are full of GIFs, so the multimodal decode path covers the
# still-image core for real: logical screen + global colour table, the
# first image drawn onto the background, and the variable-code-size LZW
# decompressor — straight from the public GIF89a specification, no
# external tables. Extension blocks, local colour tables and interlaced
# images raise NotImplementedError. `encode_gif` is the deterministic
# round-trip twin (exact for images with <= 256 distinct colors, which is
# all a GIF can hold).


def decode_gif(payload: bytes) -> "np.ndarray":
    """First image of a GIF, drawn onto the logical screen filled with the
    background colour, as (H, W, 3) uint8 RGB. Raises ValueError on corrupt
    streams."""
    import struct

    if payload is None or len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h = struct.unpack_from("<HH", payload, 6)
    packed, bg_idx, _ar = payload[10], payload[11], payload[12]
    pos = 13
    if not packed & 0x80:
        raise NotImplementedError("GIF without a global color table not supported")
    n = 2 << (packed & 0x07)
    gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
    pos += 3 * n
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if bg_idx < len(gct):
        canvas[:, :] = gct[bg_idx]
    if pos >= len(payload):
        raise ValueError("corrupt GIF: missing trailer")
    b = payload[pos]
    pos += 1
    if b == 0x21:
        raise NotImplementedError("GIF extension blocks not supported")
    if b == 0x3B:
        raise ValueError("corrupt GIF: no image data")
    if b != 0x2C:  # image descriptor is the only other block type
        raise ValueError(f"corrupt GIF: unknown block {b:#x}")
    if pos + 9 > len(payload):
        raise ValueError("corrupt GIF: truncated image descriptor")
    ix, iy, iw, ih = struct.unpack_from("<HHHH", payload, pos)
    ipacked = payload[pos + 8]
    pos += 9
    if ix + iw > w or iy + ih > h or iw == 0 or ih == 0:
        raise ValueError("corrupt GIF: image rect outside logical screen")
    if ipacked & 0xC0:
        raise NotImplementedError("GIF local color tables and interlace not supported")
    if pos >= len(payload):
        raise ValueError("corrupt GIF: truncated image data")
    min_code = payload[pos]
    pos += 1
    if not 2 <= min_code <= 11:
        raise ValueError(f"corrupt GIF: LZW minimum code size {min_code}")
    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("corrupt GIF: truncated image data")
        ln = payload[pos]
        pos += 1
        if ln == 0:
            break
        data += payload[pos : pos + ln]
        pos += ln
        if pos > len(payload):
            raise ValueError("corrupt GIF: truncated image data")
    indices = _gif_lzw_decode(bytes(data), min_code, iw * ih)
    idx = np.frombuffer(indices, np.uint8).reshape(ih, iw)
    if idx.max(initial=0) >= len(gct):
        raise ValueError("corrupt GIF: pixel index outside color table")
    canvas[iy : iy + ih, ix : ix + iw] = gct[idx]
    return canvas


def _gif_lzw_decode(data: bytes, min_code: int, expect: int) -> bytes:
    """GIF variable-code-size LZW: codes start at min_code+1 bits, the table
    grows to 4095 entries, CLEAR resets, EOI terminates. Little-endian bit
    packing per the spec."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    di = 0
    width = min_code + 1
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    next_code = eoi + 1  # the ENCODER's next free slot, tracked 1:1 (the
    # string for it lands one code later — classic LZW lag — but the WIDTH
    # follows this counter, not the lagged table length)
    prev = None
    while len(out) < expect:
        while nbits < width:
            if di >= len(data):
                raise ValueError("corrupt GIF: LZW stream exhausted")
            acc |= data[di] << nbits
            di += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code + 1
            next_code = eoi + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt GIF: LZW code before table entry")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError("corrupt GIF: LZW code out of range")
        out += entry
        prev = entry
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
    if len(out) < expect:
        raise ValueError("corrupt GIF: pixel data short of image size")
    return bytes(out[:expect])


def encode_gif(pixels: "np.ndarray") -> bytes:
    """Encode one (H, W, 3) uint8 frame as GIF89a with a global palette
    built from the distinct colors (> 256 distinct colors raises: GIF is
    palette-bound; production quantizes first). Round-trips bit-exactly
    through ``decode_gif``."""
    import struct

    frame = np.asarray(pixels, dtype=np.uint8)
    if frame.ndim != 3 or frame.shape[2] != 3:
        raise ValueError("a GIF frame must be (H, W, 3)")
    h, w = frame.shape[:2]
    colors = np.unique(frame.reshape(-1, 3), axis=0)
    if len(colors) > 256:
        raise ValueError(f"GIF needs <= 256 distinct colors (got {len(colors)})")
    depth = 1
    while (1 << depth) < max(len(colors), 2):
        depth += 1
    n = 1 << depth
    palette = np.zeros((n, 3), dtype=np.uint8)
    palette[: len(colors)] = colors
    lut = {tuple(c): i for i, c in enumerate(colors)}
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (depth - 1), 0, 0])  # GCT present, bg 0, square px
    out += palette.tobytes()
    min_code = max(depth, 2)
    out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) + bytes([0])
    idx = np.array([lut[tuple(px)] for px in frame.reshape(-1, 3)], dtype=np.uint16)
    out += bytes([min_code])
    lzw = _gif_lzw_encode(idx, min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def _gif_lzw_encode(indices: "np.ndarray", min_code: int) -> bytes:
    """Greedy longest-match LZW with CLEAR emitted first (decoder-friendly)
    and on table overflow, little-endian bit packing."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    prev = b""
    for v in indices:
        cur = prev + bytes([int(v)])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        # the decoder grows its table one step behind the encoder: widen
        # AFTER emitting when the new entry fills the current width
        if next_code < 4096:
            table[cur] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear)  # table full: reset (emitted at the pre-reset width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code + 1
        prev = bytes([int(v)])
    if prev:
        emit(table[prev])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# --- TIFF 6.0 baseline — pure-stdlib strip codec ------------------------------
#
# Scanned-document corpora ship as TIFF, so the decode path covers the
# baseline profile for real: little-endian files, 8-bit RGB or grayscale
# samples, chunky AND separate-plane (PlanarConfiguration 2) strip
# organization, Compression 1 (none), 32773 (PackBits), 5 (LZW — MSB-first
# bit packing with the spec's "early change" code widening, the documented
# difference from GIF's LZW) and 8/32946 (Adobe/old deflate, stdlib zlib),
# and Predictor 2 (horizontal differencing, per-sample modulo 256). TILED
# organization (TIFF 6.0 §15, tags 322-325 — the layout of satellite/scan
# corpora) decodes through the same codec kernels over the tile geometry,
# with the predictor undone per tile (differencing restarts at each tile's
# left edge). New-style JPEG-in-TIFF (compression 7, each strip a complete
# JPEG stream decoded by operators/jpeg) and the CCITT fax codecs on 1-bit
# WhiteIsZero strips (compression 4 Group 4 T.6 MMR, compression 3 Group 3
# T.4 with EOLs incl. 2D mode via T4Options bit 0, compression 2 1D
# Modified Huffman — operators/ccitt.py) complete the strip codecs.
# Old-style JPEG (compression 6, §22) decodes in the forms real writers
# produced: a full interchange stream at tag 513, per-strip SOI streams
# via the compression-7 path, and the tables-split variant (tags 519-521
# raw tables + bare entropy strips or tiles, incl. tag-530 subsampling and
# tag-515 restarts). `encode_tiff` is the round-trip twin. Big-endian
# files, 16-bit and sub-byte samples outside CCITT, palette and
# WhiteIsZero images outside CCITT, JPEGTables (abbreviated JPEG strips),
# JPEG or fax tiles, RGB-photometric JPEG and lossless JPEGProc raise
# NotImplementedError.

_TIFF_TAG_NAMES = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    262: "photometric", 273: "strip_offsets", 277: "spp",
    278: "rows_per_strip", 279: "strip_counts", 284: "planar",
    292: "t4_options", 317: "predictor",
    512: "jpeg_proc", 513: "jpeg_if", 514: "jpeg_if_len",
    515: "jpeg_restart", 519: "jpeg_q", 520: "jpeg_dc", 521: "jpeg_ac",
    530: "ycbcr_sub",
    322: "tile_width", 323: "tile_length", 324: "tile_offsets",
    325: "tile_counts", 347: "jpeg_tables",
}


def _tiff_read_ifd(payload: bytes):
    import struct

    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("corrupt TIFF: IFD offset out of range")
    (n_tags,) = struct.unpack_from("<H", payload, ifd_off)
    tags = {}
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}
    type_fmt = {1: "B", 3: "H", 4: "I", 7: "B"}  # 7 = UNDEFINED (raw bytes)
    for i in range(n_tags):
        base = ifd_off + 2 + 12 * i
        if base + 12 > len(payload):
            raise ValueError("corrupt TIFF: truncated IFD")
        tag, typ, count = struct.unpack_from("<HHI", payload, base)
        if tag not in _TIFF_TAG_NAMES or typ not in type_fmt:
            continue
        sz = type_size[typ] * count
        if sz <= 4:
            off = base + 8
        else:
            (off,) = struct.unpack_from("<I", payload, base + 8)
        if off + sz > len(payload):
            raise ValueError("corrupt TIFF: tag value out of range")
        vals = struct.unpack_from("<" + str(count) + type_fmt[typ], payload, off)
        tags[_TIFF_TAG_NAMES[tag]] = list(vals)
    return tags


def _decode_old_jpeg_tables_split(payload, t, w, h, spp, photo, rows_per_strip):
    """TIFF 6.0 §22 tables-split old-style JPEG: rebuild one interchange
    stream per strip from the tag-pointed raw tables and the strip's bare
    entropy bytes, decode via operators/jpeg, and stack the strips.

    Table mapping per §22: JPEGQTables/JPEGDCTables/JPEGACTables each hold
    ONE offset per component; component ci is assigned quant/Huffman table
    id ci in the synthesized stream (writers shared chroma tables by
    pointing both chroma components at the same offset — duplicating the
    table under two ids is byte-identical decode-wise). Luma carries the
    tag-530 subsampling factors (spec default 2×2); JPEGRestartInterval
    (tag 515) becomes a DRI segment — the strip data then contains real
    RSTn markers, which the rebuilt stream's decoder consumes natively."""
    import struct

    from covid19_spark.operators.jpeg import decode_jpeg

    qoffs = t["jpeg_q"]
    dcoffs = t.get("jpeg_dc", [])
    acoffs = t.get("jpeg_ac", [])
    if len(qoffs) < spp or len(dcoffs) < spp or len(acoffs) < spp:
        raise ValueError("corrupt TIFF: tables-split JPEG missing per-component tables")

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    def huff_body(off, tc, th):
        if off + 17 > len(payload):
            raise ValueError("corrupt TIFF: JPEG Huffman table out of range")
        counts = payload[off : off + 16]
        n = sum(counts)
        if off + 16 + n > len(payload):
            raise ValueError("corrupt TIFF: JPEG Huffman table out of range")
        return bytes([(tc << 4) | th]) + counts + payload[off + 16 : off + 16 + n]

    tables = b""
    for ci in range(spp):
        qo = qoffs[ci]
        if qo + 64 > len(payload):
            raise ValueError("corrupt TIFF: JPEG quant table out of range")
        tables += seg(0xFFDB, bytes([ci]) + payload[qo : qo + 64])
    for ci in range(spp):
        tables += seg(0xFFC4, huff_body(dcoffs[ci], 0, ci))
        tables += seg(0xFFC4, huff_body(acoffs[ci], 1, ci))
    if t.get("jpeg_restart", [0])[0]:
        tables += seg(0xFFDD, struct.pack(">H", t["jpeg_restart"][0]))
    sub_h, sub_v = (t.get("ycbcr_sub", [2, 2]) + [2])[:2] if photo == 6 else (1, 1)

    def chunk_px(off, cnt, ch, cw, what):
        # one rebuilt interchange stream per chunk — strips and tiles share
        # everything but the declared SOF dimensions
        if off + cnt > len(payload):
            raise ValueError(f"corrupt TIFF: {what} out of range")
        sof = struct.pack(">BHHB", 8, ch, cw, spp)
        sos = bytes([spp])
        for ci in range(spp):
            hf, vf = (sub_h, sub_v) if (photo == 6 and ci == 0) else (1, 1)
            sof += bytes([ci + 1, (hf << 4) | vf, ci])
            sos += bytes([ci + 1, (ci << 4) | ci])
        sos += bytes([0, 63, 0])
        stream = (
            b"\xff\xd8" + tables + seg(0xFFC0, sof) + seg(0xFFDA, sos)
            + payload[off : off + cnt] + b"\xff\xd9"
        )
        px = decode_jpeg(stream)
        if px.shape[0] < ch or px.shape[1] < cw:
            raise ValueError(f"corrupt TIFF: {what} smaller than declared")
        return px[:ch, :cw]

    if "tile_offsets" in t:
        # tiled organization (TIFF 6.0 §15 framing over the same §22
        # kernel): every tile is a FULL tile_width x tile_length scan
        # (edge tiles padded by the writer), assembled in row-major grid
        # order and cropped to the declared image size.
        tw, tl = t["tile_width"][0], t["tile_length"][0]
        offs, cnts = t["tile_offsets"], t["tile_counts"]
        tiles_x, tiles_y = -(-w // tw), -(-h // tl)
        if len(offs) < tiles_x * tiles_y:
            raise ValueError("corrupt TIFF: tiles cover less than declared size")
        rows = []
        for ty in range(tiles_y):
            row = [
                chunk_px(
                    offs[ty * tiles_x + tx], cnts[ty * tiles_x + tx],
                    tl, tw, f"tile {ty * tiles_x + tx}",
                )
                for tx in range(tiles_x)
            ]
            rows.append(np.concatenate(row, axis=1))
        img = np.concatenate(rows, axis=0)[:h, :w]
    else:
        offs, cnts = t["strip_offsets"], t["strip_counts"]
        strips = []
        y = 0
        for si, (off, cnt) in enumerate(zip(offs, cnts)):
            strip_h = min(rows_per_strip, h - y)
            if strip_h <= 0:
                break
            strips.append(chunk_px(off, cnt, strip_h, w, f"strip {si}")[:, :w])
            y += strip_h
        if y < h:
            raise ValueError("corrupt TIFF: strips cover fewer rows than declared")
        img = np.concatenate(strips, axis=0)
    if photo == 6:
        return np.ascontiguousarray(img[:, :, :3])
    return np.repeat(img[:, :, :1], 3, axis=2)


def decode_tiff(payload: bytes) -> "np.ndarray":
    """Baseline TIFF (strip or tiled organization) → (H, W, 3) uint8 RGB
    (grayscale replicated). See the section comment for the supported
    profile."""
    if payload is None or len(payload) < 8:
        raise ValueError("not a TIFF payload")
    if payload[:4] == b"MM\x00*":
        raise NotImplementedError("big-endian TIFF not supported")
    if payload[:4] != b"II*\x00":
        raise ValueError("not a TIFF payload")
    t = _tiff_read_ifd(payload)
    tiled = "tile_offsets" in t
    # old-style JPEG via tag 513 carries the whole image in ONE interchange
    # stream — many real writers omitted strip tags entirely
    old_jpeg_stream = (
        t.get("compression", [1])[0] == 6 and "jpeg_if" in t and not tiled
    )
    chunk_req = (
        ("tile_width", "tile_length", "tile_counts")
        if tiled
        else () if old_jpeg_stream else ("strip_offsets", "strip_counts")
    )
    for req in ("width", "height") + chunk_req:
        if req not in t:
            raise ValueError(f"corrupt TIFF: missing {req}")
    w, h = t["width"][0], t["height"][0]
    spp = t.get("spp", [1])[0]
    bits = t.get("bits", [8] * spp)
    comp = t.get("compression", [1])[0]
    photo = t.get("photometric", [1])[0]
    planar = t.get("planar", [1])[0]
    predictor = t.get("predictor", [1])[0]
    rows_per_strip = t.get("rows_per_strip", [h])[0] or h
    if planar not in (1, 2):
        raise ValueError(f"corrupt TIFF: unknown planar config {planar}")
    if len(set(bits)) != 1 or bits[0] not in (1, 8):
        raise NotImplementedError(f"{bits}-bit TIFF samples not supported")
    if comp not in (1, 2, 3, 4, 5, 32773, 6, 7, 8, 32946):
        raise NotImplementedError(
            f"TIFF compression {comp} needs a codec library (libtiff seam)"
        )
    # CCITT codecs (operators/ccitt.py): 2 = 1D Modified Huffman, 3 = Group
    # 3 T.4 with EOLs (T4Options bit 0 selects 2D lines), 4 = Group 4 T.6
    # MMR. Bilevel only, in the fax convention photometric 0 (0 = white).
    fax = comp in (2, 3, 4)
    if fax and (bits[0] != 1 or spp != 1):
        raise ValueError(
            "corrupt TIFF: CCITT compression requires 1-bit single-sample data"
        )
    if bits[0] == 1 and not fax:
        raise NotImplementedError("sub-byte TIFF samples outside CCITT not supported")
    if (photo == 0) != fax:
        raise NotImplementedError(
            f"TIFF photometric {photo} with compression {comp} not supported"
        )
    if comp == 6:
        # Old-style JPEG-in-TIFF (TIFF 6.0 §22, deprecated by TechNote 2
        # for being underspecified). The form real writers produced — a
        # complete JFIF stream at tag 513 JPEGInterchangeFormat, or strips
        # that each start with SOI — decodes through operators/jpeg.
        if "jpeg_if" in t:
            off = t["jpeg_if"][0]
            ln = t.get("jpeg_if_len", [len(payload) - off])[0]
            if off + ln > len(payload):
                raise ValueError("corrupt TIFF: JPEGInterchangeFormat out of range")
            from covid19_spark.operators.jpeg import decode_jpeg

            px = decode_jpeg(payload[off : off + ln])
            if px.shape[0] < h or px.shape[1] < w:
                raise ValueError("corrupt TIFF: old-JPEG stream smaller than declared")
            if photo in (2, 6):
                return np.ascontiguousarray(px[:h, :w, :3])
            return np.repeat(px[:h, :w, :1], 3, axis=2)
        if "jpeg_q" in t:
            # §22 tables-split variant: tags 519/520/521 point at RAW table
            # data (64-byte zigzag quant tables; 16-count+values Huffman
            # tables, no DQT/DHT headers) and the strips carry BARE
            # entropy-coded scan data with no markers at all. Rebuild a
            # full interchange stream per strip/tile (SOI + synthesized
            # DQT/SOF0/DHT/DRI/SOS + chunk bytes + EOI) and decode through
            # operators/jpeg; the tiled organization is the same kernel
            # under §15 grid framing (full-size edge-padded tiles, cropped
            # after assembly). Real writers produced this for grayscale and
            # YCbCr (tag 530 subsampling, spec default 2×2); RGB-in-JPEG
            # (photometric 2) stays a seam — decode_jpeg's 3-component path
            # is YCbCr by JPEG convention and would mis-color it.
            if photo == 2:
                raise NotImplementedError(
                    "tables-split old-style JPEG with photometric 2"
                )
            if t.get("jpeg_proc", [1])[0] != 1:
                raise NotImplementedError(
                    "lossless old-style JPEG (JPEGProc != 1) not supported"
                )
            return _decode_old_jpeg_tables_split(
                payload, t, w, h, spp, photo, rows_per_strip
            )
        # No interchange stream and no split tables: fall through to the
        # per-chunk JPEG decode, which requires each strip to be a complete
        # SOI stream (the required-tags check above already guaranteed
        # chunks exist); chunks without SOI fail there with "JPEG strip
        # missing SOI".
        comp = 7
    if predictor not in (1, 2):
        raise ValueError(f"corrupt TIFF: unknown predictor {predictor}")
    if predictor == 2 and (fax or comp == 7):
        raise ValueError("corrupt TIFF: predictor with JPEG or CCITT compression")
    if comp == 7:
        # new-style JPEG-in-TIFF (TIFF TechNote 2): every strip is a
        # complete JPEG stream decoded by operators/jpeg. YCbCr (photo 6)
        # is the JPEG-internal color space — decode_jpeg already returns
        # RGB.
        if photo == 2:
            # RGB-stored JPEG scans: decode_jpeg treats every 3-component
            # scan as YCbCr by JPEG convention, so an RGB-photometric
            # JPEG-in-TIFF would decode mis-colored. Same seam (and same
            # guard) as the tables-split old-JPEG path above.
            raise NotImplementedError("RGB-photometric JPEG-in-TIFF not supported")
        if "jpeg_tables" in t:
            raise NotImplementedError("JPEGTables (abbreviated JPEG strips) not supported")
    if photo not in (0, 1, 2) and not (photo == 6 and comp == 7):
        raise NotImplementedError(f"TIFF photometric {photo} not supported")
    if photo in (2, 6) and spp < 3:
        raise ValueError("corrupt TIFF: RGB needs 3 samples per pixel")
    if tiled and (fax or comp == 7):
        raise NotImplementedError("JPEG and CCITT compressed TIFF tiles not supported")
    # planar 1 (chunky): samples interleave within each chunk row.
    # planar 2 (separate): all plane-0 chunks, then plane-1, ... — each
    # chunk carries ONE sample plane.
    n_planes = spp if planar == 2 else 1
    row_samples = 1 if planar == 2 else spp

    def _decompress(chunk: bytes, want: int, what: str) -> bytes:
        if comp == 1:
            out = chunk[:want]
        elif comp == 32773:
            out = _packbits_decode(chunk, want)
        elif comp in (8, 32946):  # Adobe deflate / old deflate: zlib stream
            import zlib

            try:
                out = zlib.decompress(chunk)
            except zlib.error as exc:
                raise ValueError(f"corrupt TIFF: bad deflate {what}: {exc}") from exc
        else:
            out = _tiff_lzw_decode(chunk, want)
        if len(out) < want:
            raise ValueError(f"corrupt TIFF: {what} data short of image size")
        return out[:want]

    def _chunk(offsets, counts, ci: int, what: str) -> bytes:
        off, cnt = offsets[ci], counts[ci]
        if off + cnt > len(payload):
            raise ValueError(f"corrupt TIFF: {what} out of range")
        return payload[off : off + cnt]

    def _fax_strip(ci: int, rows: int) -> "np.ndarray":
        from covid19_spark.operators.ccitt import g3_decode, g4_decode, mh_decode

        chunk = _chunk(t["strip_offsets"], t["strip_counts"], ci, "strip")
        if comp == 4:
            return g4_decode(chunk, w, rows)
        if comp == 3:
            two_d = bool(t.get("t4_options", [0])[0] & 0x1)
            return g3_decode(chunk, w, rows, two_d=two_d)
        return mh_decode(chunk, w, rows)

    def _jpeg_strip(ci: int, rows: int) -> "np.ndarray":
        """Decode one JPEG-compressed strip to a (rows, w, row_samples)
        uint8 array."""
        from covid19_spark.operators.jpeg import decode_jpeg

        data = _chunk(t["strip_offsets"], t["strip_counts"], ci, "strip")
        if len(data) < 2 or data[:2] != b"\xff\xd8":
            raise ValueError("corrupt TIFF: JPEG strip missing SOI")
        px = decode_jpeg(data)
        if px.shape[0] < rows or px.shape[1] < w or px.shape[2] < row_samples:
            raise ValueError("corrupt TIFF: JPEG strip smaller than declared")
        return np.ascontiguousarray(px[:rows, :w, :row_samples])

    def _undiff(a: "np.ndarray") -> "np.ndarray":
        # horizontal differencing is per sample, modulo 256; axis 1 is the
        # scanline axis of the (rows, cols, samples) block
        a = np.cumsum(a.astype(np.int64), axis=1)
        return (a & 0xFF).astype(np.uint8)

    if tiled:
        # TIFF 6.0 §15: the image is a grid of tw×th tiles, each compressed
        # independently and PADDED to full tile size at the right/bottom
        # edges; planar 2 stores all plane-0 tiles, then plane-1, ... The
        # predictor restarts at every tile's left edge (differencing runs
        # per tile scanline), so it must be undone per tile BEFORE assembly
        # — the one semantic difference from strips, which span the full
        # image width.
        tw, th = t["tile_width"][0], t["tile_length"][0]
        if tw == 0 or th == 0:
            raise ValueError("corrupt TIFF: zero tile dimensions")
        across, down = -(-w // tw), -(-h // th)
        tiles_per_plane = across * down
        n_tiles = len(t["tile_offsets"])
        if len(t["tile_counts"]) != n_tiles:
            raise ValueError("corrupt TIFF: tile offset/count mismatch")
        if n_tiles < tiles_per_plane * n_planes:
            raise ValueError("corrupt TIFF: too few tiles for image size")
        want = th * tw * row_samples
        plane_arrs = []
        for p in range(n_planes):
            canvas = np.zeros((down * th, across * tw, row_samples), np.uint8)
            for ti in range(tiles_per_plane):
                raw = _decompress(
                    _chunk(t["tile_offsets"], t["tile_counts"], p * tiles_per_plane + ti, "tile"),
                    want, "tile",
                )
                tile = np.frombuffer(raw, np.uint8).reshape(th, tw, row_samples)
                tile = _undiff(tile) if predictor == 2 else tile
                ty, tx = divmod(ti, across)
                canvas[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw] = tile
            plane_arrs.append(canvas[:h, :w])
        arr = (
            np.concatenate(plane_arrs, axis=2) if planar == 2 else plane_arrs[0]
        )
    else:
        n_strips = len(t["strip_offsets"])
        if len(t["strip_counts"]) != n_strips:
            raise ValueError("corrupt TIFF: strip offset/count mismatch")
        strips_per_plane = -(-h // rows_per_strip)
        samples_per_row = w * row_samples
        if n_strips < strips_per_plane * n_planes:
            raise ValueError("corrupt TIFF: too few strips for image size")
        planes = []
        for p in range(n_planes):
            if fax or comp == 7:
                blocks = []
                for si in range(strips_per_plane):
                    strip_rows = min(rows_per_strip, h - si * rows_per_strip)
                    ci = p * strips_per_plane + si
                    px = _jpeg_strip(ci, strip_rows) if comp == 7 else _fax_strip(ci, strip_rows)
                    blocks.append(px.reshape(strip_rows, samples_per_row))
                planes.append(np.concatenate(blocks, axis=0))
                continue
            raw = bytearray()
            for si in range(strips_per_plane):
                strip_rows = min(rows_per_strip, h - si * rows_per_strip)
                ci = p * strips_per_plane + si
                raw += _decompress(
                    _chunk(t["strip_offsets"], t["strip_counts"], ci, "strip"),
                    strip_rows * samples_per_row, "strip",
                )
            plane = np.frombuffer(bytes(raw), np.uint8, h * samples_per_row)
            planes.append(plane.reshape(h, samples_per_row))
        if planar == 2:
            arr = np.stack(planes, axis=2)  # (h, w, spp)
        else:
            arr = planes[0].reshape(h, w, spp)
        arr = _undiff(arr) if predictor == 2 else arr
    if photo in (2, 6):  # 6 = YCbCr, already RGB after the JPEG decode
        return np.ascontiguousarray(arr[:, :, :3])
    gray = arr[:, :, 0]
    if fax:  # WhiteIsZero bilevel: 0 = white
        gray = ((1 - gray) * 255).astype(np.uint8)
    return np.repeat(gray[:, :, None], 3, axis=2)


def _packbits_decode(data: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expect:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1 bytes
            if i + n + 1 > len(data):
                raise ValueError("corrupt TIFF: PackBits literal past end")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("corrupt TIFF: PackBits repeat past end")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find run length at i
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i = j + 1
            continue
        # literal: extend until a run of >= 3 starts or 128 bytes
        j = i
        while j + 1 <= n - 1 and j - i < 127:
            if j + 2 < n and data[j + 1] == data[j + 2] and (
                j + 3 >= n or data[j + 3] == data[j + 1]
            ):
                break
            j += 1
        out += bytes([j - i]) + data[i : j + 1]
        i = j + 1
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expect: int) -> bytes:
    """TIFF LZW (spec section 13): MSB-first bit packing, Clear=256,
    EOI=257, first free code 258, and EARLY code widening — the width
    bumps when the next free slot reaches 2^width - 1 (one code earlier
    than GIF's LZW; the spec's own documented quirk)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0
    di = 0
    width = 9
    table: list[bytes] = []
    next_code = 258
    prev = None

    def reset():
        nonlocal table, next_code, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        next_code = 258
        width = 9
        prev = None

    reset()
    while len(out) < expect:
        while nbits < width:
            if di >= len(data):
                raise ValueError("corrupt TIFF: LZW stream exhausted")
            acc = (acc << 8) | data[di]
            di += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            reset()
            continue
        if code == EOI:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt TIFF: LZW code before table entry")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if next_code < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            if next_code < 4096:
                table.append(entry)
        else:
            raise ValueError("corrupt TIFF: LZW code out of range")
        out += entry
        prev = entry
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:  # early change
                width += 1
    if len(out) < expect:
        raise ValueError("corrupt TIFF: LZW data short of strip size")
    return bytes(out[:expect])


def _tiff_lzw_encode(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    prev = b""
    for b in data:
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        if next_code < 4094:
            table[cur] = next_code
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:  # early change
                width += 1
        else:
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        prev = bytes([b])
    if prev:
        emit(table[prev])
    emit(EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def encode_tiff(
    pixels: "np.ndarray",
    compression: str = "none",
    rows_per_strip: int = 8,
    planar: int = 1,
    tile: "tuple[int, int] | None" = None,
    predictor: int = 1,
) -> bytes:
    """Encode uint8 pixels as baseline little-endian TIFF with 8-bit
    samples — ``compression``: "none", "packbits", "lzw", "deflate" (Adobe
    deflate, compression 8: zlib per strip/tile) for (H, W, 3) RGB input
    (8-bit grayscale raises NotImplementedError); "jpeg" (new-style JPEG-in-TIFF, compression 7:
    every strip is a complete quality-90 JPEG stream from ``operators/jpeg``; lossy,
    so the round-trip contract is pixel-equality with the per-strip JPEG
    round-trip, not the raw input) for RGB input; or the CCITT bilevel
    codecs "mh", "g3", "g3_2d", "g3_uncomp", "g4" for (H, W) input of 0/1
    samples (0 = white, written WhiteIsZero with 1-bit samples).
    ``planar=2`` writes separate sample planes (all R chunks, then G, then
    B); ``tile=(tw, th)`` writes a TIFF 6.0 §15 tiled organization (tags
    322-325, edge tiles zero-padded to full size) instead of strips;
    ``predictor=2`` applies horizontal differencing per strip/tile
    scanline (tag 317). Tiles and the predictor go with the lossless byte
    codecs only. Lossless modes round-trip bit-exactly through
    ``decode_tiff`` (bilevel reads back as 255/0 gray)."""
    import struct

    comp_id = {
        "none": 1, "lzw": 5, "packbits": 32773, "jpeg": 7, "deflate": 8,
        "g4": 4, "mh": 2, "g3": 3, "g3_2d": 3, "g3_uncomp": 3,
    }.get(compression)
    if comp_id is None:
        raise ValueError(f"unsupported compression {compression!r}")
    if planar not in (1, 2):
        raise ValueError(f"planar must be 1 or 2 (got {planar})")
    if predictor not in (1, 2):
        raise ValueError(f"predictor must be 1 or 2 (got {predictor})")
    arr = np.asarray(pixels)
    if arr.dtype != np.uint8:
        raise ValueError(f"encode_tiff takes uint8 pixels (got {arr.dtype})")
    fax = comp_id in (2, 3, 4)
    if (fax or comp_id == 7) and (predictor == 2 or tile is not None):
        raise ValueError(f"{compression} compression writes strips without a predictor")
    gray = arr.ndim == 2
    if fax and not gray:
        raise ValueError(f"{compression} compression requires 2D bilevel input")
    if comp_id == 7 and gray:
        raise ValueError("jpeg compression requires (H, W, 3) RGB input")
    if gray and not fax:
        raise NotImplementedError("8-bit grayscale TIFF encoding not supported")
    arr3 = arr[:, :, None] if gray else arr
    h, w, spp = arr3.shape
    if spp not in (1, 3):
        raise ValueError(f"unsupported channel count {spp}")
    sample_bits = 1 if fax else 8

    def _compress(raw: bytes) -> bytes:
        if comp_id == 1:
            return raw
        if comp_id == 32773:
            return _packbits_encode(raw)
        if comp_id == 8:
            import zlib

            return zlib.compress(raw, 6)
        return _tiff_lzw_encode(raw)

    def _encode_block(block: "np.ndarray") -> bytes:
        # block is (rows, cols, s) in file sample order
        if comp_id == 7:
            from covid19_spark.operators.jpeg import encode_jpeg

            return encode_jpeg(np.ascontiguousarray(block), quality=90)
        if fax:
            from covid19_spark.operators.ccitt import g3_encode, g4_encode, mh_encode

            if comp_id == 4:
                return g4_encode(block[:, :, 0])
            if comp_id == 3:
                return g3_encode(
                    block[:, :, 0],
                    two_d=(compression == "g3_2d"),
                    uncompressed=(compression == "g3_uncomp"),
                )
            return mh_encode(block[:, :, 0])
        return _compress(_maybe_diff(block).tobytes())

    def _maybe_diff(block: "np.ndarray") -> "np.ndarray":
        # horizontal differencing per scanline (axis 1), per sample channel
        if predictor != 2:
            return block
        d = block.astype(np.int64).copy()
        d[:, 1:] -= block.astype(np.int64)[:, :-1]
        return (d & 0xFF).astype(np.uint8)

    planes = (
        [arr3]
        if planar == 1
        else [np.ascontiguousarray(arr3[:, :, p : p + 1]) for p in range(spp)]
    )
    strips = []
    if tile is not None:
        tw, th = tile
        if tw <= 0 or th <= 0:
            raise ValueError(f"tile dims must be positive (got {tile})")
        across, down = -(-w // tw), -(-h // th)
        for pl in planes:
            padded = np.zeros((down * th, across * tw, pl.shape[2]), pl.dtype)
            padded[:h, :w] = pl
            for ty in range(down):
                for tx in range(across):
                    blk = padded[ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw]
                    strips.append(_encode_block(blk))
    else:
        for pl in planes:
            for y0 in range(0, h, rows_per_strip):
                strips.append(_encode_block(pl[y0 : y0 + rows_per_strip]))
    # new-style JPEG writes photometric 6 (YCbCr — the JPEG-internal color
    # space, per TechNote 2 / libtiff practice); the CCITT codecs write the
    # fax convention 0 (WhiteIsZero: sample 1 = black ink)
    if fax:
        photometric = 0
    elif comp_id == 7:
        photometric = 6
    else:
        photometric = 2
    tags = [
        (256, 3, [w]), (257, 3, [h]), (258, 3, [sample_bits] * spp),
        (259, 3, [comp_id]), (262, 3, [photometric]),
        (277, 3, [spp]),
    ]
    if comp_id == 3:
        # T4Options: bit 0 = 2D coding, bit 1 = uncompressed mode in use
        tags.append(
            (292, 4, [1 if compression == "g3_2d"
                      else 2 if compression == "g3_uncomp" else 0])
        )
    if tile is not None:
        tags += [(322, 3, [tile[0]]), (323, 3, [tile[1]])]
    else:
        tags.append((278, 3, [rows_per_strip]))
    if predictor == 2:
        tags.append((317, 3, [2]))
    if planar == 2:
        tags.append((284, 3, [2]))
    n_tags = len(tags) + 2  # + strip/tile offsets/counts
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_tags + 4
    # out-of-line tag data (bits for RGB, strip arrays) then strip data
    extra = bytearray()

    def tag_bytes(tag, typ, vals):
        nonlocal extra
        fmt = {3: "H", 4: "I"}[typ]
        sz = {3: 2, 4: 4}[typ] * len(vals)
        body = struct.pack("<" + str(len(vals)) + fmt, *vals)
        if sz <= 4:
            return struct.pack("<HHI", tag, typ, len(vals)) + body.ljust(4, b"\x00")
        off = data_off + len(extra)
        extra += body
        return struct.pack("<HHII", tag, typ, len(vals), off)

    # assemble twice: first pass to size `extra`, strips go after it
    entries = []
    for tag, typ, vals in tags:
        entries.append(tag_bytes(tag, typ, vals))
    # strip offsets array is itself out-of-line when > 1 strip
    counts = [len(s) for s in strips]
    # reserve space for the two arrays if out-of-line
    arrays_sz = 0
    if len(strips) > 1:
        arrays_sz = 4 * len(strips) * 2
    strip_base = data_off + len(extra) + arrays_sz
    offsets = []
    acc_off = strip_base
    for c in counts:
        offsets.append(acc_off)
        acc_off += c
    entries.append(tag_bytes(324 if tile is not None else 273, 4, offsets))
    entries.append(tag_bytes(325 if tile is not None else 279, 4, counts))
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n_tags)
    for e in entries:
        out += e
    out += struct.pack("<I", 0)  # next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)


def decode_image(payload: bytes) -> "np.ndarray":
    """Real decode path: pure-stdlib readers for uncompressed 24-bpp BMP,
    8-bit truecolour PNG (the chart format the reference serves), baseline
    + progressive + lossless + arithmetic JPEG (operators/jpeg.py — tables
    read from the stream's own DQT/DHT), still GIF (first image, global
    colour table), and baseline little-endian TIFF (see the TIFF section
    comment); anything else needs a codec library the package doesn't
    ship (a production build plugs Pillow/turbojpeg into the
    fall-through)."""
    if payload is not None and len(payload) >= 2 and payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload is not None and len(payload) >= 8 and payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload is not None and len(payload) >= 2 and payload[:2] == b"\xff\xd8":
        from covid19_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload is not None and len(payload) >= 6 and payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload is not None and len(payload) >= 4 and payload[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(payload)
    raise NotImplementedError(
        "no codec for non-BMP/PNG/JPEG/GIF/TIFF image formats in this environment"
    )


def image_features_from_pixels(pixels: "np.ndarray") -> np.ndarray:
    """8 features from DECODED pixels: mean R/G/B (scaled to [0,1])
    plus a 5-bucket grayscale histogram, L2-normalized — the
    deterministic stand-in for a CNN embedding on the real-decode path.
    Every decoder here returns uint8, or uint16 for 16-bit lossless JPEG,
    at the full range of its dtype, so the dtype max is the sample peak and
    the [0, 1] contract holds at both depths. The uint8 path (peak 255) is
    bit-identical to the historical formula."""
    src = np.asarray(pixels)
    peak = float(np.iinfo(src.dtype).max)
    arr = src.astype(np.float32)
    means = arr.reshape(-1, 3).mean(axis=0) / peak
    gray_f = arr.mean(axis=2)
    if peak != 255.0:
        gray_f = gray_f * (255.0 / peak)
    gray = gray_f.astype(np.uint8).reshape(-1)
    hist = np.histogram(gray, bins=5, range=(0, 256))[0]
    feat = np.concatenate([means, hist.astype(np.float32)])
    norm = float(np.linalg.norm(feat))
    return (feat / norm if norm > 0 else feat).astype(np.float32)


def fake_image_features(payload: bytes, dim: int = 8) -> np.ndarray:
    """Byte-histogram features of an undecoded payload: the 256 byte counts
    folded to ``dim`` buckets, L2-normalized. This is what the
    ``multimodal_features`` query computes over raw text bytes, which hold
    no image format to decode; the kernels never fall back to it."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    counts = np.bincount(np.frombuffer(payload, dtype=np.uint8), minlength=256)
    folded = counts.reshape(dim, 256 // dim).sum(axis=1).astype(np.float32)
    norm = float(np.linalg.norm(folded))
    return folded / norm if norm > 0 else folded


def _classify_decode_error(exc: Exception) -> str:
    """Stable, low-cardinality error label for the permissive decode path:
    ``"unsupported: <msg>"`` for documented codec seams
    (NotImplementedError), ``"corrupt: <msg>"`` for malformed payloads —
    bounded length so the error column stays groupable at scale."""
    kind = "unsupported" if isinstance(exc, NotImplementedError) else "corrupt"
    return f"{kind}: {str(exc)[:120]}"


def _check_on_error(on_error: str) -> None:
    if on_error not in ("fail", "permissive"):
        raise ValueError(
            f"on_error must be 'fail' or 'permissive' (got {on_error!r})"
        )


#: pandas dtypes for integer output columns: nullable, so a NULL sentinel
#: never turns a 64-bit hash column into float64
_NULLABLE_INT = {"long": "Int64", "int": "Int32"}


def _n_bytes(payload) -> int:
    return 0 if payload is None else len(payload)


def _media_id_key(r) -> tuple:
    return (r.media_id,)


def _map_blobs(
    media: DataFrame,
    schema: str,
    key,
    decode,
    on_error: str,
    error_column: bool = False,
) -> DataFrame:
    """The one per-blob decode loop behind every media kernel, run through
    ``mapInPandas`` (Arrow batches, only the payload decoded in Python).

    For each input row ``r``, ``decode(r.payload)`` returns the blob's
    value tuples — one for a per-blob kernel, one per sampled frame for
    video — and each output row is ``key(r) + values``, in the column
    order of ``schema`` (a flat ``"name type, ..."`` DDL string).

    ``on_error``: ``"fail"`` (default) lets a decode error fail the task —
    correct for curated corpora where a bad blob means a pipeline bug.
    ``"permissive"`` is the 100 TB-crawl contract: a corrupt or
    unsupported payload yields ONE sentinel row, ``key(r)`` with every
    decoded column NULL, instead of killing the job — at scale one bad
    blob per billion is a certainty, and a job that dies at 99% on it
    wastes the whole cluster pass. The sentinel is blob-granular: a
    container whose third frame fails keeps none of its frames (MJPEG
    frames share the container's coding tables, so a bad frame means a
    bad blob). With ``error_column`` the kernel also gets a classified
    ``error`` string column, appended to the schema ONLY in permissive
    mode, so default callers see the same schema either way."""
    _check_on_error(on_error)
    permissive = on_error == "permissive"
    fields = [f.split() for f in schema.split(",")]
    if permissive and error_column:
        schema += ", error string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows, errors = [], []
            for r in pdf.itertuples(index=False):
                k = key(r)
                try:
                    values, err = decode(r.payload), None
                except Exception as exc:  # noqa: BLE001 — policy boundary
                    if not permissive:
                        raise
                    values = [(None,) * (len(fields) - len(k))]
                    err = _classify_decode_error(exc)
                rows += [k + v for v in values]
                errors += [err] * len(values)
            cols = list(zip(*rows)) or [()] * len(fields)
            out = {
                name: pd.array(col, dtype=_NULLABLE_INT[typ])
                if typ in _NULLABLE_INT
                else list(col)
                for (name, typ), col in zip(fields, cols)
            }
            if permissive and error_column:
                out["error"] = errors
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=schema)


def _image_features(media: DataFrame, featurize, on_error: str = "fail") -> DataFrame:
    """``IMAGE_FEATURES_SCHEMA`` rows: pass-through metadata plus
    ``featurize(payload)`` per blob, through the blob runner."""
    return _map_blobs(
        media,
        IMAGE_FEATURES_SCHEMA,
        lambda r: (r.media_id, r.mime, r.width, r.height, _n_bytes(r.payload)),
        lambda p: [(featurize(p).tolist(),)],
        on_error,
        error_column=True,
    )


def _decoded_image_features(payload: bytes) -> np.ndarray:
    return image_features_from_pixels(decode_image(payload))


def extract_image_features(media: DataFrame, on_error: str = "fail") -> DataFrame:
    """Per-blob feature extraction via ``mapInPandas`` (Arrow batches).

    Metadata-only columns pass through untouched; only the payload column
    is read inside Python. Each blob is decoded by ``decode_image`` (BMP,
    PNG, JPEG, GIF, TIFF; any other format raises ``NotImplementedError``)
    and the decoded pixels are featurized at their true sample precision.

    ``on_error="permissive"``: a corrupt or unsupported payload yields
    ``feature = NULL`` plus an ``error`` column instead of failing the
    task (see ``_map_blobs``). Decode errors stay per-row observable
    (`WHERE error IS NOT NULL`), never silently dropped."""
    return _image_features(media, _decoded_image_features, on_error)


def encode_mjpeg_avi(frames: "list[np.ndarray]", quality: int = 85) -> bytes:
    """Encode a list of (H, W, 3) uint8 frames as a 4 fps Motion-JPEG AVI — pure
    stdlib RIFF assembly over the module's own JPEG encoder. The one video
    container a no-codec-library environment can produce AND consume for
    real (every frame is a baseline JPEG)."""
    import struct

    from covid19_spark.operators.jpeg import encode_jpeg

    if not frames:
        raise ValueError("cannot encode an empty AVI")
    h, w = frames[0].shape[:2]
    payloads = [encode_jpeg(f, quality=quality) for f in frames]

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(four: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", four + data)

    us_per_frame = 250_000
    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, 0, 0, 0x10, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIiI4h", 0, 0, 0, 0, 1, 4, 0, len(frames), 0, -1, 0, 0, 0, 0, 0)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_frames(payload: bytes) -> "tuple[list[bytes], float]":
    """Parse a Motion-JPEG AVI into ``(frame payloads, fps)`` — pure stdlib
    RIFF walk: avih gives the frame period, the movi LIST holds one
    00dc/00db chunk per frame (each a complete JPEG, decodable by
    ``operators/jpeg.decode_jpeg``). Unknown chunks are skipped;
    non-MJPEG streams raise NotImplementedError (the codec-library seam
    for real H.264/VP9 containers)."""
    import struct

    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    fps = 0.0
    frames_by_stream: dict[int, list[bytes]] = {}
    n_streams = 0
    video_stream: int | None = None  # strh order defines the NNdc prefix

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal fps, n_streams, video_stream
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", buf, pos + 4)
            body_start, body_end = pos + 8, pos + 8 + ln
            if body_end > end:
                raise ValueError("corrupt AVI: truncated chunk")
            if cid == b"LIST":
                walk(buf, body_start + 4, body_end)
            elif cid == b"avih":
                if ln < 4:
                    raise ValueError("corrupt AVI: short avih")
                (uspf,) = struct.unpack_from("<I", buf, body_start)
                fps = 1_000_000 / uspf if uspf else 0.0
            elif cid == b"strh":
                # streams are numbered in strh order; the frame chunks of
                # stream N carry the two-digit prefix f"{N:02d}" — don't
                # assume the video stream is stream 0 (an audio-first AVI
                # puts its video frames in 01dc chunks)
                if buf[body_start : body_start + 4] == b"vids":
                    if ln < 8:
                        raise ValueError("corrupt AVI: short vids strh")
                    if buf[body_start + 4 : body_start + 8] not in (b"MJPG", b"mjpg"):
                        raise NotImplementedError(
                            "only MJPEG AVI video decodes without a codec library"
                        )
                    if video_stream is None:
                        video_stream = n_streams
                n_streams += 1
            elif len(cid) == 4 and cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                frames_by_stream.setdefault(int(cid[:2]), []).append(
                    buf[body_start:body_end]
                )
            pos = body_end + (ln & 1)

    walk(payload, 12, len(payload))
    if video_stream is None:
        if n_streams == 0 and 0 in frames_by_stream:
            # headerless/minimal AVI with bare 00dc chunks: keep the old
            # tolerance (frames are self-describing JPEGs) — only files that
            # DECLARE streams must declare a video one
            video_stream = 0
        else:
            raise ValueError("corrupt AVI: no video stream declared")
    frames = frames_by_stream.get(video_stream, [])
    if not frames:
        raise ValueError("corrupt AVI: no video frames")
    return frames, fps


EVERY_MS = 500  # video sampling interval


def _sampled_avi_frames(payload: bytes):
    """Yield ``(frame_ts_ms, frame_index, jpeg_bytes)`` every ``EVERY_MS``
    along the timeline — the SINGLE sampling arithmetic (fps fallback, inclusive
    duration bound, index clamp) that feature extraction AND per-frame
    hashing share: ``video_near_dup_pairs`` aligns videos on the sample
    rank, so the two consumers must never drift apart."""
    frames, fps = decode_avi_frames(payload)
    if fps <= 0:
        fps = 10.0
    duration_ms = int(len(frames) * 1000 / fps)
    ts = 0
    while ts <= duration_ms:
        idx = min(int(ts * fps / 1000), len(frames) - 1)
        yield ts, idx, frames[idx]
        ts += EVERY_MS


def video_frame_features(payload: bytes) -> "list[tuple[int, int, np.ndarray]]":
    """Real video path: decode the MJPEG AVI, sample one frame per
    ``EVERY_MS`` of timeline, decode each sampled JPEG and featurize its
    pixels (8 x 8 grid). Returns [(frame_ts_ms, frame_index, feature)]."""
    from covid19_spark.operators.jpeg import decode_jpeg

    return [
        (ts, idx, image_features_from_pixels(decode_jpeg(jpeg)))
        for ts, idx, jpeg in _sampled_avi_frames(payload)
    ]


VIDEO_FRAME_SCHEMA = (
    "media_id long, frame_ts_ms long, frame_index int, feature array<float>"
)


def extract_video_frames(media: DataFrame) -> DataFrame:
    """Sampled-frame feature extraction for video rows via ``mapInPandas``:
    metadata (kind) prunes before any decode; each blob's MJPEG AVI
    container is parsed and each sampled frame decoded with the module's
    own JPEG decoder (``video_frame_features``)."""
    return _map_blobs(
        media.filter(F.col("kind") == "video"),
        VIDEO_FRAME_SCHEMA,
        _media_id_key,
        lambda p: [
            (ts, idx, feat.tolist())
            for ts, idx, feat in video_frame_features(p)
        ],
        "fail",
        error_column=True,
    )


def _area_resize(gray: "np.ndarray") -> "np.ndarray":
    """Deterministic area-mean resize to 8 x 9 via an integral image — the
    fixed downsampling step of the perceptual hash (no interpolation
    libraries)."""
    out_h, out_w = 8, 9
    h, w = gray.shape
    if h < out_h:
        gray = np.repeat(gray, -(-out_h // h), axis=0)
        h = gray.shape[0]
    if w < out_w:
        gray = np.repeat(gray, -(-out_w // w), axis=1)
        w = gray.shape[1]
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    # integer bin edges (floor of i*h/out_h): strictly increasing whenever
    # h >= out_h (guaranteed by the repeat above) — np.round's banker's
    # rounding could produce equal neighbors, i.e. an empty bin
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w), dtype=np.float64)
    for r in range(out_h):
        y0, y1 = ys[r], ys[r + 1]
        area_rows = ii[y1] - ii[y0]
        widths = (xs[1:] - xs[:-1]) * (y1 - y0)
        out[r] = (area_rows[xs[1:]] - area_rows[xs[:-1]]) / np.maximum(widths, 1)
    return out


def dhash_pixels(pixels: "np.ndarray") -> int:
    """Difference hash (dHash) of decoded pixels: grayscale → area-resize to
    8 x 9 → horizontal gradient sign bits → signed int64 (bit 63 as the
    sign bit, matching the SimHash storage convention so the banded Hamming
    probe operates on plain BIGINT columns). Robust to re-encoding, mild
    noise, and rescaling — the standard perceptual near-dup key for image
    corpora.  The downstream 4 x 16-bit banded probe assumes EXACTLY these
    64 bits."""
    gray = np.asarray(pixels, dtype=np.float64).mean(axis=2)
    small = _area_resize(gray)
    bits = (small[:, 1:] > small[:, :-1]).reshape(-1)
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(media: DataFrame) -> DataFrame:
    """``(media_id, dhash)`` per image row via ``mapInPandas``: decode the
    payload (``decode_image``) and hash its pixels.

    Deliberately does NOT use the DC thumbnail decode that
    ``video_frame_hashes`` rides: an image corpus mixes formats, and a
    JPEG hashed from its 1/8-scale DC image does not match its BMP/PNG
    twin hashed at full resolution (measured: Hamming 19 on identical
    content) — cross-format near-dup detection requires every image to
    hash through the SAME resolution path. Video can use the DC path
    because frames only ever compare against other frames decoded the
    same way. The full JPEG decode is ~3x faster since the LUT entropy
    decoder, so the consistency choice stays cheap."""
    return _map_blobs(
        media.filter(F.col("kind") == "image"),
        "media_id long, dhash long",
        _media_id_key,
        lambda p: [(dhash_pixels(decode_image(p)),)],
        "fail",
    )


def image_near_dup_pairs(
    hash_df: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """Perceptual near-duplicate candidate pairs (Hamming <= 10) over a
    dHash frame: the
    64-bit hashes ride the SAME banded Hamming probe as SimHash text dedup
    (4 x 16-bit sub-bands). Pigeonhole guarantee holds only for Hamming
    <= 3 (a distance-4 pair can spread one bit per band and never meet);
    pairs at 4..10 are recalled probabilistically — this is a
    CANDIDATE generator, not a certifier. One thin self-join, never O(n²)
    over the image corpus; the probe's 10,000-row bucket cap guards the
    common degenerate case (black/constant images all share a sub-band key
    — see ``drop_oversized_buckets``)."""
    from covid19_spark.operators.dedup import simhash_candidate_pairs

    return simhash_candidate_pairs(
        hash_df.select(F.col(id_col), F.col("dhash").alias("simhash")),
        id_col,
        max_hamming=10,
    )


def video_frame_hashes(media: DataFrame) -> DataFrame:
    """``(media_id, frame_rank, dhash)`` — one perceptual hash per sampled
    video frame (real MJPEG-AVI decode; ``frame_rank`` is the 0-based index
    in the sample sequence, the alignment key for video-to-video
    comparison). Shares ``_sampled_avi_frames`` with the feature extractor
    so the two timelines can never drift. Map-only mapInPandas, metadata
    prunes before decode.

    Frames decode via ``decode_jpeg_dc`` — the DC-only 1/8-scale block-mean
    image (VERDICT r05 task #3): dHash area-means down to 8x9 anyway, and
    block means ARE an area-mean, so the hash sees the same signal while
    the decoder skips AC materialization + IDCT + color upsampling
    (measured ~5x per frame). The DC path only engages when the DC image
    covers the 8 x 9 dHash grid (frame >= 64 tall and 72 wide — below that the 1/8-scale image UNDERSAMPLES the
    hash and recall collapses; measured: planted-pair recall 20/40 on
    32x24 frames vs 40/40 on 80x64); smaller frames take the full decode,
    itself ~3x faster since the LUT entropy decoder. ``test_multimodal.py``
    pins DC-path/full-decode pair-set equality on the registry corpus.

    The per-frame choice is correct when near-dup candidates share a size
    class, the normal video case (re-encodes keep resolution). A DC-hashed
    frame and a full-decode-hashed frame of the SAME content land ~19 bits
    apart (the measured cross-path inconsistency of ``image_dhash``), so a
    corpus whose near-dup pairs STRADDLE the threshold (originals next to
    downscaled copies) loses recall."""
    from covid19_spark.operators.jpeg import (
        decode_jpeg,
        decode_jpeg_dc,
        peek_jpeg_dims,
    )

    def decode(payload):
        hashes = []
        for rank, (_ts, _idx, jpeg) in enumerate(_sampled_avi_frames(payload)):
            fh, fw = peek_jpeg_dims(jpeg)
            use_dc = fh >= 64 and fw >= 72
            px = decode_jpeg_dc(jpeg) if use_dc else decode_jpeg(jpeg)
            hashes.append((rank, dhash_pixels(px)))
        return hashes

    return _map_blobs(
        media.filter(F.col("kind") == "video"),
        "media_id long, frame_rank int, dhash long",
        _media_id_key,
        decode,
        "fail",
    )


def video_near_dup_pairs(
    frame_hash_df: DataFrame,
    id_col: str = "media_id",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Video-level near-duplicates from per-frame perceptual hashes: frames
    align on ``frame_rank`` and candidate-join via the 4 x 16-bit sub-band
    probe keyed by (rank, band, key) — a pair of videos never meets unless
    some aligned frame pair shares an exact sub-band, so the join stays
    thin at corpus scale (the shuffle carries |videos| x frames x 4 thin
    rows, never video pairs; ``max_bucket`` drops degenerate
    (rank, band, key) groups — black/constant frames at the same rank hash
    identically across a large corpus fraction — see
    ``drop_oversized_buckets``). A pair verifies when
    >= 3 aligned frames are within 10 bits (recall guaranteed only for per-frame Hamming <= 3 — the 4-band
    pigeonhole bound — and probabilistic above). Output:
    (doc_a, doc_b, matching_frames, mean_hamming)."""
    from covid19_spark.operators.dedup import (
        drop_oversized_buckets,
        hamming_band_keys,
    )

    bands = hamming_band_keys("dhash")
    banded = (
        frame_hash_df.select(id_col, "frame_rank", "dhash", F.explode(bands).alias("bb"))
        .select(id_col, "frame_rank", "dhash", "bb.band", "bb.key")
    )
    banded = drop_oversized_buckets(
        banded, ["frame_rank", "band", "key"], max_bucket
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.dhash").bitwiseXOR(F.col("b.dhash")))
    frame_pairs = (
        a.join(
            b,
            (F.col("a.frame_rank") == F.col("b.frame_rank"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.frame_rank").alias("frame_rank"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 10)
        .dropDuplicates(["doc_a", "doc_b", "frame_rank"])
    )
    return (
        frame_pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("matching_frames"),
            F.round(F.avg("hamming"), 4).alias("mean_hamming"),
        )
        .filter(F.col("matching_frames") >= 3)
    )


def encode_wav(samples: "np.ndarray", dtype: str = "i16") -> bytes:
    """Encode PCM samples as an 8 kHz RIFF/WAVE file — pure stdlib (struct).
    ``samples``: int16 array, (n,) mono or (n, channels). ``dtype`` picks
    the container depth: ``i16`` (default), ``i24``/``i32`` (the int16
    signal shifted into the wider word — decodes to the SAME normalized
    float, x/32768, bit-exactly), or ``f32``/``f64`` IEEE float (format 3,
    storing x/32768 exactly: an int16 over 2^15 is exactly representable).
    Deterministic; exists so tests and synthesizers can produce REAL
    decodable audio at every PCM depth the decoder supports."""
    import struct

    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if dtype == "i16":
        audio_fmt, bits, data = 1, 16, arr.astype("<i2").tobytes()
    elif dtype == "i24":
        v = (arr.astype("<i4") << 8).tobytes()
        b = np.frombuffer(v, np.uint8).reshape(-1, 4)
        audio_fmt, bits, data = 1, 24, b[:, :3].tobytes()
    elif dtype == "i32":
        audio_fmt, bits, data = 1, 32, (arr.astype("<i4") << 16).tobytes()
    elif dtype == "f32":
        audio_fmt, bits = 3, 32
        data = (arr.astype(np.float32) / np.float32(32768.0)).astype("<f4").tobytes()
    elif dtype == "f64":
        audio_fmt, bits = 3, 64
        data = (arr.astype(np.float64) / 32768.0).astype("<f8").tobytes()
    else:
        raise ValueError(f"dtype must be i16/i24/i32/f32/f64 (got {dtype!r})")
    step = bits // 8
    byte_rate = 8000 * ch * step
    fmt = struct.pack("<HHIIHH", audio_fmt, ch, 8000, byte_rate, ch * step, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> "tuple[np.ndarray, int]":
    """Decode a RIFF/WAVE file to ``(samples, sample_rate)`` — samples as
    float32 in [-1, 1], shape (n, channels). Pure stdlib. Supports PCM
    (format 1) at 16, 24 (packed) and 32 bits and IEEE float (format 3)
    at 32/64 bits; skips unknown chunks (LIST, cue, ...). 8-bit PCM and
    every compressed format (G.711, ADPCM, MP3-in-WAV, vendor codecs)
    raise NotImplementedError — the codec-library seam."""
    import struct

    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        body_end = pos + 8 + ln
        if body_end > len(payload):
            raise ValueError("corrupt WAV: truncated chunk")
        if cid == b"fmt ":
            if ln < 16:
                raise ValueError("corrupt WAV: short fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data = payload[pos + 8 : body_end]
        pos = body_end + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("corrupt WAV: missing fmt/data chunk")
    audio_fmt, ch, rate, _brate, _align, bits = fmt
    if ch < 1:
        raise ValueError("corrupt WAV: zero channels")
    if audio_fmt == 1:  # integer PCM
        if bits == 8:
            raise NotImplementedError("8-bit PCM WAV not supported")
        if bits == 16:
            arr = np.frombuffer(data, "<i2").astype(np.float32) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(data[: len(data) - len(data) % 3], np.uint8).reshape(-1, 3)
            vals = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            vals = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
            arr = vals.astype(np.float32) / float(1 << 23)
        elif bits == 32:
            arr = np.frombuffer(data, "<i4").astype(np.float32) / float(1 << 31)
        else:
            raise ValueError(f"corrupt WAV: invalid PCM bit depth {bits}")
    elif audio_fmt == 3:  # IEEE float
        if bits == 32:
            arr = np.frombuffer(data, "<f4").astype(np.float32)
        elif bits == 64:
            arr = np.frombuffer(data, "<f8").astype(np.float32)
        else:
            raise ValueError(f"corrupt WAV: invalid float bit depth {bits}")
    else:
        raise NotImplementedError(
            f"compressed WAV format {audio_fmt} needs a codec library"
        )
    n = len(arr) - len(arr) % ch
    return arr[:n].reshape(-1, ch), rate


def audio_fingerprint(samples: "np.ndarray") -> int:
    """Chromaprint-style perceptual audio fingerprint: mono mix → 9 equal
    time windows → per-window spectral energy in 8 log-spaced bands (rfft)
    → sign of the time-delta per band → 8 x 8 = 64 bits packed into a
    signed int64 (SimHash storage convention, so the banded Hamming probe
    applies unchanged). Gain-invariant by construction (energy comparisons
    between adjacent windows survive uniform scaling), and window edges are
    fractions of total length, so resampled/requantized copies land within
    a few bits of the original. The (9, 8) window/band split was chosen
    empirically over (17, 4) and (5, 16): on a family of chirp+AM probes it
    gives planted gain/requant copies Hamming <= 6 while unrelated signals
    stay >= 10 (finer bands separate carrier frequencies; fewer windows
    keep per-window spectra stable)."""
    n_windows, n_bands = 9, 8
    mono = np.asarray(samples, dtype=np.float64)
    if mono.ndim == 2:
        mono = mono.mean(axis=1)
    if mono.size < n_windows:
        mono = np.pad(mono, (0, n_windows - mono.size))
    edges = (np.arange(n_windows + 1) * len(mono)) // n_windows
    energies = np.zeros((n_windows, n_bands))
    for t in range(n_windows):
        frame = mono[edges[t] : edges[t + 1]]
        spec = np.abs(np.fft.rfft(frame)) ** 2
        if len(spec) < 2:
            continue
        # log-spaced band edges over the positive spectrum (skip DC)
        be = np.unique(
            np.geomspace(1, len(spec) - 1, n_bands + 1).astype(int)
        )
        for b in range(min(n_bands, len(be) - 1)):
            energies[t, b] = spec[be[b] : be[b + 1] + 1].sum()
    bits = (energies[1:] > energies[:-1]).reshape(-1)  # (n_windows-1)*n_bands
    v = 0
    for i, b in enumerate(bits[:64]):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """``(media_id, afp)`` per audio row via ``mapInPandas``: decode the WAV
    payload and fingerprint its samples (``audio_fingerprint``)."""
    return _map_blobs(
        media.filter(F.col("kind") == "audio"),
        "media_id long, afp long",
        _media_id_key,
        lambda p: [(audio_fingerprint(decode_wav(p)[0]),)],
        "fail",
    )


def audio_near_dup_pairs(
    fp_df: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """Perceptual audio near-duplicate candidates (Hamming <= 8): the 64-bit fingerprints
    ride the same banded 16-bit-sub-band Hamming probe as SimHash/dHash —
    one thin self-join, never O(n²) over the audio corpus (the probe's
    10,000-row bucket cap drops degenerate keys — digital silence
    fingerprints identically — see ``drop_oversized_buckets``)."""
    from covid19_spark.operators.dedup import simhash_candidate_pairs

    return simhash_candidate_pairs(
        fp_df.select(F.col(id_col), F.col("afp").alias("simhash")),
        id_col,
        max_hamming=8,
    )


def audio_features_from_samples(samples: "np.ndarray", n_windows: int = 16) -> np.ndarray:
    """Fixed-width features from DECODED audio: per-window RMS energy over
    the mono mix, peak-normalized to [0, 1]."""
    mono = np.asarray(samples, dtype=np.float32)
    if mono.ndim == 2:
        mono = mono.mean(axis=1)
    if mono.size == 0:
        return np.zeros(n_windows, dtype=np.float32)
    pad = -len(mono) % n_windows
    if pad:
        mono = np.pad(mono, (0, pad))
    frames = mono.reshape(n_windows, -1)
    rms = np.sqrt((frames * frames).mean(axis=1))
    peak = float(rms.max())
    return (rms / peak if peak > 0 else rms).astype(np.float32)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, mime string, duration_ms long, n_bytes long, "
    "n_windows int, feature array<float>"
)


def extract_audio_features(
    media: DataFrame,
    n_windows: int = 16,
) -> DataFrame:
    """Windowed audio feature extraction via ``mapInPandas``: decode each
    WAV payload (``decode_wav``) and featurize its samples — same
    metadata-prunes-before-decode and fixed-width-output contract as the
    image kernel."""
    return _map_blobs(
        media.filter(F.col("kind") == "audio"),
        AUDIO_FEATURES_SCHEMA,
        lambda r: (r.media_id, r.mime, r.duration_ms, _n_bytes(r.payload), n_windows),
        lambda p: [
            (audio_features_from_samples(decode_wav(p)[0], n_windows).tolist(),)
        ],
        "fail",
        error_column=True,
    )


def media_from_docs(docs: DataFrame, blobs) -> DataFrame:
    """A ``MEDIA_SCHEMA`` frame synthesized per document: ``blobs(doc_id)``
    returns that doc's media rows as ``MEDIA_SCHEMA``-ordered tuples (any
    number of them — a planted near-dup or a codec variant is one more
    row). Runs inside ``mapInPandas``, so the per-row encode work spreads
    over ``docs``' partitions."""
    names = MEDIA_SCHEMA.fieldNames()

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [row for did in pdf["doc_id"] for row in blobs(int(did))],
                columns=names,
            )

    return docs.mapInPandas(synth, schema=MEDIA_SCHEMA)
