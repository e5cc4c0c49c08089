"""Test-data generators for the media operators (``operators/multimodal``):
a seeded fake media table, the declarative frame-sampling plan, and
header-level builders for the codec variants the decoders refuse."""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_spark.operators.multimodal import MEDIA_SCHEMA


def synthesize_media(spark, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        kind = ["image", "audio", "video"][i % 3]
        payload = bytes(rng.integers(0, 256, size=128 + (i % 5) * 64, dtype=np.uint8))
        rows.append(
            (
                i,
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                64 + i % 32,
                48 + i % 32,
                1000 * (i % 10) if kind == "video" else None,
                payload,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts_ms) —
    computed declaratively with ``sequence``/``explode`` so the expensive
    decode fan-out is an ordinary distributed transform. The decode itself
    is ``extract_video_frames`` (real for MJPEG AVI)."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("duration_ms"), F.lit(0)), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


def riff_wav(fmt_tag: int, bits: int, data: bytes, ch: int = 1, rate: int = 8000,
             extra: bytes = b"") -> bytes:
    """A minimal RIFF/WAVE file: fmt (plus ``extra`` fmt-extension bytes),
    a fact chunk for compressed formats, then data."""
    step = ch * max(bits, 8) // 8
    fmt = struct.pack("<HHIIHH", fmt_tag, ch, rate, rate * step, step, bits) + extra
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if fmt_tag != 1:
        body += b"fact" + struct.pack("<II", 4, len(data) * 2)
    body += b"data" + struct.pack("<I", len(data)) + data + b"\x00" * (len(data) & 1)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def gray_tiff(gray: np.ndarray, rows_per_strip: int = 8, tile=None) -> bytes:
    """An uncompressed 8-bit BlackIsZero (photometric 1) TIFF of a (H, W)
    uint8 array, in strips or, with ``tile=(tw, th)``, zero-padded tiles —
    the grayscale layout ``encode_tiff`` refuses to write."""
    h, w = gray.shape
    if tile is None:
        blocks = [gray[y : y + rows_per_strip] for y in range(0, h, rows_per_strip)]
        layout = [(278, 3, rows_per_strip)]
        off_tag, cnt_tag = 273, 279
    else:
        tw, th = tile
        padded = np.zeros((-(-h // th) * th, -(-w // tw) * tw), np.uint8)
        padded[:h, :w] = gray
        blocks = [
            padded[y : y + th, x : x + tw]
            for y in range(0, padded.shape[0], th)
            for x in range(0, padded.shape[1], tw)
        ]
        layout = [(322, 3, tw), (323, 3, th)]
        off_tag, cnt_tag = 324, 325
    data = [np.ascontiguousarray(b).tobytes() for b in blocks]
    n = len(data)
    tags = [(256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, 1), (262, 3, 1),
            (277, 3, 1), *layout]
    n_tags = len(tags) + 2
    arrays_off = 8 + 2 + 12 * n_tags + 4
    data_off = arrays_off + 8 * n
    offsets, acc = [], data_off
    for d in data:
        offsets.append(acc)
        acc += len(d)
    entries = [struct.pack("<HHIHH", t, typ, 1, v, 0) for t, typ, v in tags]
    entries += [
        struct.pack("<HHII", off_tag, 4, n, offsets[0] if n == 1 else arrays_off),
        struct.pack("<HHII", cnt_tag, 4, n, len(data[0]) if n == 1 else arrays_off + 4 * n),
    ]
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    ifd = struct.pack("<H", n_tags) + b"".join(entries) + b"\x00" * 4
    arrays = struct.pack(f"<{n}I", *offsets) + struct.pack(f"<{n}I", *map(len, data))
    return b"II*\x00" + struct.pack("<I", 8) + ifd + arrays + b"".join(data)


def retag_tiff(payload: bytes, tag: int, value: int) -> bytes:
    """``payload`` (little-endian TIFF) with the inline SHORT value of
    ``tag`` replaced."""
    out = bytearray(payload)
    i = out.find(struct.pack("<HHI", tag, 3, 1))
    assert i > 0, tag
    struct.pack_into("<H", out, i + 8, value)
    return bytes(out)
