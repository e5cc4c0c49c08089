"""Test-data generators for the media operators (``operators/multimodal``):
a seeded fake media table, the declarative frame-sampling plan, and WAV
encoders (G.711, Microsoft ADPCM, IMA ADPCM) that produce real payloads
for the decode paths to read back."""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid19_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _ALAW_TABLE,
    _IMA_STEPS,
    _MS_ADPCM_ADAPT,
    _MS_ADPCM_COEFFS,
    _MULAW_TABLE,
    _ima_decode_nibbles,
)


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


def encode_wav_g711(
    samples: "np.ndarray", law: str = "mulaw", sample_rate: int = 8000
) -> bytes:
    """Encode float samples in [-1, 1] as a G.711 companded RIFF/WAVE file
    (format 6 = A-law, 7 = mu-law, always 8-bit). Mono or (n, channels);
    test/synthesizer twin of the format-6/7 decode path."""
    import struct

    fmt_code = {"alaw": 6, "mulaw": 7}[law]
    arr = np.asarray(samples, dtype=np.float32)
    if arr.ndim == 1:
        arr = arr[:, None]
    _n, ch = arr.shape
    data = g711_encode(arr.reshape(-1), law)
    byte_rate = sample_rate * ch
    fmt = struct.pack("<HHIIHH", fmt_code, ch, sample_rate, byte_rate, ch, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def g711_encode(samples: "np.ndarray", law: str) -> bytes:
    """Compand float samples in [-1, 1] to 8-bit G.711 codes ("alaw" or
    "mulaw") — nearest-codeword search against the expansion table (exact
    inverse of the decode path by construction; the segmented bit-twiddling
    encoder is equivalent but this form cannot drift from the table).
    Test/synthesizer helper for producing REAL format-6/7 WAV payloads."""
    table = {"alaw": _ALAW_TABLE, "mulaw": _MULAW_TABLE}[law]
    order = np.argsort(table)
    flat = np.clip(np.asarray(samples, np.float32).reshape(-1), -1.0, 1.0)
    idx = np.searchsorted(table[order], flat)
    idx = np.clip(idx, 1, 255)
    left, right = table[order][idx - 1], table[order][np.clip(idx, 0, 255)]
    pick = np.where(np.abs(flat - left) <= np.abs(right - flat), idx - 1, idx)
    return order[pick].astype(np.uint8).tobytes()


def encode_wav_ms_adpcm(
    samples: "np.ndarray", sample_rate: int = 8000, block_samples: int = 500
) -> bytes:
    """Encode mono int16 samples as a Microsoft ADPCM (format 0x02)
    RIFF/WAVE file — the test/synthesizer twin of the format-2 decode path.
    Per block the encoder trials all 7 standard predictors and keeps the
    one with least total quantization error (the reference strategy);
    nibbles quantize the prediction error against the adapting delta via
    the SAME update arithmetic the decoder runs. Writes the full fmt
    extension (samplesPerBlock, the 7 coefficient pairs) and a 'fact'
    chunk so partial final blocks decode to the exact input length."""
    import struct

    arr = np.asarray(samples, dtype=np.int16).reshape(-1)
    if block_samples < 4:
        raise ValueError("block_samples must be at least 4")
    nib_per_block = block_samples - 2  # two seed samples ride the header
    if nib_per_block % 2:
        raise ValueError("block_samples must be even")
    block_align = 7 + nib_per_block // 2
    out = bytearray()
    for bstart in range(0, len(arr), block_samples):
        blk = [int(v) for v in arr[bstart : bstart + block_samples]]
        if len(blk) < 2:
            blk += [blk[-1] if blk else 0] * (2 - len(blk))
        best = None
        for pi, (c1, c2) in enumerate(_MS_ADPCM_COEFFS):
            s2_0, s1_0 = blk[0], blk[1]
            deltas = [abs(blk[i] - ((blk[i - 1] * c1 + blk[i - 2] * c2) >> 8))
                      for i in range(2, len(blk))]
            # mean |prediction error| can exceed int16 range for full-swing
            # alternating input (e.g. ±32767 square wave) — clamp so the
            # '<h' header pack cannot raise; the adaptive loop recovers the
            # effective step within a few samples either way
            delta0 = min(max(16, (sum(deltas) // max(len(deltas), 1)) or 16), 32767)
            s1, s2, delta = s1_0, s2_0, delta0
            nibs = []
            err_total = 0
            for i in range(2, len(blk)):
                predicted = (s1 * c1 + s2 * c2) >> 8
                err = blk[i] - predicted
                nib = max(-8, min(7, int(round(err / delta))))
                code = nib & 0x0F
                new = max(-32768, min(32767, predicted + nib * delta))
                err_total += abs(blk[i] - new)
                s2, s1 = s1, new
                delta = max(16, (_MS_ADPCM_ADAPT[code] * delta) >> 8)
                nibs.append(code)
            if best is None or err_total < best[0]:
                best = (err_total, pi, delta0, nibs)
        _, pi, delta0, nibs = best
        nibs = nibs + [0] * (nib_per_block - len(nibs))
        out += bytes([pi])
        out += struct.pack("<hhh", delta0, blk[1], blk[0])
        for i in range(0, len(nibs), 2):
            out += bytes([(nibs[i] << 4) | nibs[i + 1]])
    byte_rate = sample_rate * block_align // block_samples
    coef_ext = b"".join(struct.pack("<hh", c1, c2) for c1, c2 in _MS_ADPCM_COEFFS)
    fmt = struct.pack(
        "<HHIIHHHHH", 0x02, 1, sample_rate, byte_rate, block_align, 4,
        4 + 4 * len(_MS_ADPCM_COEFFS), block_samples, len(_MS_ADPCM_COEFFS),
    ) + coef_ext
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"fact" + struct.pack("<II", 4, len(arr))
    body += b"data" + struct.pack("<I", len(out)) + bytes(out)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_ima_adpcm(
    samples: "np.ndarray", sample_rate: int = 8000, block_samples: int = 505
) -> bytes:
    """Encode mono int16 samples as an IMA ADPCM (format 0x11) RIFF/WAVE
    file — the test/synthesizer twin of the format-17 decode path. Standard
    greedy encoder: per block, sample 0 goes in the header verbatim, each
    later sample quantizes its prediction error to the 4-bit code whose
    decode lands nearest (encode and decode share the step tables, so
    round-trip error is bounded by the step size)."""
    import struct

    arr = np.asarray(samples, dtype=np.int16).reshape(-1)
    nib_per_block = block_samples - 1
    if nib_per_block % 8:
        raise ValueError("block_samples - 1 must be a multiple of 8")
    block_align = 4 + nib_per_block // 2
    out = bytearray()
    pred_state, index_state = 0, 0
    for bstart in range(0, len(arr), block_samples):
        blk = arr[bstart : bstart + block_samples]
        if len(blk) == 0:
            break
        pred_state = int(blk[0])
        out += struct.pack("<hBB", pred_state, index_state, 0)
        nibbles = []
        for s in blk[1:]:
            step = int(_IMA_STEPS[index_state])
            diff = int(s) - pred_state
            nib = 0
            if diff < 0:
                nib |= 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            dec, pred_state, index_state = _ima_decode_nibbles(
                [nib], pred_state, index_state
            )
            nibbles.append(nib)
        nibbles += [0] * (nib_per_block - len(nibbles))
        for i in range(0, len(nibbles), 2):
            out.append(nibbles[i] | (nibbles[i + 1] << 4))
    byte_rate = sample_rate * block_align // block_samples
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate, byte_rate, block_align, 4, 2, block_samples
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    # 'fact' chunk: true sample count. The final block zero-pads to a full
    # nibble body, so without it a decoder returns the padded length — a
    # 100-sample signal came back as 505 samples (r06 ADVICE); decode_wav
    # trims compressed-format output to this count.
    body += b"fact" + struct.pack("<II", 4, len(arr))
    body += b"data" + struct.pack("<I", len(out)) + bytes(out)
    return b"RIFF" + struct.pack("<I", len(body)) + body
