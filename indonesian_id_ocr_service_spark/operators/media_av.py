"""Multimodal audio/video columns (training-data ops).

Media rides through the engine as opaque ``binary`` columns with typed
metadata; decode / feature-extract / frame-sample are Arrow-batched
mapInPandas kernels (never per-row Spark UDFs). Real codec libraries
are absent from this environment, so the containers are deterministic
wire formats the engine fully owns (same pattern as IMG1,
image_ops.py) — the Spark-side plumbing (schema, partitioning, UDF
signature, batch shape, explode-to-frames) is real and oracle-checked;
swapping a real demuxer/decoder into ``decode_vid1``/``decode_aud1``
changes nothing upstream.

Wire formats (big-endian):
  VID1 = b"VID1" + u16 n_frames + n_frames × IMG1 blob (u32 length
         prefix each) — a frame sequence of grayscale images
  AUD1 = b"AUD1" + u32 sample_rate + u32 n_samples + n_samples ×
         i16 PCM — mono 16-bit audio
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from . import image_ops as I

__all__ = [
    "encode_vid1", "decode_vid1", "encode_aud1", "decode_aud1",
    "synth_video", "synth_audio", "frame_sample", "audio_features",
]

_VID_MAGIC = b"VID1"
_AUD_MAGIC = b"AUD1"


# ---------------------------------------------------------------------------
# containers
# ---------------------------------------------------------------------------


def encode_vid1(frames: list) -> bytes:
    out = bytearray(_VID_MAGIC)
    out += struct.pack(">H", len(frames))
    for f in frames:
        blob = I.encode_img1(f)
        out += struct.pack(">I", len(blob))
        out += blob
    return bytes(out)


def decode_vid1(payload: bytes):
    """VID1 → list of grayscale frames, or None if not VID1."""
    if not payload or payload[:4] != _VID_MAGIC:
        return None
    try:
        (n,) = struct.unpack_from(">H", payload, 4)
        pos = 6
        frames = []
        for _ in range(n):
            (ln,) = struct.unpack_from(">I", payload, pos)
            pos += 4
            img = I.decode_img1(payload[pos:pos + ln])
            if img is None:
                return None
            frames.append(img)
            pos += ln
        return frames
    except struct.error:
        return None


def encode_aud1(pcm: np.ndarray, rate: int) -> bytes:
    pcm = np.asarray(pcm, dtype=">i2")
    return (_AUD_MAGIC + struct.pack(">II", rate, len(pcm))
            + pcm.tobytes())


def decode_aud1(payload: bytes):
    """AUD1 → (rate, int16 ndarray), or None if not AUD1."""
    if not payload or payload[:4] != _AUD_MAGIC:
        return None
    try:
        rate, n = struct.unpack_from(">II", payload, 4)
        pcm = np.frombuffer(payload, dtype=">i2", count=n, offset=12)
        if len(pcm) != n:
            return None
        return rate, pcm.astype(np.int16)
    except (struct.error, ValueError):
        return None


# ---------------------------------------------------------------------------
# deterministic synthesis (the oracle regenerates the same media)
# ---------------------------------------------------------------------------


def synth_video(doc_id: int) -> bytes:
    """4 + i%5 flat 32×48 frames; frame j has brightness
    40 + (i·7 + j·13) % 180 — closed-form per (doc, frame)."""
    i = int(doc_id)
    frames = [
        np.full((32, 48), 40 + (i * 7 + j * 13) % 180, np.uint8)
        for j in range(4 + i % 5)
    ]
    return encode_vid1(frames)


#: audio synth parameters (shared with the oracle SQL)
AUD_RATE = 8000
AUD_PHASE = 0.1


def synth_audio(doc_id: int) -> bytes:
    """Mono sine: f = 220 + (i%5)·110 Hz, n = 800 + (i%4)·400 samples,
    amp 0.5, phase 0.1 rad (no sample lands on an exact zero). The
    quantized samples round(16383.5·sin(...)) are reproducible in any
    engine with IEEE double sin."""
    i = int(doc_id)
    f = 220 + (i % 5) * 110
    n = 800 + (i % 4) * 400
    t = np.arange(n, dtype=np.float64)
    s = np.sin(2.0 * np.pi * f * t / AUD_RATE + AUD_PHASE)
    # floor(x+0.5) instead of rint: identical halfway semantics in
    # every engine (rint is round-half-to-even, SQL round() is
    # half-away-from-zero)
    pcm = np.floor(16383.5 * s + 0.5).astype(np.int16)
    return encode_aud1(pcm, AUD_RATE)


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def frame_sample(df: DataFrame, every_k: int = 2) -> DataFrame:
    """(doc_id, video payload) → one row per SAMPLED frame
    (idx % k == 0): (doc_id, frame_idx, h, w, mean_q = round(4·mean)).
    The explode happens inside the Arrow batch — no intermediate
    array-of-binary column, and a doc's frames never leave its
    partition."""
    import pandas as pd

    id_type = dict(df.dtypes)["doc_id"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = decode_vid1(
                    bytes(payload) if payload is not None else b"")
                if frames is None:
                    continue
                for j, frm in enumerate(frames):
                    if j % every_k:
                        continue
                    # floor(x+0.5), not Python round(): half-to-even
                    # would diverge from a half-away SQL oracle on
                    # payloads whose 4*mean hits a .5 boundary
                    rows.append((did, j, frm.shape[0], frm.shape[1],
                                 int(np.floor(4.0 * float(frm.mean())
                                              + 0.5))))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "frame_idx", "h", "w", "mean_q"])

    return df.select("doc_id", "payload").mapInPandas(
        gen, f"doc_id {id_type}, frame_idx int, h int, w int, "
             f"mean_q int")


def audio_features(df: DataFrame) -> DataFrame:
    """(doc_id, audio payload) → per-clip features over the quantized PCM:
    duration, zero-crossing count, peak, integer-exact RMS. All
    integer arithmetic after quantization, so an oracle regenerating
    the same PCM matches bit-for-bit."""
    import pandas as pd

    id_type = dict(df.dtypes)["doc_id"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                dec = decode_aud1(
                    bytes(payload) if payload is not None else b"")
                if dec is None:
                    continue
                rate, pcm = dec
                q = pcm.astype(np.int64)
                n = len(q)
                zc = int(np.sum(q[:-1] * q[1:] < 0)) if n > 1 else 0
                # floor(x+0.5): engine-portable halfway rounding
                rms = int(np.floor(
                    np.sqrt(float(np.sum(q * q)) / n) + 0.5)) if n else 0
                rows.append((did, int(rate), n,
                             int(np.floor(1000.0 * n / rate + 0.5)),
                             zc, int(np.max(np.abs(q))) if n else 0,
                             rms))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "rate", "n_samples", "duration_ms",
                "zero_crossings", "peak", "rms"])

    return df.select("doc_id", "payload").mapInPandas(
        gen, f"doc_id {id_type}, rate int, n_samples int, "
             f"duration_ms int, zero_crossings int, peak int, rms int")
