"""Real video decode for the multimodal surface — Motion-JPEG AVI.

AVI is a RIFF container (the same chunk grammar ``llm/audio.py`` walks
for WAV) and Motion-JPEG frames are baseline JPEGs, which
``llm/jpeg.py`` decodes for real (Huffman + IDCT,
4:2:0/4:2:2/progressive). Composing the two gives real video decode
with zero codec dependency for the MJPEG class (the capture format of
webcams, dashcams, and lab equipment; inter-frame codecs like H.264
remain out of scope — they degrade to decoded=false rows, the
image/audio contract).

Container surface: RIFF 'AVI ' → LIST hdrl (avih main header: frame
period, dims, count) → LIST movi ('00dc' compressed-frame chunks).
The parser walks top-level and LIST sub-chunks per spec with
word-aligned sizes and ignores everything it doesn't need (idx1,
strl details) — tolerant the way real demuxers are.

Scale shape: decode + per-frame features run in Arrow-batched
``mapInPandas``, map-only, shuffle-free; FRAME SAMPLING (every k-th
frame) bounds per-row work the way production frame extraction does —
a row's cost is frames_sampled × one JPEG decode, independent of the
video's full length.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import _BLOB_SCHEMA, _decode_rows, _synth_payloads


def encode_mjpeg_avi(
    frames: list[np.ndarray],
    fps: int = 10,
    sampling: str = "4:4:4",
) -> bytes:
    """Minimal spec-conforming Motion-JPEG AVI: RIFF('AVI ') with an
    hdrl LIST (avih + one vids/MJPG strl) and a movi LIST of '00dc'
    JPEG chunks — every frame encoded by the in-repo pure-numpy JPEG
    encoder. All frames must share one (h, w, 3) shape."""
    from .jpeg import encode_jpeg_pixels

    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[0], frames[0].shape[1]
    if any(f.shape != frames[0].shape for f in frames):
        raise ValueError("all frames must share one shape")
    payloads = [encode_jpeg_pixels(f, sampling=sampling) for f in frames]

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def list_chunk(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0, 0, 0x10,        # max bytes/sec, padding, flags (HASINDEX off)
        len(payloads), 0, 1, 0,  # total frames, initial, streams, bufsize
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, fps,
                                        0, len(payloads), 0, 0, 0, 0)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0
    )
    hdrl = list_chunk(
        b"hdrl",
        chunk(b"avih", avih)
        + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = list_chunk(b"movi", b"".join(chunk(b"00dc", p) for p in payloads))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_mjpeg_avi(
    payload: bytes,
) -> tuple[float, int, int, int, list[bytes]]:
    """Parse a Motion-JPEG AVI: (fps, width, height, n_frames,
    [jpeg payload per frame]). Non-AVI RIFF or missing movi raises
    ValueError; an AVI whose frames are not JPEG raises
    NotImplementedError (the honest inter-frame-codec boundary)."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF stream")
    if payload[8:12] != b"AVI ":
        raise ValueError("RIFF but not AVI")

    fps = 0.0
    width = height = n_frames = 0
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal fps, width, height, n_frames
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            body_start = pos + 8
            body_end = min(body_start + size, end)
            if cid == b"LIST":
                walk(buf, body_start + 4, body_end)
            elif cid == b"avih" and size >= 40:
                (usec_pf,) = struct.unpack_from("<I", buf, body_start)
                n = struct.unpack_from("<I", buf, body_start + 16)[0]
                w = struct.unpack_from("<I", buf, body_start + 32)[0]
                h = struct.unpack_from("<I", buf, body_start + 36)[0]
                fps = 1_000_000 / usec_pf if usec_pf else 0.0
                n_frames, width, height = n, w, h
            elif cid[2:4] == b"dc":
                frames.append(buf[body_start:body_end])
            pos = body_start + size + (size & 1)

    walk(payload, 12, len(payload))
    if not frames:
        raise ValueError("no movi frame chunks")
    if not frames[0].startswith(b"\xff\xd8"):
        raise NotImplementedError("AVI frames are not MJPEG")
    return fps, width, height, len(frames), frames


VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("frames_sampled", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("motion", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def video_frame_stats(payloads: DataFrame, every: int = 2) -> DataFrame:
    """REAL video feature extraction over mapInPandas: demux the AVI,
    decode every ``every``-th MJPEG frame through the pure-numpy JPEG
    decoder, and emit per-video means plus a MOTION score (mean
    absolute inter-sampled-frame pixel delta — the static-vs-dynamic
    triage signal; 0 for a still clip). Undecodable payloads
    (inter-frame codecs, corrupt streams) degrade to decoded=false —
    the image/audio contract. Arrow-batched, map-only, shuffle-free;
    frame sampling bounds per-row cost independent of clip length."""
    from .jpeg import decode_jpeg_pixels

    if every <= 0:
        raise ValueError("every must be positive")

    def stats(raw: bytes) -> tuple:
        fps, w, h, n, frames = decode_mjpeg_avi(raw)
        sampled = frames[::every]
        pix = []
        for fpay in sampled:
            fw, fh, fc, px = decode_jpeg_pixels(fpay)
            pix.append(
                np.frombuffer(px, dtype=np.uint8)
                .reshape(fh, fw, fc)
                .astype(np.float64)
            )
        stack = np.stack(pix)
        means = stack.reshape(-1, 3).mean(axis=0)
        motion = (
            float(np.abs(np.diff(stack, axis=0)).mean()) if len(pix) > 1 else 0.0
        )
        return (
            fps, w, h, n,
            n / fps if fps else None,
            len(sampled),
            float(means[0]), float(means[1]), float(means[2]),
            motion,
        )

    return _decode_rows(payloads, VIDEO_STATS_SCHEMA, stats)


def with_mjpeg_payload(
    docs: DataFrame, id_col: str = "doc_id", every: int = 1
) -> DataFrame:
    """Synthesize a REAL decodable MJPEG AVI per row (4-6 gradient
    frames whose offsets shift per frame, so motion > 0; dims vary with
    the id across MCU boundaries)."""

    def row(i: int) -> tuple:
        w, h = 16 + i % 9, 16 + i % 7
        ys, xs = np.mgrid[0:h, 0:w]
        frames = [
            np.stack(
                [
                    ((xs * 4 + i + 7 * t) % 256),
                    ((ys * 4 + 2 * i) % 256),
                    ((xs + ys + 3 * t) % 256),
                ],
                axis=-1,
            ).astype(np.uint8)
            for t in range(4 + i % 3)
        ]
        return (encode_mjpeg_avi(frames, fps=10),)

    return _synth_payloads(docs, id_col, _BLOB_SCHEMA, row, every)
