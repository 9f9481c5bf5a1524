"""Multimodal column plumbing (SURVEY.md §2.11).

Images/audio/video are opaque ``binary`` payloads (the reference's BLOB,
``types.rs:104-108``) plus a typed metadata struct. The Spark-side
plumbing — schema, Arrow batch shape, mapInPandas signature, partition
discipline — is real and tested.

Decode status: all four image containers decode to REAL pixels with no
codec dependency — BMP/PPM as raw bytes, PNG via stdlib zlib
(inflate + unfilter), and baseline sequential JPEG via the pure-numpy
codec in ``llm/jpeg.py`` (Huffman + IDCT + Annex-K tables) — including
progressive (SOF2) multi-scan streams and 4:2:0/4:2:2 chroma
subsampling. Arithmetic-coded/hierarchical/12-bit JPEG degrades to
header metadata.
AUDIO decodes for real too: ``llm/audio.py`` parses RIFF/WAVE integer
PCM (8/16/24/32-bit, multi-channel), and VIDEO decodes for real in the
Motion-JPEG class: ``llm/video.py`` demuxes AVI with the same RIFF
walker and decodes frames through the pure-numpy JPEG codec — both
with the decoded=false degradation contract. Inter-frame codecs
(H.264-class) remain the honest boundary; swap in PyAV behind the
same column contract without touching any Spark plumbing.
``_fake_decode`` below survives only as the generic-binary fallback
feature for payloads that are not a supported container.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _key_pairs, _pair_sides

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_len", T.LongType()),
    ]
)

# the fixture container of the audio and video generators
_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _synth_payloads(
    docs: DataFrame,
    id_col: str,
    schema: T.StructType,
    row: Callable[[int], tuple],
    every: int = 1,
) -> DataFrame:
    """The one fixture generator loop: keep the ids with ``id % every ==
    0`` and emit ``(id, *row(id))`` per kept id, one frame per Arrow
    batch. Each public generator owns only its per-id rule and schema."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [i for i in map(int, pdf["doc_id"]) if i % every == 0]
            out = [(i, *row(i)) for i in ids]
            yield pd.DataFrame(
                {f.name: [r[k] for r in out] for k, f in enumerate(schema)}
            )

    return docs.select(F.col(id_col).alias("doc_id")).mapInPandas(gen, schema)


def _decode_rows(
    payloads: DataFrame,
    schema: T.StructType,
    decode: Callable[[bytes], tuple],
    fallback: Callable[[bytes], tuple] | None = None,
) -> DataFrame:
    """The one decode loop of the multimodal columns. ``schema`` runs
    ``doc_id, <middle values>, decoded``; ``decode(raw)`` returns the
    middle values of one payload. A payload ``decode`` rejects with
    NotImplementedError/ValueError emits decoded=false with NULL middle
    values, or with ``fallback(raw)`` when given (header metadata). A
    NULL payload emits the all-NULL row without calling either, so no
    batch fails on a row it was documented to degrade."""
    nulls = (None,) * (len(schema) - 2)

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in schema}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                mid, ok = nulls, False
                if payload is not None:
                    raw = bytes(payload)
                    try:
                        mid, ok = decode(raw), True
                    except (NotImplementedError, ValueError):
                        if fallback is not None:
                            mid = fallback(raw)
                for k, v in zip(rows, (did, *mid, ok)):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(do, schema)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_len", T.LongType()),
        T.StructField("feat_mean", T.DoubleType()),
        T.StructField("feat_dim", T.IntegerType()),
    ]
)


def with_binary_payload(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Attach a binary payload column + typed metadata. Here the payload
    is the UTF-8 encoding of the text (a deterministic stand-in for image
    bytes); real pipelines read with spark.read.format('binaryFile')."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length(payload).cast("long").alias("payload_len"),
    )


def _fake_decode(payload: bytes) -> tuple[float, int]:
    """Deterministic stand-in for a media decoder: 'features' are the mean
    byte value and the byte count. Raises like a real decoder on None.

    Replace with e.g. PIL.Image.open(io.BytesIO(payload)) — the Spark
    plumbing (Arrow batching, schema, partitioning) stays identical.
    """
    if payload is None:
        raise NotImplementedError("no payload; real decoder would fail here")
    if len(payload) == 0:
        return 0.0, 0
    return sum(payload) / len(payload), len(payload)


def decode_features(payloads: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Feature-extract payloads via mapInPandas (Arrow-batched; one python
    worker per partition — partition count controls decode parallelism)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload_len": pdf["payload_len"],
                    "feat_mean": [f[0] for f in feats],
                    "feat_dim": [f[1] for f in feats],
                }
            )

    return payloads.mapInPandas(decode_batches, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("payload_len", T.LongType()),
        T.StructField("target_bytes", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("frame_len", T.LongType()),
    ]
)


def _fake_resize(payload: bytes, target: int) -> bytes:
    """Byte-budget truncate/pad — NOT an image resize (kept for the
    generic binary-payload budget-capping plumbing and its test). The
    REAL pixel resize is :func:`resize_image_payloads` below: decode →
    box-downsample → lossless PPM re-encode."""
    if payload is None:
        raise NotImplementedError("no payload; real resizer would fail here")
    return payload[:target].ljust(target, b"\0")


def resize_payloads(payloads: DataFrame, target_bytes: int = 64) -> DataFrame:
    """Media resize over mapInPandas (decode stubbed, plumbing real)."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_fake_resize(p, target_bytes) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out,
                    "payload_len": [len(p) for p in out],
                    "target_bytes": target_bytes,
                }
            )

    return payloads.mapInPandas(do, RESIZED_SCHEMA)


def sample_frames(payloads: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling: one media payload row fans out to ``n_frames`` frame
    rows (the video analogue of explode). Fake frames are contiguous byte
    slices; a real impl swaps in a video decoder per Arrow batch. Output
    partitioning follows the input — no shuffle for the fan-out."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame": [], "frame_len": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    raise NotImplementedError("real frame sampler would fail here")
                step = max(len(payload) // n_frames, 1)
                for i in range(n_frames):
                    frame = bytes(payload[i * step : i * step + step])
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(frame)
                    rows["frame_len"].append(len(frame))
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(do, FRAME_SCHEMA)


# --- real image codecs (BMP / PPM, pure Python) ---------------------------

def encode_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal 24bpp BMP (BITMAPINFOHEADER, bottom-up rows, 4-byte row
    padding) with deterministic pixel bytes — a real, spec-conforming file
    any image viewer opens."""
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * height
    total = 54 + img_size
    header = (
        b"BM"
        + total.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + img_size.to_bytes(4, "little")
        + (2835).to_bytes(4, "little")
        + (2835).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
    )
    rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            v = (seed + 31 * x + 17 * y) % 256
            row += bytes((v, (v * 7) % 256, (v * 13) % 256))  # B, G, R
        rows.append(bytes(row) + b"\x00" * pad)
    return header + b"".join(rows)


def encode_ppm(
    width: int, height: int, seed: int = 0, maxval: int = 255
) -> bytes:
    """Minimal binary PPM (P6) with deterministic pixels. ``maxval`` >
    255 emits 2-byte big-endian samples (16-bit PPM) per the netpbm
    spec."""
    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    if not 1 <= maxval <= 65535:
        raise ValueError("maxval out of spec")
    header = f"P6\n{width} {height}\n{maxval}\n".encode("ascii")
    px = bytearray()
    for y in range(height):
        for x in range(width):
            v = (seed + 31 * x + 17 * y) % 256
            for c in (v, (v * 7) % 256, (v * 13) % 256):
                sample = c * maxval // 255
                if maxval > 255:
                    px += bytes(((sample >> 8) & 0xFF, sample & 0xFF))
                else:
                    px += bytes((sample,))
    return header + bytes(px)


def encode_png(width: int, height: int, seed: int = 0) -> bytes:
    """Real, spec-conforming 8-bit RGB PNG (IHDR + zlib IDAT + IEND,
    CRC-checked chunks, filter-type-0 scanlines) with deterministic
    pixels — pure stdlib (zlib/struct/binascii), no codec libs."""
    import binascii
    import struct
    import zlib

    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw += b"\x00"  # filter: None
        for x in range(width):
            v = (seed + 31 * x + 17 * y) % 256
            raw += bytes((v, (v * 7) % 256, (v * 13) % 256))
    idat = zlib.compress(bytes(raw), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def encode_png_palette(
    width: int,
    height: int,
    seed: int = 0,
    depth: int = 8,
    with_trns: bool = False,
    filtered: bool = False,
) -> bytes:
    """Real, spec-conforming PALETTE PNG (color type 3) fixture at bit
    depth 1/2/4/8 — deterministic indices packed MSB-first, a
    deterministic PLTE (and optional tRNS for per-entry alpha), and
    optionally Sub/Up filtered scanlines to exercise the byte-wise
    unfilter on index data. Pure stdlib; round-trip partner of
    ``decode_png_pixels``'s palette path."""
    import binascii
    import struct
    import zlib

    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette depth must be 1/2/4/8")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    ncolors = 1 << depth
    plte = bytearray()
    for i in range(ncolors):
        plte += bytes(
            (
                (seed + i * 37) % 256,
                (seed + i * 73) % 256,
                (seed + i * 11) % 256,
            )
        )
    stride = (width * depth + 7) // 8
    rows = []
    for y in range(height):
        bits = bytearray(stride)
        for x in range(width):
            v = (seed + 3 * x + 5 * y) % ncolors
            bitpos = x * depth
            bits[bitpos // 8] |= v << (8 - depth - bitpos % 8)
        rows.append(bytes(bits))
    raw = bytearray()
    for y, row in enumerate(rows):
        if not filtered or y == 0:
            raw += b"\x00" + row  # None
        elif y % 2:  # Sub (fbpp=1 on index bytes)
            raw += b"\x01"
            prev = 0
            for b in row:
                raw.append((b - prev) & 0xFF)
                prev = b
        else:  # Up
            raw += b"\x02" + bytes(
                (b - u) & 0xFF for b, u in zip(row, rows[y - 1])
            )
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", bytes(plte))
    if with_trns:
        # alpha for the first half of the palette only — the tail must
        # default to opaque per spec
        out += chunk(
            b"tRNS",
            bytes((seed + 19 * i) % 256 for i in range(ncolors // 2 or 1)),
        )
    out += chunk(b"IDAT", zlib.compress(bytes(raw), 6)) + chunk(b"IEND", b"")
    return out


def encode_jpeg_header(width: int, height: int, seed: int = 0) -> bytes:
    """Structurally valid JFIF marker stream: SOI, APP0, SOF0 (baseline,
    8-bit, 3 components) carrying the real dimensions, SOS, deterministic
    filler entropy bytes, EOI. NOT a decodable image (no DQT/DHT/real
    entropy coding — writing a true JPEG needs DCT+Huffman, i.e. a codec
    lib); every header scanner, including ``parse_image_meta``, reads
    dimensions from it exactly as from a camera JPEG."""
    import struct

    if width <= 0 or height <= 0:
        raise ValueError("width/height must be positive")
    soi = b"\xff\xd8"
    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1)
        + b"\x00\x00"
    )
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 8 + 3 * 3)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x03"
        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    sos = b"\xff\xda" + struct.pack(">H", 6 + 2 * 3) + b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00"
    entropy = bytes((seed + 7 * i) % 255 for i in range(32))  # never 0xFF
    return soi + app0 + sof0 + sos + entropy + b"\xff\xd9"


def _parse_png_meta(payload: bytes) -> tuple[str, int | None, int | None, int | None]:
    """IHDR parse: width/height big-endian at offsets 16/20; bpp =
    bit_depth x channels(color_type)."""
    if len(payload) < 29:
        return "unknown", None, None, None
    width = int.from_bytes(payload[16:20], "big")
    height = int.from_bytes(payload[20:24], "big")
    bit_depth = payload[24]
    color_type = payload[25]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        return "png", width, height, None
    return "png", width, height, bit_depth * channels


def _parse_jpeg_meta(payload: bytes) -> tuple[str, int | None, int | None, int | None]:
    """Marker scan to the first SOF0/1/2/3 frame header (the rule every
    image tool uses): skip variable-length segments via their big-endian
    lengths; dimensions live at +5 (height) / +7 (width) past the marker,
    bpp = precision x component count."""
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return "unknown", None, None, None
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # SOS: entropy-coded data follows, no SOF seen
            break
        seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):
            if i + 4 + 5 > n:
                break
            precision = payload[i + 4]
            height = int.from_bytes(payload[i + 5 : i + 7], "big")
            width = int.from_bytes(payload[i + 7 : i + 9], "big")
            ncomp = payload[i + 9]
            return "jpeg", width, height, precision * ncomp
        i += 2 + seg_len
    return "jpeg", None, None, None


def parse_image_meta(payload: bytes) -> tuple[str, int | None, int | None, int | None]:
    """Real header parse: (format, width, height, bits_per_pixel).

    BMP: magic 'BM', little-endian int32 dims at offsets 18/22 (negative
    height = top-down storage — reported as |height|), bpp at 28.
    PPM: 'P6'/'P3' ASCII header with '#' comments.
    PNG: magic + IHDR (big-endian dims, bit-depth x channels).
    JPEG: magic FFD8 + marker scan to SOF0/1/2/3.
    Anything else → ('unknown', None, None, None); a real codec lib
    slots in there.
    """
    if payload is None:
        raise ValueError("null payload")
    if len(payload) >= 8 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _parse_png_meta(payload)
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":
        return _parse_jpeg_meta(payload)
    if len(payload) >= 54 and payload[:2] == b"BM":
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        return "bmp", width, abs(height), bpp
    if len(payload) >= 2 and payload[:2] in (b"P6", b"P3"):
        fmt = payload[:2].decode("ascii")
        tokens: list[int] = []
        i = 2
        while i < len(payload) and len(tokens) < 3:
            c = payload[i : i + 1]
            if c == b"#":  # comment to end of line
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
            elif c.isspace():
                i += 1
            else:
                j = i
                while j < len(payload) and not payload[j : j + 1].isspace():
                    j += 1
                if not payload[i:j].isdigit():
                    return "unknown", None, None, None
                tokens.append(int(payload[i:j]))
                i = j
        if len(tokens) < 3:
            return "unknown", None, None, None
        width, height, maxval = tokens
        return ("ppm" if fmt == "P6" else "ppm_ascii"), width, height, (
            24 if maxval < 256 else 48
        )
    return "unknown", None, None, None


# (encoder, media type) arms of the id-derived image fixtures
_IMAGE_ARMS = (
    (encode_bmp, "image/bmp"),
    (encode_ppm, "image/x-portable-pixmap"),
    (encode_png, "image/png"),
    (encode_jpeg_header, "image/jpeg"),
)


def _image_row(arms: tuple, did: int, w: int, h: int) -> tuple:
    """One ``PAYLOAD_SCHEMA`` fixture row after doc_id: arm
    ``did % len(arms)`` encodes a w x h image with pixel seed
    ``did % 251``."""
    encode, mt = arms[did % len(arms)]
    p = encode(w, h, seed=did % 251)
    return p, mt, len(p)


def with_image_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL image payload per row (BMP for even ids, PPM for
    odd), dimensions derived deterministically from the id — so an oracle
    can independently derive the expected metadata and any writer/parser
    bug shows up as a differential mismatch. Runs in mapInPandas (encode
    is per-row Python, the exact shape a real ingest decoder uses)."""
    return _synth_payloads(
        docs, id_col, PAYLOAD_SCHEMA,
        lambda did: _image_row(_IMAGE_ARMS[:2], did, 4 + did % 13, 3 + did % 7),
    )


def with_multiformat_image_payload(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a payload per row across all four supported container
    formats — doc_id % 4: BMP, PPM, PNG, JPEG — dims derived from the id
    (same formula as ``with_image_payload``) so an oracle derives the
    expected metadata independently of the writer AND the parser."""
    return _synth_payloads(
        docs, id_col, PAYLOAD_SCHEMA,
        lambda did: _image_row(_IMAGE_ARMS, did, 4 + did % 13, 3 + did % 7),
    )


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("img_format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bpp", T.IntegerType()),
        T.StructField("aspect", T.DoubleType()),
        T.StructField("payload_len", T.LongType()),
    ]
)


def decode_image_meta(payloads: DataFrame) -> DataFrame:
    """Real image decode over mapInPandas: width/height/bpp/aspect parsed
    from actual BMP/PPM bytes (not metadata columns). Shuffle-free; decode
    parallelism = partition count, same plumbing as the stubbed paths."""

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [parse_image_meta(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "img_format": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                    "bpp": [m[3] for m in metas],
                    "aspect": [
                        round(m[1] / m[2], 6) if m[1] and m[2] else None
                        for m in metas
                    ],
                    "payload_len": pdf["payload_len"],
                }
            )

    return payloads.mapInPandas(do, IMAGE_META_SCHEMA)


def decode_features_arrow(payloads: DataFrame) -> DataFrame:
    """mapInArrow variant of ``decode_features`` (§2.10): the python worker
    sees raw ``pyarrow.RecordBatch``es — no pandas conversion cost. Must
    produce byte-identical results to the pandas path (tested)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("media_type", pa.string()),
            ("payload_len", pa.int64()),
            ("feat_mean", pa.float64()),
            ("feat_dim", pa.int32()),
        ]
    )

    def do(batches):
        for batch in batches:
            d = batch.to_pydict()
            feats = [_fake_decode(p) for p in d["payload"]]
            yield pa.RecordBatch.from_pydict(
                {
                    "doc_id": d["doc_id"],
                    "media_type": d["media_type"],
                    "payload_len": d["payload_len"],
                    "feat_mean": [f[0] for f in feats],
                    "feat_dim": [f[1] for f in feats],
                },
                schema=out_schema,
            )

    return payloads.mapInArrow(do, FEATURE_SCHEMA)

# --- full-pixel decoders (PNG/BMP/PPM, pure stdlib) --------------------------
# PNG needs only stdlib zlib (inflate + per-scanline unfilter), BMP/PPM
# are raw bytes, and baseline/progressive JPEG is pure math in
# llm/jpeg.py, so all four containers decode to real pixels with no
# codec dependency. Arithmetic coding stays unsupported.


def decode_png_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a non-interlaced PNG to (width, height, channels, raw
    pixel bytes, row-major, no padding). Supports 8-bit color types
    0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA) AND palette type 3 at
    bit depths 1/2/4/8 (palette PNGs are common in web scrapes):
    indices expand through PLTE to RGB, or to RGBA when a
    tRNS chunk carries per-entry alpha. Every filter type
    (None/Sub/Up/Average/Paeth), CRC-verified chunks.

    The unfilter loop is sequential per scanline byte (each recon byte
    depends on the left/up recon) — fine for the Arrow-batch sizes this
    rides in; a production pipeline swaps in a vectorized codec at the
    same mapInPandas boundary."""
    import binascii
    import struct
    import zlib

    if payload is None or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, ihdr, idat, plte, trns = 8, None, bytearray(), None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if binascii.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"tRNS":
            trns = data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"PNG interlace={interlace} needs a codec lib; "
            "this stdlib decoder covers non-interlaced"
        )
    paletted = color == 3
    if paletted:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"PNG palette bit depth {depth} illegal")
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing/malformed PLTE")
        channels = 1  # one index per pixel in the coded stream
    else:
        if depth != 8:
            raise NotImplementedError(
                f"PNG depth={depth} for color type {color} unsupported "
                "(8-bit only outside palette images)"
            )
        channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
        if channels is None:
            raise ValueError(f"PNG color type {color} illegal")
    # stride in BYTES; fbpp is the filter's left-neighbor distance
    # (spec: ceil(depth*channels/8), min 1 — sub-byte depths filter on
    # whole bytes)
    stride = (w * depth * channels + 7) // 8
    fbpp = max(1, (depth * channels) // 8)
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    out = bytearray(h * stride)
    prev_off = -1
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        off = y * stride
        if ftype == 0:  # None
            out[off : off + stride] = line
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[off + i - fbpp] if i >= fbpp else 0
                out[off + i] = (line[i] + left) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                up = out[prev_off + i] if y else 0
                out[off + i] = (line[i] + up) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[off + i - fbpp] if i >= fbpp else 0
                up = out[prev_off + i] if y else 0
                out[off + i] = (line[i] + (left + up) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = out[off + i - fbpp] if i >= fbpp else 0
                b = out[prev_off + i] if y else 0
                c = out[prev_off + i - fbpp] if (y and i >= fbpp) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[off + i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype}")
        prev_off = off
    if not paletted:
        return w, h, channels, bytes(out)
    return _expand_palette(bytes(out), w, h, depth, stride, plte, trns)


def _expand_palette(
    idx_bytes: bytes,
    w: int,
    h: int,
    depth: int,
    stride: int,
    plte: bytes,
    trns: bytes | None,
) -> tuple[int, int, int, bytes]:
    """Palette expansion: unpack MSB-first sub-byte indices per row
    (vectorized — shift table per depth), bounds-check against PLTE,
    gather RGB; a tRNS chunk upgrades output to RGBA (entries beyond
    its length are opaque, per spec)."""
    import numpy as np

    rows = np.frombuffer(idx_bytes, dtype=np.uint8).reshape(h, stride)
    if depth == 8:
        idx = rows[:, :w]
    else:
        shifts = np.arange(8 - depth, -1, -depth, dtype=np.uint8)
        mask = (1 << depth) - 1
        idx = (
            (rows[:, :, None] >> shifts[None, None, :]) & mask
        ).reshape(h, -1)[:, :w]
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("PNG palette index out of range")
    rgb = pal[idx]  # h x w x 3
    if trns is None:
        return w, h, 3, rgb.tobytes()
    alpha = np.full(len(pal), 255, dtype=np.uint8)
    alpha[: min(len(trns), len(pal))] = np.frombuffer(
        trns[: len(pal)], dtype=np.uint8
    )
    rgba = np.concatenate([rgb, alpha[idx][..., None]], axis=-1)
    return w, h, 4, rgba.tobytes()


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a 24bpp uncompressed BMP to (width, height, 3, RGB bytes,
    row-major top-down) — handles bottom-up (positive height) and
    top-down (negative height) layouts and 4-byte row padding; converts
    the stored BGR to RGB."""
    if payload is None or payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h_signed = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP bpp={bpp}/compression={compression}: only 24bpp "
            "uncompressed is supported here"
        )
    h = abs(h_signed)
    bottom_up = h_signed > 0
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    out = bytearray(h * row_raw)
    for row in range(h):
        src = data_off + row * (row_raw + pad)
        y = (h - 1 - row) if bottom_up else row
        line = payload[src : src + row_raw]
        if len(line) < row_raw:
            raise ValueError("BMP truncated")
        o = y * row_raw
        for x in range(w):
            b_, g_, r_ = line[3 * x], line[3 * x + 1], line[3 * x + 2]
            out[o + 3 * x : o + 3 * x + 3] = bytes((r_, g_, b_))
    return w, h, 3, bytes(out)


def decode_ppm_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a binary PPM (P6, maxval 255) to (width, height, 3, RGB
    bytes) — tolerates comment lines in the header like any netpbm
    reader."""
    if payload is None or payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3 and pos < len(payload):
        ch = payload[pos : pos + 1]
        if ch == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif ch.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(payload[start:pos]))
    if len(fields) != 3:
        raise ValueError("PPM truncated header")
    w, h, maxval = fields
    if not 1 <= maxval <= 65535:
        raise ValueError(f"PPM maxval out of spec: {maxval}")
    pos += 1  # the single whitespace after maxval
    if maxval == 255:
        px = payload[pos : pos + w * h * 3]
        if len(px) < w * h * 3:
            raise ValueError("PPM truncated pixels")
        return w, h, 3, bytes(px)
    # non-255 maxval: 2-byte big-endian samples when maxval > 255 (the
    # netpbm rule), 1-byte otherwise; rescale to 8-bit with round-half-up
    # integer arithmetic — deterministic, no float
    import numpy as np

    if maxval > 255:
        need = w * h * 3 * 2
        raw = payload[pos : pos + need]
        if len(raw) < need:
            raise ValueError("PPM truncated pixels")
        samples = np.frombuffer(raw, dtype=">u2").astype(np.uint32)
    else:
        need = w * h * 3
        raw = payload[pos : pos + need]
        if len(raw) < need:
            raise ValueError("PPM truncated pixels")
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.uint32)
    scaled = (samples * 255 + maxval // 2) // maxval
    return w, h, 3, scaled.astype(np.uint8).tobytes()


def decode_image_pixels(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """Dispatch on magic bytes to a full-pixel decode: (format, width,
    height, channels, raw bytes). All four supported containers decode
    to real pixels with no codec dependency — PNG via stdlib zlib,
    BMP/PPM as raw bytes, and baseline sequential JPEG via the pure
    numpy codec in ``llm/jpeg.py`` (Huffman + IDCT + Annex-K tables).
    Arithmetic-coded JPEG raises NotImplementedError (a genuinely
    unsupported variant); header-only or corrupt streams raise
    ValueError — ``image_pixel_stats`` degrades both to metadata."""
    if payload is None:
        raise ValueError("no payload")
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return ("png", *decode_png_pixels(payload))
    if payload[:2] == b"BM":
        return ("bmp", *decode_bmp_pixels(payload))
    if payload[:2] == b"P6":
        return ("ppm", *decode_ppm_pixels(payload))
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels

        w, h, ch, raw = decode_jpeg_pixels(payload)
        return ("jpeg", w, h, ch, raw)
    raise ValueError("unknown image container")


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("img_format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def image_pixel_stats(payloads: DataFrame) -> DataFrame:
    """REAL pixel feature extraction over mapInPandas: full decode
    (PNG inflate+unfilter / BMP / PPM / baseline JPEG) then per-channel
    means. Rows whose payload can't be pixel-decoded — an unsupported
    JPEG variant (arithmetic-coded, hierarchical) or a header-only/
    corrupt stream — emit decoded=false with header metadata instead of failing
    the batch: a corpus pipeline keeps moving and the undecodable
    subset is queryable. Arrow-batched, map-only, shuffle-free;
    partition count controls decode parallelism."""

    def stats(raw: bytes) -> tuple:
        fmt, w, h, ch, px = decode_image_pixels(raw)
        n = w * h
        sums = [0, 0, 0]
        if ch >= 3:
            for i in range(0, len(px), ch):
                sums[0] += px[i]
                sums[1] += px[i + 1]
                sums[2] += px[i + 2]
        else:  # gray / gray+alpha: replicate luma across RGB
            for i in range(0, len(px), ch):
                sums[0] += px[i]
            sums[1] = sums[2] = sums[0]
        return fmt, w, h, ch, sums[0] / n, sums[1] / n, sums[2] / n

    def header(raw: bytes) -> tuple:
        fmt, w, h, _bpp = parse_image_meta(raw)
        return fmt, w, h, None, None, None, None

    return _decode_rows(payloads, PIXEL_STATS_SCHEMA, stats, header)


def with_real_jpeg_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL, decodable baseline JPEG per row (the
    ``llm/jpeg.py`` pure-numpy encoder, smooth-gradient pixels, dims
    16+id%17 × 16+id%13 so every image spans multiple MCU blocks).
    Complements ``with_multiformat_image_payload`` — whose JPEG arm
    stays header-only, preserving the decoded=false degradation path —
    by exercising the full Huffman+IDCT decode."""
    from .jpeg import synth_jpeg

    return _synth_payloads(
        docs, id_col, PAYLOAD_SCHEMA,
        lambda did: _image_row(
            ((synth_jpeg, "image/jpeg"),), did, 16 + did % 17, 16 + did % 13
        ),
    )


def with_mixed_codec_payload(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize the full-decode codec corpus: per row, doc_id % 5
    rotates through the codec shapes a header-only decoder cannot read —
    4:2:0 JPEG (the web default), 4:2:2 JPEG, a 4-bit
    palette PNG, an 8-bit palette PNG with tRNS alpha (decodes to
    RGBA), and a PROGRESSIVE (SOF2) 4:2:0 JPEG (the web's other
    default shape). Every payload is a real, spec-conforming stream
    from the in-repo encoders; dims follow the q228 rule
    (16+id%17 x 16+id%13, multi-MCU / multi-scanline)."""
    from .jpeg import synth_jpeg, synth_jpeg_progressive

    arms = (
        (partial(synth_jpeg, sampling="4:2:0"), "image/jpeg"),
        (partial(synth_jpeg, sampling="4:2:2"), "image/jpeg"),
        (partial(encode_png_palette, depth=4), "image/png"),
        (partial(encode_png_palette, depth=8, with_trns=True), "image/png"),
        (partial(synth_jpeg_progressive, sampling="4:2:0"), "image/jpeg"),
    )
    return _synth_payloads(
        docs, id_col, PAYLOAD_SCHEMA,
        lambda did: _image_row(arms, did, 16 + did % 17, 16 + did % 13),
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def image_dhash(payloads: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual DIFFERENCE HASH over REAL decoded pixels — the image
    near-dup key that survives re-encoding (a JPEG of a PNG of the same
    picture hashes alike, where byte-level md5 sees two unrelated
    blobs): decode via the in-repo codecs, luma, box-downsample to
    (grid+1)×grid, emit one bit per horizontal neighbor pair
    (left > right). 64 bits packed 32-per-BIGINT (the hamming_rerank
    convention — bit 63 is engine-divergent).

    Box-downsampling uses exact integer-area averaging over a
    grid-aligned crop (deterministic — no resampling-library kernels to
    disagree about). Arrow-batched mapInPandas, map-only; undecodable
    payloads degrade decoded=false.
    """
    import numpy as np

    if grid != 8:
        raise ValueError("grid must be 8 (64-bit dhash contract)")

    def dhash(raw: bytes) -> tuple:
        fmt, w, h, ch, px = decode_image_pixels(raw)
        a = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
        if ch >= 3:
            luma = 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
        else:
            luma = a[..., 0].astype(np.float64)
        gw, gh = grid + 1, grid
        if w < gw or h < gh:
            raise ValueError("image smaller than the hash grid")
        cw, chh = (w // gw) * gw, (h // gh) * gh
        crop = luma[:chh, :cw]
        small = crop.reshape(gh, chh // gh, gw, cw // gw).mean(axis=(1, 3))
        bits = (small[:, :-1] > small[:, 1:]).ravel()
        lo = int(sum(1 << i for i in range(32) if bits[i]))
        hi = int(sum(1 << (i - 32) for i in range(32, 64) if bits[i]))
        return lo, hi

    return _decode_rows(payloads, PHASH_SCHEMA, dhash)


def image_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    n_bands: int = 4,
) -> DataFrame:
    """Image near-dup candidate pairs from dhash values — the multimodal
    member of the dedup family, same shape as MinHash LSH: band the 64
    hash bits into ``n_bands`` keys, one equi-join on (band, key), dedupe
    candidates, verify with exact XOR + bit_count Hamming. Never
    all-pairs.

    Recall contract: banding gives a pigeonhole GUARANTEE only when
    ``max_hamming < n_bands`` (then some band must be untouched). At the
    default (max_hamming=6, n_bands=4) the 6 differing bits CAN spread
    across all four bands (e.g. 2+2+1+1) and miss every band — recall is
    honest-probabilistic, not guaranteed, exactly like MinHash LSH band
    tuning; the pytest pins 199/200 observed recall on the cross-codec
    twin corpus. ``n_bands`` is the recall dial: fewer, wider bands
    raise the guarantee threshold at the cost of bigger buckets.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b,
    hamming <= max_hamming.
    """
    if not 0 <= max_hamming <= 64:
        raise ValueError("max_hamming must be in [0, 64]")
    if n_bands not in (2, 4):
        raise ValueError("n_bands must be 2 or 4 (16/32-bit bands)")
    h = hashes.filter(F.col("decoded")).select(
        "doc_id", "dhash_lo", "dhash_hi"
    )
    width = 64 // n_bands  # 16 or 32
    mask = (1 << width) - 1

    def band(b):
        bitpos = b * width
        src = F.col("dhash_lo") if bitpos < 32 else F.col("dhash_hi")
        return F.shiftrightunsigned(src, bitpos % 32).bitwiseAND(F.lit(mask))

    # one (doc, (band index, band value)) row per band and one self-join
    # on that key — the lsh_band_keys -> lsh_candidate_pairs shape
    keyed = h.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("b"), band(b).alias("v"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    )
    cands = _key_pairs(keyed, "bk").select("doc_a", "doc_b").distinct()
    ham = (
        F.bit_count(F.col("dhash_lo_a").bitwiseXOR(F.col("dhash_lo_b")))
        + F.bit_count(F.col("dhash_hi_a").bitwiseXOR(F.col("dhash_hi_b")))
    ).cast("int")
    return (
        _pair_sides(cands, h)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --- real image resize (box downsample + lossless re-encode) ---------------

RESIZE_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("src_format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def resize_image(payload: bytes, factor: int) -> tuple[str, int, int, bytes]:
    """REAL integer-factor box downsample: decode any supported
    container to pixels (``decode_image_pixels``), average each
    factor×factor block per channel with FLOOR of the exact integer
    block sum (portable arithmetic — a SQL oracle replays it
    bit-for-bit), re-encode losslessly as binary PPM (P6). Input is
    cropped to a multiple of ``factor``; grayscale replicates to RGB
    for the P6 container. Returns (src_format, out_w, out_h, ppm
    bytes). This retires the byte-truncation ``_fake_resize`` stand-in
    now that all four containers decode to real pixels."""
    import numpy as np

    if factor < 1:
        raise ValueError("factor must be >= 1")
    fmt, w, h, ch, raw = decode_image_pixels(payload)
    ow, oh = w // factor, h // factor
    if ow < 1 or oh < 1:
        raise ValueError("image smaller than resize factor")
    px = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, ch)
    if ch == 1:
        px = np.repeat(px, 3, axis=2)
    elif ch == 2:  # gray+alpha: replicate luma, drop alpha
        px = np.repeat(px[:, :, :1], 3, axis=2)
    elif ch == 4:  # drop alpha
        px = px[:, :, :3]
    crop = px[: oh * factor, : ow * factor, :].astype(np.int64)
    blocks = crop.reshape(oh, factor, ow, factor, 3)
    sums = blocks.sum(axis=(1, 3))
    out = (sums // (factor * factor)).astype(np.uint8)
    header = f"P6\n{ow} {oh}\n255\n".encode("ascii")
    return fmt, ow, oh, header + out.tobytes()


def resize_image_payloads(payloads: DataFrame, factor: int = 2) -> DataFrame:
    """Distributed REAL image resize over mapInPandas: decode →
    box-downsample → lossless PPM re-encode, Arrow-batched, map-only,
    shuffle-free (the multimodal plumbing contract, now with real
    pixels end-to-end). Undecodable payloads emit decoded=false with
    NULL payload — the image_pixel_stats degradation contract."""

    def resize(raw: bytes) -> tuple:
        fmt, ow, oh, out = resize_image(raw, factor)
        return bytearray(out), fmt, ow, oh

    return _decode_rows(payloads, RESIZE_REAL_SCHEMA, resize)


GRAY_HIST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("min_gray", T.LongType()),
        T.StructField("max_gray", T.LongType()),
        T.StructField("n_bins_used", T.LongType()),
        T.StructField("hist", T.ArrayType(T.LongType())),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def image_gray_histogram(payloads: DataFrame, n_bins: int = 16) -> DataFrame:
    """Grayscale luminance histogram over REAL decoded pixels — the
    exposure/contrast quality gate of an image-corpus pipeline (blank,
    clipped, or low-dynamic-range images show up as 1-2 occupied bins
    before any model sees them). Grayscale is the integer mean
    (r+g+b)//3 (single-channel images pass through), binned into
    ``n_bins`` equal 256/n_bins-wide buckets.

    Output per doc: (n_px, min_gray, max_gray, n_bins_used, hist) —
    ALL exact integers (the histogram ships as an array so downstream
    entropy/contrast scalars can be computed engine-side and stay
    SQL-replayable; see q341). Undecodable payloads degrade to
    decoded=false. Arrow-batched mapInPandas, map-only, shuffle-free.
    """
    if 256 % n_bins:
        raise ValueError("n_bins must divide 256")
    width = 256 // n_bins

    def histogram(raw: bytes) -> tuple:
        import numpy as np

        _fmt, w, h, ch, px = decode_image_pixels(raw)
        arr = np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64)
        if ch >= 3:
            pix = arr.reshape(-1, ch)
            gray = (pix[:, 0] + pix[:, 1] + pix[:, 2]) // 3
        else:
            gray = arr.reshape(-1, ch)[:, 0]
        counts = np.bincount(gray // width, minlength=n_bins)
        return (
            int(gray.size),
            int(gray.min()),
            int(gray.max()),
            int(np.count_nonzero(counts)),
            [int(c) for c in counts],
        )

    return _decode_rows(payloads, GRAY_HIST_SCHEMA, histogram)
