"""Baseline JPEG codec in pure numpy + stdlib — no codec library.

Baseline sequential DCT JPEG (ITU-T T.81) is self-contained math:
8×8 forward/inverse DCT, the Annex-K quantization and Huffman tables,
zigzag ordering, and a bit reader that honors 0xFF00 byte stuffing and
restart markers. What genuinely needs a production codec is SPEED, not
semantics — so the decoder here is the semantic reference
implementation, Arrow-batched by `multimodal.image_pixel_stats` so the
scale lever is partition parallelism (the same posture as the PNG
inflate path).

Supported: baseline sequential (SOF0), extended sequential (SOF1),
AND progressive (SOF2, Huffman — T.81 Annex G: DC first/refinement,
AC spectral-selection first scans with EOB-run coding, AC successive-
approximation refinement), grayscale and 3-component with ANY
divisible Hi×Vi sampling grid up to 4×4 — which covers 4:4:4, 4:2:2,
4:2:0 (the overwhelming majority of real-world JPEGs) and 4:1:1 —
8-bit precision, optional restart intervals. Subsampled chroma is
upsampled by sample replication (nearest neighbor), the
T.81-sanctioned reconstruction; decoders only differ in optional
smoothing, which is presentation, not semantics. Arithmetic coding,
hierarchical, and 12-bit modes raise NotImplementedError — callers
(e.g. ``image_pixel_stats``) degrade to header metadata.

The encoder exists to synthesize REAL decodable fixtures (fixture
discipline: everything deterministic from a seed) and to pin the
decoder with round-trip tests; it is not a product surface.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# --- Annex K tables (ITU-T T.81) --------------------------------------------

QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# (bits[1..16], huffval) per Annex K.3
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8-point DCT-II matrix: forward F = M f Mᵀ, inverse f = Mᵀ F M
_DCT_M = np.array(
    [
        [
            (math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8))
            * math.cos((2 * x + 1) * u * math.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


# --- Huffman -----------------------------------------------------------------


def _build_huffman(bits: list[int], vals: list[int]):
    """(length, code) → symbol decode map AND symbol → (code, length)
    encode map, per the canonical T.81 code assignment."""
    decode: dict[tuple[int, int], int] = {}
    encode: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            decode[(length, code)] = sym
            encode[sym] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return decode, encode


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            self._nbits -= 8
            byte = (self._acc >> self._nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec


class _BitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, surfaces restart
    markers (0xFFD0–D7) as alignment events."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0

    def _next_byte(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy segment")
        b = d[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = d[self.pos] if self.pos < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 1
                return 0xFF
            # a real marker: let the caller see it (rewind one)
            self.pos -= 1
            raise _MarkerReached(0xFF00 | nxt)
        return b

    def read_bit(self) -> int:
        if self._nbits == 0:
            self._acc = self._next_byte()
            self._nbits = 8
        self._nbits -= 1
        return (self._acc >> self._nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_past_marker(self) -> int:
        """Skip to and consume the next marker (restart handling);
        returns the marker code."""
        self._nbits = 0
        d = self.data
        while self.pos < len(d) and d[self.pos] != 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(d):
            raise ValueError("truncated JPEG at restart")
        marker = 0xFF00 | d[self.pos + 1]
        self.pos += 2
        return marker


class _MarkerReached(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _decode_huff(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: map a ``size``-bit magnitude to its signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _size_of(v: int) -> int:
    return 0 if v == 0 else abs(v).bit_length()


# --- encoder -----------------------------------------------------------------


def _encode_block(
    block: np.ndarray,
    q: np.ndarray,
    dc_pred: int,
    dc_enc,
    ac_enc,
    w: _BitWriter,
) -> int:
    f = _DCT_M @ (block.astype(np.float64) - 128.0) @ _DCT_M.T
    coeff = np.round(f / q).astype(np.int64).reshape(64)[ZIGZAG]
    diff = int(coeff[0]) - dc_pred
    size = _size_of(diff)
    code, length = dc_enc[size]
    w.write(code, length)
    if size:
        w.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = max((i for i in range(1, 64) if coeff[i] != 0), default=0)
    for i in range(1, last_nz + 1):
        v = int(coeff[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        size = _size_of(v)
        code, length = ac_enc[(run << 4) | size]
        w.write(code, length)
        w.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz != 63:
        code, length = ac_enc[0x00]  # EOB
        w.write(code, length)
    return int(coeff[0])


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tq: int, table: np.ndarray) -> bytes:
    body = bytes([tq]) + bytes(int(x) for x in table.reshape(64)[ZIGZAG])
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


_SAMPLING_GRIDS = {
    "4:4:4": (1, 1),  # chroma at full resolution
    "4:2:2": (2, 1),  # chroma halved horizontally
    "4:2:0": (2, 2),  # chroma halved both ways — the web default
}


def _box_downsample(p: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """fx x fy box-average downsample (pad to multiples by edge first)."""
    if fx == 1 and fy == 1:
        return p
    h, w = p.shape
    ph = (h + fy - 1) // fy * fy
    pw = (w + fx - 1) // fx * fx
    p = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
    return p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


def _prep_planes(pixels: np.ndarray, sampling: str):
    """Shared encoder front end: RGB→YCbCr (or gray), chroma
    box-downsample per the sampling grid, pad every plane to a whole
    number of MCUs. Returns (h, w, gray, planes, factors, quants,
    mcus_x, mcus_y)."""
    arr = np.asarray(pixels, dtype=np.float64)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr]
    else:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    if sampling not in _SAMPLING_GRIDS:
        raise ValueError(f"unknown sampling {sampling!r}")
    hy, vy = (1, 1) if gray else _SAMPLING_GRIDS[sampling]
    ncomp = 1 if gray else 3
    # (hi, vi) per component: luma at (hy, vy), chroma at (1, 1)
    factors = [(hy, vy)] + [(1, 1)] * (ncomp - 1)
    if not gray:
        planes = [planes[0]] + [
            _box_downsample(p, hy, vy) for p in planes[1:]
        ]
    # pad each plane to a whole number of MCUs (8*hi x 8*vi tiles for
    # luma, 8x8 for chroma — both cover the same mcus_x x mcus_y grid)
    mcus_x = (w + 8 * hy - 1) // (8 * hy)
    mcus_y = (h + 8 * vy - 1) // (8 * vy)
    padded = []
    for p, (hi, vi) in zip(planes, factors):
        th, tw = mcus_y * vi * 8, mcus_x * hi * 8
        padded.append(
            np.pad(
                p,
                ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                mode="edge",
            )
        )
    quants = [QUANT_LUMA] + ([] if gray else [QUANT_CHROMA, QUANT_CHROMA])
    return h, w, gray, padded, factors, quants, mcus_x, mcus_y


def encode_jpeg_pixels(pixels: np.ndarray, sampling: str = "4:4:4") -> bytes:
    """Encode an HxW (grayscale) or HxWx3 (RGB) uint8 array as a
    baseline sequential JPEG (Annex-K tables). ``sampling`` is one of
    4:4:4 / 4:2:2 / 4:2:0 (ignored for grayscale); chroma is
    box-averaged before encoding. Fixture-synthesis and round-trip-test
    utility — 4:2:0 fixtures pin the subsampled decode path."""
    h, w, gray, planes, factors, quants, mcus_x, mcus_y = _prep_planes(
        pixels, sampling
    )
    ncomp = 1 if gray else 3

    _, dc_l_enc = _build_huffman(DC_LUMA_BITS, DC_LUMA_VALS)
    _, ac_l_enc = _build_huffman(AC_LUMA_BITS, AC_LUMA_VALS)
    _, dc_c_enc = _build_huffman(DC_CHROMA_BITS, DC_CHROMA_VALS)
    _, ac_c_enc = _build_huffman(AC_CHROMA_BITS, AC_CHROMA_VALS)
    encs = [(dc_l_enc, ac_l_enc)] + (
        [] if gray else [(dc_c_enc, ac_c_enc)] * 2
    )

    out = bytearray(b"\xff\xd8")  # SOI
    out += _dqt_segment(0, QUANT_LUMA)
    if not gray:
        out += _dqt_segment(1, QUANT_CHROMA)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        hi, vi = factors[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0x00, DC_LUMA_BITS, DC_LUMA_VALS)
    out += _dht_segment(0x10, AC_LUMA_BITS, AC_LUMA_VALS)
    if not gray:
        out += _dht_segment(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += _dht_segment(0x11, AC_CHROMA_BITS, AC_CHROMA_VALS)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    writer = _BitWriter()
    preds = [0] * ncomp
    for by in range(mcus_y):
        for bx in range(mcus_x):
            for ci in range(ncomp):
                hi, vi = factors[ci]
                for v in range(vi):
                    for u in range(hi):
                        y0 = (by * vi + v) * 8
                        x0 = (bx * hi + u) * 8
                        block = planes[ci][y0 : y0 + 8, x0 : x0 + 8]
                        preds[ci] = _encode_block(
                            block, quants[ci], preds[ci], *encs[ci], writer
                        )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _gradient_rgb(width: int, height: int, seed: int) -> np.ndarray:
    """The seeded smooth-gradient (height, width, 3) uint8 image of the
    JPEG fixtures. Gradients are CLIPPED, not wrapped — a modulo wrap is
    a hard edge, and hard edges ring under the coarse Annex-K chroma
    table; smooth ramps keep the round-trip error in a tight band
    (pinned by tests)."""
    ys, xs = np.mgrid[0:height, 0:width]
    r = np.clip(xs * 4 + (seed % 64), 0, 255)
    g = np.clip(ys * 4 + (seed % 32), 0, 255)
    b = np.clip((xs + ys) * 2 + (seed % 16), 0, 255)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def synth_jpeg(
    width: int, height: int, seed: int = 0, sampling: str = "4:4:4"
) -> bytes:
    """Deterministic smooth-gradient RGB fixture encoded as a real,
    decodable baseline JPEG (optionally chroma-subsampled)."""
    return encode_jpeg_pixels(
        _gradient_rgb(width, height, seed), sampling=sampling
    )


# --- decoder -----------------------------------------------------------------


def decode_jpeg_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Sequential (SOF0/1) or progressive (SOF2) JPEG → (width,
    height, channels, raw bytes) with channels interleaved RGB (3) or
    luma (1). Handles any divisible Hi×Vi sampling grid (4:4:4 /
    4:2:2 / 4:2:0 / 4:1:1); subsampled chroma is upsampled by sample
    replication. Progressive streams accumulate coefficients across
    scans (Annex G) and reconstruct once at EOI.

    Raises NotImplementedError for arithmetic/hierarchical/12-bit
    streams (callers degrade to header metadata) and ValueError for
    malformed data.
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    progressive = False
    coefs = None  # per-component zigzag coefficient state (progressive)
    restart_interval = 0
    nscans = 0
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        seg = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if pq == 0:
                    vals = np.frombuffer(seg[j : j + 64], dtype=np.uint8)
                    j += 64
                else:
                    vals = np.frombuffer(
                        seg[j : j + 128], dtype=">u2"
                    ).astype(np.int64)
                    j += 128
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = vals
                quant[tq] = tbl.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                cnt = sum(bits)
                vals = list(seg[j + 17 : j + 17 + cnt])
                table, _ = _build_huffman(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = table
                j += 17 + cnt
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            progressive = marker == 0xC2
            precision = seg[0]
            if precision != 8:
                raise NotImplementedError("only 8-bit precision supported")
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * c : 9 + 3 * c]
                hi, vi = sampling >> 4, sampling & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"invalid sampling factors {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            frame = (w, h, comps)
            if progressive:
                hmax = max(hi for _, hi, _, _ in comps)
                vmax = max(vi for _, _, vi, _ in comps)
                mx = (w + 8 * hmax - 1) // (8 * hmax)
                my = (h + 8 * vmax - 1) // (8 * vmax)
                coefs = [
                    np.zeros((my * vi, mx * hi, 64), dtype=np.int64)
                    for _, hi, vi, _ in comps
                ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline/extended-sequential/progressive "
                "Huffman JPEG supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_tables = {}
            scan_order = []
            for c in range(ns):
                cid, tbls = seg[1 + 2 * c : 3 + 2 * c]
                scan_tables[cid] = (tbls >> 4, tbls & 0x0F)
                scan_order.append(cid)
            if not progressive:
                return _decode_scan(
                    payload,
                    i + 2 + seg_len,
                    frame,
                    quant,
                    huff_dc,
                    huff_ac,
                    scan_tables,
                    restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            a = seg[3 + 2 * ns]
            nscans += 1
            end = _decode_progressive_scan(
                payload,
                i + 2 + seg_len,
                frame,
                coefs,
                huff_dc,
                huff_ac,
                scan_tables,
                scan_order,
                ss,
                se,
                a >> 4,
                a & 0x0F,
                restart_interval,
            )
            # hop to the next true marker (skip stuffed 0xFF00 and any
            # stray restart markers after the last counted unit)
            i = end
            while i + 1 < n and not (
                payload[i] == 0xFF
                and payload[i + 1] != 0x00
                and not (0xD0 <= payload[i + 1] <= 0xD7)
            ):
                i += 1
            continue
        i += 2 + seg_len
    if progressive and coefs is not None:
        if nscans == 0:
            raise ValueError("no scan data found (header-only JPEG)")
        return _reconstruct_progressive(frame, coefs, quant)
    raise ValueError("no scan data found (header-only JPEG)")


def _decode_scan(
    data: bytes,
    pos: int,
    frame,
    quant,
    huff_dc,
    huff_ac,
    scan_tables,
    restart_interval: int,
) -> tuple[int, int, int, bytes]:
    w, h, comps = frame
    ncomp = len(comps)
    if ncomp not in (1, 3):
        raise NotImplementedError("1 or 3 components only")
    if len(scan_tables) != ncomp:
        raise NotImplementedError(
            "non-interleaved multi-scan baseline not supported"
        )
    # header-only / truncated streams reference tables that were never
    # defined — fail as malformed data, not as a KeyError
    for cid, _hi, _vi, tq in comps:
        if cid not in scan_tables:
            raise ValueError(f"scan references undefined component {cid}")
        dc_id, ac_id = scan_tables[cid]
        if dc_id not in huff_dc or ac_id not in huff_ac:
            raise ValueError("scan references undefined Huffman table")
        if tq not in quant:
            raise ValueError("frame references undefined quant table")
    hmax = max(hi for _, hi, _, _ in comps)
    vmax = max(vi for _, _, vi, _ in comps)
    for _cid, hi, vi, _tq in comps:
        if hmax % hi or vmax % vi:
            # legal per T.81 but unseen in practice; integer replication
            # upsampling below requires divisible factors
            raise NotImplementedError(
                f"non-divisible sampling factors {hi}x{vi} vs max "
                f"{hmax}x{vmax}"
            )
    # interleaved MCU grid (T.81 A.2.3): each MCU covers 8*hmax x 8*vmax
    # image pixels; component ci contributes hi x vi blocks per MCU into
    # its own (subsampled) plane, allocated at the MCU-padded size
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcus_y * vi * 8, mcus_x * hi * 8), dtype=np.float64)
        for _, hi, vi, _ in comps
    ]
    reader = _BitReader(data, pos)
    preds = [0] * ncomp
    mcu = 0
    for by in range(mcus_y):
        for bx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                marker = reader.align_past_marker()
                if not 0xFFD0 <= marker <= 0xFFD7:
                    raise ValueError("expected restart marker")
                preds = [0] * ncomp
            for ci, (cid, hi, vi, tq) in enumerate(comps):
                dc_id, ac_id = scan_tables[cid]
                for v in range(vi):
                    for u in range(hi):
                        coeff = np.zeros(64, dtype=np.int64)
                        try:
                            size = _decode_huff(reader, huff_dc[dc_id])
                            diff = _extend(reader.read_bits(size), size)
                            preds[ci] += diff
                            coeff[0] = preds[ci]
                            k = 1
                            while k < 64:
                                rs = _decode_huff(reader, huff_ac[ac_id])
                                run, size = rs >> 4, rs & 0x0F
                                if rs == 0x00:  # EOB
                                    break
                                if rs == 0xF0:  # ZRL
                                    k += 16
                                    continue
                                k += run
                                if k > 63:
                                    raise ValueError("AC run past block end")
                                coeff[k] = _extend(
                                    reader.read_bits(size), size
                                )
                                k += 1
                        except _MarkerReached as m:
                            raise ValueError(
                                f"unexpected marker {m.marker:#x} "
                                f"inside MCU {mcu}"
                            ) from None
                        blk = np.zeros(64, dtype=np.float64)
                        blk[ZIGZAG] = coeff * quant[tq].reshape(64)[ZIGZAG]
                        f = blk.reshape(8, 8)
                        px = _DCT_M.T @ f @ _DCT_M + 128.0
                        y0 = (by * vi + v) * 8
                        x0 = (bx * hi + u) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu += 1
    return _finish_planes(planes, comps, w, h, hmax, vmax)


def _finish_planes(
    planes, comps, w: int, h: int, hmax: int, vmax: int
) -> tuple[int, int, int, bytes]:
    """Shared decode tail: replication-upsample subsampled components,
    crop MCU padding, YCbCr→RGB (or luma passthrough), clip to uint8."""
    planes = [
        np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)[
            :h, :w
        ]
        if (hi, vi) != (hmax, vmax)
        else p[:h, :w]
        for p, (_, hi, vi, _) in zip(planes, comps)
    ]
    if len(comps) == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return w, h, 1, out.tobytes()
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    return w, h, 3, out.tobytes()


# --- progressive (SOF2) ------------------------------------------------------
#
# T.81 Annex G, Huffman coding. A progressive stream carries the SAME
# quantized DCT coefficients as a sequential one, delivered over
# multiple scans: DC first (interleaved, point-transformed by Al), DC
# refinement (one raw bit per block), AC first scans (single-component,
# spectral band Ss..Se, with EOB-run coding across blocks), and AC
# refinement scans (correction bits on nonzero-history coefficients +
# newly-nonzero +-1<<Al insertions). Decoding accumulates coefficients
# per block across scans; dequant + IDCT happen ONCE at EOI.


def _comp_block_grid(frame, ci: int) -> tuple[int, int]:
    """Non-interleaved scans cover ceil(comp_dims/8) blocks (T.81
    A.2.2), which can be smaller than the MCU-padded allocation."""
    w, h, comps = frame
    _, hi, vi, _ = comps[ci]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    cw = (w * hi + hmax - 1) // hmax
    ch = (h * vi + vmax - 1) // vmax
    return (ch + 7) // 8, (cw + 7) // 8


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    frame,
    coefs,
    huff_dc,
    huff_ac,
    scan_tables,
    scan_order,
    ss: int,
    se: int,
    ah: int,
    al: int,
    ri: int,
) -> int:
    """Decode one progressive scan into the per-component coefficient
    state; returns the byte position after the consumed entropy data."""
    w, h, comps = frame
    cid_to_ci = {c[0]: i for i, c in enumerate(comps)}
    for cid in scan_order:
        if cid not in cid_to_ci:
            raise ValueError(f"scan references undefined component {cid}")
    sel = [cid_to_ci[cid] for cid in scan_order]
    reader = _BitReader(data, pos)
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan must have Se=0")
        for cid in scan_order:
            dc_id = scan_tables[cid][0]
            if ah == 0 and dc_id not in huff_dc:
                raise ValueError("scan references undefined Huffman table")
        if ah == 0:
            _prog_dc_first(
                reader, frame, coefs, sel, huff_dc, scan_tables, al, ri
            )
        else:
            _prog_dc_refine(reader, frame, coefs, sel, al, ri)
    else:
        if len(sel) != 1:
            raise ValueError("progressive AC scans are single-component")
        ci = sel[0]
        ac_id = scan_tables[scan_order[0]][1]
        if ac_id not in huff_ac:
            raise ValueError("scan references undefined Huffman table")
        if ah == 0:
            _prog_ac_first(
                reader, frame, coefs[ci], ci, huff_ac[ac_id], ss, se, al, ri
            )
        else:
            _prog_ac_refine(
                reader, frame, coefs[ci], ci, huff_ac[ac_id], ss, se, al, ri
            )
    return reader.pos


def _prog_restart(reader: _BitReader) -> None:
    marker = reader.align_past_marker()
    if not 0xFFD0 <= marker <= 0xFFD7:
        raise ValueError("expected restart marker")


def _prog_dc_first(reader, frame, coefs, sel, huff_dc, scan_tables, al, ri):
    w, h, comps = frame
    preds = {ci: 0 for ci in sel}
    try:
        if len(sel) > 1:  # interleaved MCU order
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mx = (w + 8 * hmax - 1) // (8 * hmax)
            my = (h + 8 * vmax - 1) // (8 * vmax)
            mcu = 0
            for by in range(my):
                for bx in range(mx):
                    if ri and mcu and mcu % ri == 0:
                        _prog_restart(reader)
                        preds = {ci: 0 for ci in sel}
                    for ci in sel:
                        _, hi, vi, _ = comps[ci]
                        dc = huff_dc[scan_tables[comps[ci][0]][0]]
                        for v in range(vi):
                            for u in range(hi):
                                size = _decode_huff(reader, dc)
                                diff = _extend(reader.read_bits(size), size)
                                preds[ci] += diff
                                coefs[ci][by * vi + v, bx * hi + u, 0] = (
                                    preds[ci] << al
                                )
                    mcu += 1
        else:  # single-component: non-interleaved block raster
            ci = sel[0]
            dc = huff_dc[scan_tables[comps[ci][0]][0]]
            bh, bw = _comp_block_grid(frame, ci)
            unit = 0
            for by in range(bh):
                for bx in range(bw):
                    if ri and unit and unit % ri == 0:
                        _prog_restart(reader)
                        preds[ci] = 0
                    size = _decode_huff(reader, dc)
                    diff = _extend(reader.read_bits(size), size)
                    preds[ci] += diff
                    coefs[ci][by, bx, 0] = preds[ci] << al
                    unit += 1
    except _MarkerReached as m:
        raise ValueError(
            f"unexpected marker {m.marker:#x} inside DC scan"
        ) from None


def _prog_dc_refine(reader, frame, coefs, sel, al, ri):
    w, h, comps = frame
    p1 = 1 << al
    try:
        if len(sel) > 1:
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mx = (w + 8 * hmax - 1) // (8 * hmax)
            my = (h + 8 * vmax - 1) // (8 * vmax)
            mcu = 0
            for by in range(my):
                for bx in range(mx):
                    if ri and mcu and mcu % ri == 0:
                        _prog_restart(reader)
                    for ci in sel:
                        _, hi, vi, _ = comps[ci]
                        for v in range(vi):
                            for u in range(hi):
                                if reader.read_bit():
                                    coefs[ci][by * vi + v, bx * hi + u, 0] |= p1
                    mcu += 1
        else:
            ci = sel[0]
            bh, bw = _comp_block_grid(frame, ci)
            unit = 0
            for by in range(bh):
                for bx in range(bw):
                    if ri and unit and unit % ri == 0:
                        _prog_restart(reader)
                    if reader.read_bit():
                        coefs[ci][by, bx, 0] |= p1
                    unit += 1
    except _MarkerReached as m:
        raise ValueError(
            f"unexpected marker {m.marker:#x} inside DC refinement"
        ) from None


def _prog_ac_first(reader, frame, coef, ci, ac, ss, se, al, ri):
    bh, bw = _comp_block_grid(frame, ci)
    eobrun = 0
    unit = 0
    try:
        for by in range(bh):
            for bx in range(bw):
                if ri and unit and unit % ri == 0:
                    _prog_restart(reader)
                    eobrun = 0
                unit += 1
                if eobrun > 0:
                    eobrun -= 1
                    continue
                blk = coef[by, bx]
                k = ss
                while k <= se:
                    rs = _decode_huff(reader, ac)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC run past spectral band")
                    blk[k] = _extend(reader.read_bits(s), s) << al
                    k += 1
    except _MarkerReached as m:
        raise ValueError(
            f"unexpected marker {m.marker:#x} inside AC scan"
        ) from None


def _prog_ac_refine(reader, frame, coef, ci, ac, ss, se, al, ri):
    bh, bw = _comp_block_grid(frame, ci)
    p1 = 1 << al
    m1 = -1 << al
    eobrun = 0
    unit = 0

    def correct(blk, k) -> None:
        # correction bit on a nonzero-history coefficient (T.81 G.1.2.3)
        if reader.read_bit() and not (blk[k] & p1):
            blk[k] += p1 if blk[k] >= 0 else m1

    try:
        for by in range(bh):
            for bx in range(bw):
                if ri and unit and unit % ri == 0:
                    _prog_restart(reader)
                    eobrun = 0
                unit += 1
                blk = coef[by, bx]
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _decode_huff(reader, ac)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += reader.read_bits(r)
                                break
                            val = 0  # ZRL: skip 16 zero-history coefs
                        else:
                            if s != 1:
                                raise ValueError(
                                    "AC refinement size must be 1"
                                )
                            val = p1 if reader.read_bit() else m1
                        while k <= se:
                            if blk[k] != 0:
                                correct(blk, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val and k <= se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if blk[k] != 0:
                            correct(blk, k)
                        k += 1
                    eobrun -= 1
    except _MarkerReached as m:
        raise ValueError(
            f"unexpected marker {m.marker:#x} inside AC refinement"
        ) from None


def _reconstruct_progressive(frame, coefs, quant):
    """Dequantize + IDCT the accumulated coefficient state (once, at
    EOI), then the shared upsample/crop/color tail."""
    w, h, comps = frame
    if len(comps) not in (1, 3):
        raise NotImplementedError("1 or 3 components only")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for ci, (_, hi, vi, tq) in enumerate(comps):
        if tq not in quant:
            raise ValueError("frame references undefined quant table")
        qz = quant[tq].reshape(64)[ZIGZAG].astype(np.float64)
        rows, cols, _ = coefs[ci].shape
        plane = np.zeros((rows * 8, cols * 8), dtype=np.float64)
        for by in range(rows):
            for bx in range(cols):
                blk = np.zeros(64, dtype=np.float64)
                blk[ZIGZAG] = coefs[ci][by, bx] * qz
                f = blk.reshape(8, 8)
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _DCT_M.T @ f @ _DCT_M + 128.0
                )
        planes.append(plane)
    return _finish_planes(planes, comps, w, h, hmax, vmax)


# Flat (unoptimized but valid) AC Huffman table for progressive scans:
# Annex-K AC tables lack the EOB-run symbols (r<<4 | 0 for r>0), so the
# progressive encoder ships its own table covering every (run, size)
# symbol with run 0..15 and size 0..10 — 176 symbols, all at code
# length 9 (Kraft sum 176/512, no all-ones code).
_FLAT_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]
_FLAT_AC_BITS = [0] * 8 + [len(_FLAT_AC_VALS)] + [0] * 7


def _quantized_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(rows, cols, 64) zigzag-order quantized DCT coefficients for a
    padded plane — the shared state the progressive scan encoders walk
    repeatedly (same coefficients a sequential encode would emit)."""
    rows, cols = plane.shape[0] // 8, plane.shape[1] // 8
    out = np.zeros((rows, cols, 64), dtype=np.int64)
    qf = q.astype(np.float64)
    for by in range(rows):
        for bx in range(cols):
            blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            f = _DCT_M @ (blk - 128.0) @ _DCT_M.T
            out[by, bx] = np.round(f / qf).astype(np.int64).reshape(64)[
                ZIGZAG
            ]
    return out


class _EobRunState:
    """Pending EOB-run + carried correction bits shared across blocks
    within one AC scan (T.81 G.1.2.2-3, classic two-buffer shape:
    ``be_bits`` are correction bits of fully-EOB-run blocks, emitted
    right after the EOBRUN symbol; the CURRENT block's bits are a local
    buffer emitted after the next coefficient/ZRL symbol)."""

    def __init__(self, writer: _BitWriter, ac_enc) -> None:
        self.w = writer
        self.ac = ac_enc
        self.eobrun = 0
        self.be_bits: list[int] = []

    def flush(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            code, length = self.ac[nbits << 4]
            self.w.write(code, length)
            if nbits:
                self.w.write(self.eobrun, nbits)
            self.eobrun = 0
            for b in self.be_bits:
                self.w.write(b, 1)
            self.be_bits.clear()


def _encode_ac_first_block(blk, ss, se, al, st: _EobRunState) -> None:
    t = [
        (1 if v > 0 else -1) * (abs(int(v)) >> al) if v else 0
        for v in blk[ss : se + 1]
    ]
    last = -1
    for idx, v in enumerate(t):
        if v:
            last = idx
    if last < 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush()
        return
    st.flush()
    r = 0
    for idx in range(last + 1):
        v = t[idx]
        if v == 0:
            r += 1
            continue
        while r > 15:
            code, length = st.ac[0xF0]
            st.w.write(code, length)
            r -= 16
        s = _size_of(v)
        code, length = st.ac[(r << 4) | s]
        st.w.write(code, length)
        st.w.write(v if v > 0 else v + (1 << s) - 1, s)
        r = 0
    if last < se - ss:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.flush()


def _encode_ac_refine_block(blk, ss, se, al, st: _EobRunState) -> None:
    absv = [abs(int(v)) >> al for v in blk[ss : se + 1]]
    eob = -1
    for idx, t in enumerate(absv):
        if t == 1:
            eob = idx  # last NEWLY-nonzero coefficient
    r = 0
    br: list[int] = []  # this block's correction bits since last symbol
    for idx, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and idx <= eob:
            st.flush()  # pending EOBRUN + its carried bits
            code, length = st.ac[0xF0]
            st.w.write(code, length)
            r -= 16
            for b in br:
                st.w.write(b, 1)
            br.clear()
        if t > 1:  # history-nonzero: buffer the correction bit
            br.append(t & 1)
            continue
        # newly nonzero (+-1 at this precision)
        st.flush()
        code, length = st.ac[(r << 4) | 1]
        st.w.write(code, length)
        st.w.write(1 if blk[ss + idx] > 0 else 0, 1)
        for b in br:
            st.w.write(b, 1)
        br.clear()
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.be_bits.extend(br)
        if st.eobrun == 0x7FFF:
            st.flush()


def encode_jpeg_progressive(
    pixels: np.ndarray, sampling: str = "4:4:4"
) -> bytes:
    """Encode an HxW (grayscale) or HxWx3 (RGB) uint8 array as a
    PROGRESSIVE (SOF2) JPEG — the round-trip partner that pins the
    progressive decode path with real multi-scan streams.

    Scan script (exercises every progressive decode branch):
      1. DC first, all components interleaved, Al=1
      2. DC refinement, Al=0 (raw bits)
      3. per component: AC first, Ss=1..Se=63, Al=1 (EOB-run coded)
      4. per component: AC refinement, Ah=1, Al=0 (correction bits)
    Coefficients are identical to the sequential encoder's, so decode
    output must match ``encode_jpeg_pixels`` of the same source
    BIT-FOR-BIT — pinned by tests."""
    h, w, gray, planes, factors, quants, mcus_x, mcus_y = _prep_planes(
        pixels, sampling
    )
    ncomp = 1 if gray else 3
    coefs = [
        _quantized_blocks(planes[ci], quants[ci]) for ci in range(ncomp)
    ]

    _, dc_l_enc = _build_huffman(DC_LUMA_BITS, DC_LUMA_VALS)
    _, dc_c_enc = _build_huffman(DC_CHROMA_BITS, DC_CHROMA_VALS)
    _, flat_ac_enc = _build_huffman(_FLAT_AC_BITS, _FLAT_AC_VALS)
    dc_encs = [dc_l_enc] + [dc_c_enc] * (ncomp - 1)

    out = bytearray(b"\xff\xd8")
    out += _dqt_segment(0, QUANT_LUMA)
    if not gray:
        out += _dqt_segment(1, QUANT_CHROMA)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        hi, vi = factors[ci]
        sof += bytes([ci + 1, (hi << 4) | vi, 0 if ci == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # SOF2
    out += _dht_segment(0x00, DC_LUMA_BITS, DC_LUMA_VALS)
    if not gray:
        out += _dht_segment(0x01, DC_CHROMA_BITS, DC_CHROMA_VALS)
    out += _dht_segment(0x10, _FLAT_AC_BITS, _FLAT_AC_VALS)

    def sos_header(comp_ids_tables, ss, se, ah, al) -> bytes:
        body = bytes([len(comp_ids_tables)])
        for cid, tbls in comp_ids_tables:
            body += bytes([cid, tbls])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body

    def mcu_blocks(ci):
        hi, vi = factors[ci]
        for by in range(mcus_y):
            for bx in range(mcus_x):
                yield by, bx  # caller iterates vi x hi inner blocks

    # --- scan 1: DC first, interleaved, Al=1 (table byte is Td<<4|Ta)
    out += sos_header(
        [(ci + 1, (0x00 if ci == 0 else 0x10)) for ci in range(ncomp)],
        0, 0, 0, 1,
    )
    wtr = _BitWriter()
    preds = [0] * ncomp
    for by in range(mcus_y):
        for bx in range(mcus_x):
            for ci in range(ncomp):
                hi, vi = factors[ci]
                for v in range(vi):
                    for u in range(hi):
                        t = int(coefs[ci][by * vi + v, bx * hi + u, 0]) >> 1
                        diff = t - preds[ci]
                        preds[ci] = t
                        s = _size_of(diff)
                        code, length = dc_encs[ci][s]
                        wtr.write(code, length)
                        if s:
                            wtr.write(
                                diff if diff > 0 else diff + (1 << s) - 1, s
                            )
    wtr.flush()
    out += wtr.out

    # --- scan 2: DC refinement, Al=0 (raw bits, no Huffman)
    out += sos_header(
        [(ci + 1, 0x00) for ci in range(ncomp)], 0, 0, 1, 0
    )
    wtr = _BitWriter()
    for by in range(mcus_y):
        for bx in range(mcus_x):
            for ci in range(ncomp):
                hi, vi = factors[ci]
                for v in range(vi):
                    for u in range(hi):
                        wtr.write(
                            int(coefs[ci][by * vi + v, bx * hi + u, 0]) & 1,
                            1,
                        )
    wtr.flush()
    out += wtr.out

    # AC scans are non-interleaved: walk ceil(comp_dims/8) blocks only
    # (MCU-padding blocks are never coded in AC scans, T.81 A.2.2)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)

    def ac_grid(ci):
        hi, vi = factors[ci]
        cw = (w * hi + hmax - 1) // hmax
        ch = (h * vi + vmax - 1) // vmax
        return (ch + 7) // 8, (cw + 7) // 8

    # --- scans 3..: AC first per component, Al=1
    for ci in range(ncomp):
        out += sos_header([(ci + 1, 0x00)], 1, 63, 0, 1)
        wtr = _BitWriter()
        st = _EobRunState(wtr, flat_ac_enc)
        bh, bw = ac_grid(ci)
        for by in range(bh):
            for bx in range(bw):
                _encode_ac_first_block(coefs[ci][by, bx], 1, 63, 1, st)
        st.flush()
        wtr.flush()
        out += wtr.out

    # --- scans: AC refinement per component, Ah=1 Al=0
    for ci in range(ncomp):
        out += sos_header([(ci + 1, 0x00)], 1, 63, 1, 0)
        wtr = _BitWriter()
        st = _EobRunState(wtr, flat_ac_enc)
        bh, bw = ac_grid(ci)
        for by in range(bh):
            for bx in range(bw):
                _encode_ac_refine_block(coefs[ci][by, bx], 1, 63, 0, st)
        st.flush()
        wtr.flush()
        out += wtr.out

    out += b"\xff\xd9"
    return bytes(out)


def synth_jpeg_progressive(
    width: int, height: int, seed: int = 0, sampling: str = "4:4:4"
) -> bytes:
    """The :func:`synth_jpeg` gradient fixture as a real, decodable
    PROGRESSIVE JPEG."""
    return encode_jpeg_progressive(
        _gradient_rgb(width, height, seed), sampling=sampling
    )
