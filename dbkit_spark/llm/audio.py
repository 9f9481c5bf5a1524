"""Real audio decode for the multimodal surface — WAV/RIFF PCM.

``llm/multimodal.py`` decodes all four image containers to real pixels;
this module does the same for AUDIO: a from-spec RIFF/WAVE parser
(chunk walk, 'fmt ' + 'data') decoding integer PCM at 8/16/24/32 bits,
mono or multi-channel, with zero codec dependency — the payload
format every recording pipeline can emit and the one torchaudio-class
libraries would otherwise be needed for. Format 3 (IEEE float WAV, the
common ML-corpus export at float32/float64) decodes too, mapped to the
16-bit integer domain via ``round(x * 2^15)`` so the exact-stats
contract holds unchanged (documented below). Compressed codecs (MP3
inside RIFF, ADPCM, ...) raise NotImplementedError and degrade to
decoded=false rows with NULL stats in :func:`audio_stats` — the
multimodal degradation contract.

Feature extraction is EXACT-INTEGER where it matters: peak and
zero-crossings are integers, the mean square is one IEEE division of an
exact BIGINT sum — so a SQL oracle that regenerates the deterministic
fixture samples reproduces every stat bit-for-bit without ever parsing
a WAV byte (the q206 fixture-differential discipline, extended to
audio).

Scale shape: decode + stats are Arrow-batched ``mapInPandas``, map-only,
shuffle-free; partition count controls decode parallelism — identical
plumbing to the image path.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import _BLOB_SCHEMA, _decode_rows, _synth_payloads

_SYNTH_MULT = 2654435761  # Knuth multiplicative constant; fits BIGINT math


def synth_samples(seed: int, n: int) -> np.ndarray:
    """Deterministic 16-bit PCM fixture samples: pure BIGINT arithmetic
    (``(seed*7349 + i*(i+13)*2654435761) % 65536 - 32768``) so a SQL
    engine regenerates the identical waveform with generate_series."""
    if n > 50_000:
        # i*(i+13)*MULT must stay in int64/BIGINT on BOTH engines; the
        # fixture sizes are far below this
        raise ValueError("synth_samples fixture bound exceeded")
    i = np.arange(n, dtype=np.int64)
    vals = (seed * 7349 + i * (i + 13) * _SYNTH_MULT) % 65536 - 32768
    return vals.astype(np.int32)


def encode_wav(
    n_samples: int,
    sample_rate: int = 8000,
    channels: int = 1,
    seed: int = 0,
    bits: int = 16,
) -> bytes:
    """Minimal spec-conforming RIFF/WAVE with integer PCM samples from
    :func:`synth_samples` (flat sample index runs over interleaved
    frames). ``bits`` ∈ {8, 16, 24, 32}; 8-bit is unsigned per spec."""
    if n_samples <= 0 or channels <= 0 or sample_rate <= 0:
        raise ValueError("n_samples/channels/sample_rate must be positive")
    if bits not in (8, 16, 24, 32):
        raise ValueError("bits must be 8, 16, 24, or 32")
    total = n_samples * channels
    s16 = synth_samples(seed, total).astype(np.int64)
    if bits == 8:
        data = ((s16 >> 8) + 128).astype(np.uint8).tobytes()
    elif bits == 16:
        data = s16.astype("<i2").tobytes()
    elif bits == 24:
        s24 = (s16 << 8).astype("<i4")
        b4 = s24.view(np.uint8).reshape(-1, 4)
        data = b4[:, :3].tobytes()  # little-endian: low 3 bytes
    else:
        data = (s16 << 16).astype("<i4").tobytes()
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * block_align, block_align, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_float(
    n_samples: int,
    sample_rate: int = 8000,
    channels: int = 1,
    seed: int = 0,
    bits: int = 32,
) -> bytes:
    """Format-3 (IEEE float) RIFF/WAVE from the SAME deterministic
    waveform: samples are ``synth_samples / 2^15`` — every value is a
    dyadic rational with |numerator| < 2^15, exactly representable in
    float32 (24-bit mantissa) and float64, so the decode's
    ``round(x * 2^15)`` inverse is bit-exact. ``bits`` ∈ {32, 64}. Emits
    the 18-byte fmt chunk (cbSize=0) plus the spec-required ``fact``
    chunk for non-PCM formats."""
    if n_samples <= 0 or channels <= 0 or sample_rate <= 0:
        raise ValueError("n_samples/channels/sample_rate must be positive")
    if bits not in (32, 64):
        raise ValueError("float WAV bits must be 32 or 64")
    total = n_samples * channels
    x = synth_samples(seed, total).astype(np.float64) / 32768.0
    data = x.astype("<f4" if bits == 32 else "<f8").tobytes()
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHHH", 3, channels, sample_rate,
        sample_rate * block_align, block_align, bits, 0,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n_samples)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse RIFF/WAVE integer PCM (format 1) or IEEE float (format 3):
    (sample_rate, channels, bits, samples) with samples an int32 array
    of shape (n_frames, channels). Integer PCM stays at the SOURCE bit
    depth's scale; float samples are mapped to the 16-bit integer
    domain via ``round(x * 2^15)`` (clipped to int32) — the documented
    scale-to-int contract that keeps every downstream stat exact, and a
    bit-exact inverse of :func:`encode_wav_float`. ``bits`` reports the
    source width (32/64 for float). Walks chunks per spec (tolerates
    extra chunks like LIST/fact, word-aligned sizes); other formats
    raise NotImplementedError, malformed streams ValueError."""
    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF stream")
    if payload[8:12] != b"WAVE":
        raise ValueError("RIFF but not WAVE")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("fmt chunk truncated")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format == 3:
        if bits not in (32, 64) or channels <= 0:
            raise ValueError(f"unsupported float layout bits={bits} ch={channels}")
        bytes_per = bits // 8
        usable = len(data) - len(data) % (bytes_per * channels)
        if usable <= 0:
            raise ValueError("empty data chunk")
        x = np.frombuffer(data[:usable], dtype="<f4" if bits == 32 else "<f8")
        scaled = np.clip(
            np.rint(x.astype(np.float64) * 32768.0), -(2**31), 2**31 - 1
        ).astype(np.int32)
        return sample_rate, channels, bits, scaled.reshape(-1, channels)
    if audio_format != 1:
        raise NotImplementedError(f"non-PCM WAV format {audio_format}")
    if bits not in (8, 16, 24, 32) or channels <= 0:
        raise ValueError(f"unsupported PCM layout bits={bits} ch={channels}")
    bytes_per = bits // 8
    usable = len(data) - len(data) % (bytes_per * channels)
    if usable <= 0:
        raise ValueError("empty data chunk")
    raw = data[:usable]
    if bits == 8:
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int32) - 128
    elif bits == 16:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.int32)
    elif bits == 24:
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3)
        padded = np.zeros((b.shape[0], 4), dtype=np.uint8)
        padded[:, 1:] = b  # place in high 3 bytes, arithmetic >> 8 restores sign
        samples = padded.view("<i4").ravel() >> 8
    else:
        samples = np.frombuffer(raw, dtype="<i4").astype(np.int32)
    return sample_rate, channels, bits, samples.reshape(-1, channels)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("mean_square", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def audio_stats(payloads: DataFrame) -> DataFrame:
    """REAL audio feature extraction over mapInPandas: full PCM decode,
    then duration, peak amplitude, mean square (energy; an exact BIGINT
    sum over int32 samples divided once), and zero-crossing count
    ((s>=0) flips between consecutive FLAT samples — interleaved order,
    matching the SQL twin). Undecodable payloads (non-PCM formats,
    corrupt streams) emit decoded=false with NULL stats instead of
    failing the batch — the image_pixel_stats contract. Arrow-batched,
    map-only, shuffle-free."""

    def stats(raw: bytes) -> tuple:
        rate, ch, bits, samples = decode_wav(raw)
        flat = samples.ravel().astype(np.int64)
        n = int(flat.size)
        nonneg = flat >= 0
        zc = int(np.count_nonzero(nonneg[1:] != nonneg[:-1]))
        return (
            rate, ch, bits, samples.shape[0],
            samples.shape[0] / rate,
            int(np.abs(flat).max()),
            float(int((flat * flat).sum()) / n),
            zc,
        )

    return _decode_rows(payloads, AUDIO_STATS_SCHEMA, stats)


def _synth_wav(n: int, seed: int, arm: int) -> bytes:
    """The fixture waveform ``synth_samples(seed, n)`` at 8 kHz mono in
    fmt arm 0 (integer PCM16), 1 (IEEE float32) or 2 (IEEE float64)."""
    if arm == 0:
        return encode_wav(n, sample_rate=8000, channels=1, seed=seed, bits=16)
    return encode_wav_float(
        n, sample_rate=8000, channels=1, seed=seed, bits=32 if arm == 1 else 64
    )


def with_wav_payload(
    docs: DataFrame, id_col: str = "doc_id", every: int = 1
) -> DataFrame:
    """Synthesize a REAL decodable mono WAV per row (length varying
    with the id so stats differ per doc), cycling the container through
    all three fmt arms — integer PCM 16, IEEE float32, IEEE float64 —
    over the SAME waveform, so every arm decodes to identical samples
    and only the reported ``bits`` differs; ``every`` keeps 1-in-N rows
    for fixture-size control. Arrow-batched, map-only."""
    return _synth_payloads(
        docs, id_col, _BLOB_SCHEMA,
        lambda i: (_synth_wav(800 + (i % 7) * 160, i, i % 3),),
        every,
    )


SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("bandwidth_hz", T.DoubleType()),
        T.StructField("rolloff_hz", T.DoubleType()),
        T.StructField("flatness", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def audio_spectral(payloads: DataFrame, n_fft: int = 256) -> DataFrame:
    """Spectral shape features per payload — the audio-curation signals
    (speech/music/noise triage, corrupted-capture detection) that
    amplitude stats can't see: spectral CENTROID (center of mass, Hz),
    BANDWIDTH (spread around it), ROLLOFF (85% energy frequency), and
    FLATNESS (geometric/arithmetic power-mean ratio: → 1 for white
    noise, → 0 for tonal content).

    Method pinned for determinism: the first channel framed into
    non-overlapping ``n_fft`` frames (rectangular window — no window
    function to disagree about), per-frame rfft magnitude spectra
    averaged (Welch without overlap), DC bin excluded from flatness.
    numpy's fft is the only dependency; no SQL twin exists, so the
    catalog anchor is rows-only and correctness is pinned by
    construction laws (a pure tone's centroid IS its frequency) in
    pytest — the isotonic-PAV precedent.

    Arrow-batched mapInPandas, map-only, shuffle-free; undecodable or
    shorter-than-one-frame payloads degrade to decoded=false."""
    if n_fft < 8 or n_fft & (n_fft - 1):
        raise ValueError("n_fft must be a power of two >= 8")

    def spectral(raw: bytes) -> tuple:
        rate, ch, bits, samples = decode_wav(raw)
        x = samples[:, 0].astype(np.float64)
        n_frames = x.size // n_fft
        if n_frames == 0:
            raise ValueError("shorter than one frame")
        frames = x[: n_frames * n_fft].reshape(n_frames, n_fft)
        mag = np.abs(np.fft.rfft(frames, axis=1)).mean(axis=0)
        freqs = np.fft.rfftfreq(n_fft, d=1.0 / rate)
        tot = mag.sum()
        if tot == 0.0:
            raise ValueError("silent payload")
        centroid = float((freqs * mag).sum() / tot)
        bandwidth = float(np.sqrt(((freqs - centroid) ** 2 * mag).sum() / tot))
        cum = np.cumsum(mag)
        roll_idx = int(np.searchsorted(cum, 0.85 * tot))
        rolloff = float(freqs[min(roll_idx, freqs.size - 1)])
        power = mag[1:] ** 2  # DC excluded
        nz = power[power > 0]
        flat = float(np.exp(np.log(nz).mean()) / nz.mean()) if nz.size else 0.0
        return centroid, bandwidth, rolloff, flat

    return _decode_rows(payloads, SPECTRAL_SCHEMA, spectral)


def encode_wav_tone(
    n_samples: int,
    freq_hz: float,
    sample_rate: int = 8000,
    amplitude: int = 12000,
) -> bytes:
    """A pure-tone 16-bit mono WAV fixture (for spectral-law tests)."""
    i = np.arange(n_samples, dtype=np.float64)
    s = (amplitude * np.sin(2 * np.pi * freq_hz * i / sample_rate)).astype(
        "<i2"
    )
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_format_code(payload: bytes) -> int:
    """Audio format code from the fmt chunk (1 = integer PCM, 3 = IEEE
    float) — the chunk walk of :func:`decode_wav`, metadata only."""
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if cid == b"fmt ":
            return struct.unpack_from("<H", payload, pos + 8)[0]
        pos += 8 + size + (size & 1)
    raise ValueError("missing fmt chunk")


def _decode_wav16(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """:func:`decode_wav` with every arm normalized to the 16-bit domain
    as int64: integer PCM decodes at SOURCE scale (8→<<8, 24→>>8,
    32→>>16), float arms already land in the 16-bit domain. The fmt code
    tells bits=32 PCM from bits=32 float."""
    rate, ch, bits, samples = decode_wav(payload)
    samples = samples.astype(np.int64)
    if _wav_format_code(payload) == 1:
        shift = {8: -8, 16: 0, 24: 8, 32: 16}[bits]
        samples = samples << 8 if shift == -8 else samples >> shift
    return rate, ch, bits, samples


def resample_wav(payload: bytes, factor: int) -> bytes:
    """REAL integer-factor downsample (decimation with a box
    anti-alias filter): decode any supported WAV arm (integer PCM or
    IEEE float), average each ``factor``-frame block per channel as
    ``floor(block_sum / factor)`` on the exact integer samples
    (portable arithmetic — a SQL oracle replays it bit-for-bit since
    block means of 16-bit-domain samples stay in int16 range), and
    re-encode as integer PCM-16 WAV at ``rate // factor``. Trailing
    frames short of a full block are dropped."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    # filter in the 16-bit domain, whatever the source arm
    rate, ch, bits, samples = _decode_wav16(payload)
    n_out = samples.shape[0] // factor
    if n_out < 1:
        raise ValueError("stream shorter than one block")
    crop = samples[: n_out * factor]
    sums = crop.reshape(n_out, factor, ch).sum(axis=1)
    dec = np.floor(sums.astype(np.float64) / factor).astype(np.int64)
    data = dec.astype("<i2").tobytes()  # block means stay in int16 range
    block_align = ch * 2
    out_rate = rate // factor
    fmt = struct.pack(
        "<HHIIHH", 1, ch, out_rate, out_rate * block_align, block_align, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def resample_payloads(payloads: DataFrame, factor: int = 4) -> DataFrame:
    """Distributed audio resample over mapInPandas — decode →
    block-mean decimate → PCM-16 re-encode, Arrow-batched, map-only,
    shuffle-free; undecodable payloads degrade to decoded=false with a
    NULL payload (the audio_stats contract)."""
    schema = T.StructType(
        [*_BLOB_SCHEMA, T.StructField("decoded", T.BooleanType())]
    )
    return _decode_rows(
        payloads, schema, lambda raw: (bytearray(resample_wav(raw, factor)),)
    )


VAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_active", T.LongType()),
        T.StructField("n_segments", T.LongType()),
        T.StructField("longest_run", T.LongType()),
        T.StructField("first_active", T.LongType()),
        T.StructField("active_ratio", T.DoubleType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def vad_segments(
    payloads: DataFrame,
    frame: int = 160,
    threshold: int = 358_000_000,
) -> DataFrame:
    """Energy-threshold voice-activity detection over REAL decoded
    audio: frame the (mono-flattened) samples into ``frame``-sample
    blocks (trailing partial frame dropped — the resample_wav
    contract), mark a frame active when its EXACT integer energy
    Σs² ≥ threshold·frame, and reduce the activity mask to segment
    stats — the speech/silence split every ASR-corpus curation
    pipeline runs before paying for transcription.

    Per doc: (n_frames, n_active, n_segments, longest_run,
    first_active [null when all-silent], active_ratio). Everything is
    integer until the one ratio division, so a SQL engine replays the
    whole readout bit-for-bit from the waveform (the q290/q323
    oracle discipline). Undecodable payloads degrade to decoded=false
    with null stats. Arrow-batched mapInPandas, map-only, shuffle-free;
    per-row cost linear in duration.

    The default ``threshold`` is calibrated for the 16-bit sample
    domain, so every decode arm is normalized to it before the energy
    computation, exactly as :func:`resample_wav` does (integer PCM
    decodes at SOURCE scale: 8→<<8, 24→>>8, 32→>>16; float arms
    already land in the 16-bit domain). Without this, 24/32-bit PCM
    energies (|s| up to 2^31, s² up to 2^62 per term) would silently
    wrap int64 across a 160-sample frame and the threshold would be
    off by up to 2^32 — garbage stats with no error.
    """

    def vad(raw: bytes) -> tuple:
        flat = _decode_wav16(raw)[3].ravel()
        m = flat.size // frame
        fr = flat[: m * frame].reshape(m, frame)
        energy = (fr * fr).sum(axis=1)
        active = energy >= threshold * frame
        n_active = int(active.sum())
        # run-length stats stay vectorized — hour-long
        # recordings mean 10^5+ frames per row
        padded = np.concatenate(([False], active, [False]))
        edges = np.flatnonzero(padded[1:] != padded[:-1])
        starts, ends = edges[::2], edges[1::2]
        n_seg = int(starts.size)
        longest = int((ends - starts).max()) if n_seg else 0
        first = int(starts[0]) if n_seg else None
        return m, n_active, n_seg, longest, first, n_active / m if m else None

    return _decode_rows(payloads, VAD_SCHEMA, vad)


def with_wav_payload_grouped(
    docs: DataFrame, id_col: str = "doc_id", group_mod: int = 25, every: int = 1
) -> DataFrame:
    """Duplicate-bearing WAV fixture: the waveform seed is
    ``doc_id % group_mod``, so docs sharing a seed carry the IDENTICAL
    waveform — while the container still cycles through the three fmt
    arms (PCM16 / float32 / float64). The arm index is ``(i // every)
    % 3``, NOT ``i % 3``: the kept ids are the multiples of ``every``,
    so an id-modulus arm would collapse to a single container whenever
    ``every % 3 == 0`` (every=3 would make every payload PCM16, and no
    duplicate would cross containers). Dividing by ``every`` first makes
    consecutive kept ids cycle all three arms for ANY ``every``. That is
    exactly the re-encoded-duplicate case a byte-hash dedup misses and a
    content fingerprint must catch. Container choice never affects the
    fingerprint (that invariance is the point), so oracles that
    regenerate the waveform from (seed, n) are arm-independent."""

    def row(i: int) -> tuple:
        seed = i % group_mod
        return (_synth_wav(800 + (seed % 7) * 160, seed, (i // every) % 3),)

    return _synth_payloads(docs, id_col, _BLOB_SCHEMA, row, every)


FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fp", T.StringType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)


def audio_fingerprint(
    payloads: DataFrame, frame: int = 200, shift: int = 20
) -> DataFrame:
    """CONTENT fingerprint over REAL decoded audio — the audio member of
    the modality dedup matrix (text shingles / image dhash / THIS): the
    mono 16-bit-domain waveform is framed (trailing partial dropped, the
    VAD contract), each frame's EXACT integer energy Σs² is coarsely
    quantized (``energy >> shift`` — small amplitude noise moves a level
    by at most one step), and the level CONTOUR is the fingerprint,
    rendered as the md5 of the comma-joined levels. Containers and bit
    depths vanish: a PCM16 file and its float64 re-encode fingerprint
    identically (decode arms normalize to one domain), which is the
    duplicate class byte-hashing structurally misses.

    All integer until the md5, so a SQL oracle regenerates waveform,
    energies, levels, and fingerprint digit-for-digit. Map-only
    Arrow-batched mapInPandas; downstream dedup is one groupBy on fp —
    the exact-dedup shape, never pairwise.
    """
    def fingerprint(raw: bytes) -> tuple:
        flat = _decode_wav16(raw)[3].ravel()
        m = flat.size // frame
        fr = flat[: m * frame].reshape(m, frame)
        levels = ((fr * fr).sum(axis=1) >> shift).tolist()
        fp = hashlib.md5(",".join(str(x) for x in levels).encode()).hexdigest()
        return fp, m

    return _decode_rows(payloads, FP_SCHEMA, fingerprint)
