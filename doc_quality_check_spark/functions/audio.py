"""Audio payload metrics as vectorized pandas/Arrow UDFs.

Reference parity — the per-payload scalar metric family:
- ink ratio (payload density): grayscale→Otsu→nonzero fraction,
  /root/reference/checks/clarity_check.py:11-38. Audio analog here:
  **non-silence energy ratio** — fraction of PCM samples whose |amplitude|
  exceeds an adaptive threshold.
- OCR confidence ('fast' mode): /root/reference/checks/confidence_check.py:178-261.
  Audio analog: **decode-validity confidence** in [0,100] — 0 when the payload
  fails to parse, otherwise scaled by signal presence (so silent clips score
  ~0 exactly like blank pages score 0.0 OCR confidence,
  docs/THRESHOLD_ANALYSIS_REPORT.md:70-94).
- per-page decode with in-band error rows: /root/reference/
  utils/document_processor.py:92-207 (extract_page_data) and
  test_readability.py:262-271 — a failed decode yields a verdict row carrying
  an error string, never a dropped row or a job failure. The decode UDF
  mirrors that: errors → struct with ok=false + error message.
- empty-input default row: document_processor.py:126-134 — zero-byte/None
  payload still produces metrics (all-zero), not an exception.

Everything is Arrow-batched (pandas_udf): Python touches data once per batch,
and per-row work is numpy-vectorized over the sample arrays — no per-row
Python object churn in the hot path (north rule).

Synthesis (`synth_clip_bytes`) exists for deterministic fixtures only
(FIXTURES.md §1): RIFF/WAV PCM16 + PCM-U8 (and, round 5, G.711
mu-law/A-law, IEEE float, PCM24, IMA ADPCM, native FLAC via the
'flac_native' label) are real encodings; the legacy 'flac' label keeps
the deliberately fake-but-deterministic container (magic b'fLaC' + raw
PCM16) for byte-stable golden fixtures — REAL native FLAC streams decode
for real through functions/flac.py (from-scratch Rice/FIXED/LPC decoder
with CRC verification), content-routed in decode_payload.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Deterministic synthesis (fixtures only)
# ---------------------------------------------------------------------------

_FAKE_FLAC_MAGIC = b"fLaC"


def synth_pcm(seed: int, sr_hz: int, dur_ms: int, silent: bool = False) -> np.ndarray:
    """Deterministic float32 PCM in [-1, 1]: a 3-sine mixture seeded per clip."""
    n = max(1, int(sr_hz * dur_ms / 1000))
    if silent:
        return np.zeros(n, dtype=np.float32)
    rng = np.random.default_rng(seed)
    freqs = rng.integers(80, min(4000, sr_hz // 2 - 1), size=3)
    amps = rng.uniform(0.15, 0.3, size=3)
    t = np.arange(n, dtype=np.float64) / sr_hz
    x = np.zeros(n, dtype=np.float64)
    for f, a in zip(freqs, amps):
        x += a * np.sin(2 * np.pi * float(f) * t)
    return np.clip(x, -1.0, 1.0).astype(np.float32)


def synth_speechlike_pcm(
    seed: int,
    sr_hz: int,
    dur_ms: int,
    segments: int = 8,
    noise: float = 0.0,
    noise_seed: int | None = None,
) -> np.ndarray:
    """NON-stationary deterministic PCM: ``segments`` tone segments with
    per-segment seeded frequency/amplitude (speech-like spectral movement),
    plus optional low-level additive noise keyed by ``noise_seed``. The
    payload-near-dup fixture: :func:`synth_pcm`'s stationary sine mixture
    ill-conditions temporal fingerprint bits (operators/audio_dedup.py
    'conditioning caveat'); real audio moves spectrally, and so does this."""
    rng = np.random.default_rng(seed)
    n = max(segments, int(sr_hz * dur_ms / 1000))
    seg = n // segments
    t = np.arange(seg, dtype=np.float64) / sr_hz
    f_hi = min(3500, sr_hz // 2 - 1)
    x = np.concatenate([
        rng.uniform(0.2, 0.5)
        * np.sin(2 * np.pi * float(rng.integers(100, f_hi)) * t)
        for _ in range(segments)
    ])
    if x.size < n:
        x = np.pad(x, (0, n - x.size))
    if noise:
        nrng = np.random.default_rng(seed if noise_seed is None else noise_seed)
        x = x + noise * nrng.standard_normal(x.size)
    return np.clip(x, -1.0, 1.0).astype(np.float32)


def encode_wav_pcm16(pcm: np.ndarray, sr_hz: int) -> bytes:
    data = (np.clip(pcm, -1, 1) * 32767.0).astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sr_hz, sr_hz * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def encode_wav_pcmu8(pcm: np.ndarray, sr_hz: int) -> bytes:
    data = ((np.clip(pcm, -1, 1) * 127.0) + 128.0).astype(np.uint8).tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sr_hz, sr_hz, 1, 8,
        b"data", len(data),
    )
    return hdr + data


# ---------------------------------------------------------------------------
# telephony / compressed WAV codecs (round 5): G.711 mu-law + A-law, IEEE
# float, 24/32-bit PCM, IMA ADPCM. The DECODE expansions follow the classic
# public-domain Sun g711.c formulas (the ITU G.711 reference shape); the
# ENCODERS are correct by construction — they invert the decode table via
# nearest-value search, so encode(x) always maps to the code whose decoded
# value is closest to x (monotone, interop-safe, zero spec-memory risk).


def _g711_decode_tables():
    codes = np.arange(256, dtype=np.int64)
    # mu-law expand (Sun g711.c ulaw2linear): 16-bit domain, max 32124
    u = ~codes & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t = t << ((u & 0x70) >> 4)
    ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84)
    # A-law expand (Sun g711.c alaw2linear): 16-bit domain, max 32256
    a = codes ^ 0x55
    seg = (a & 0x70) >> 4
    q = (a & 0x0F) << 4
    t = np.where(seg == 0, q + 8, (q + 0x108) << np.maximum(seg - 1, 0))
    alaw = np.where(a & 0x80, t, -t)
    return ulaw.astype(np.int32), alaw.astype(np.int32)


_ULAW_DECODE, _ALAW_DECODE = _g711_decode_tables()


def _g711_encoder(decode_table: np.ndarray):
    """Nearest-decoded-value inverse of a 256-entry expansion table:
    (sorted values, code order, midpoint boundaries) for searchsorted."""
    order = np.argsort(decode_table, kind="stable")
    vals = decode_table[order].astype(np.int64)
    mids = (vals[:-1] + vals[1:]) / 2.0
    return order.astype(np.uint8), mids


_ULAW_ENC_ORDER, _ULAW_ENC_MIDS = _g711_encoder(_ULAW_DECODE)
_ALAW_ENC_ORDER, _ALAW_ENC_MIDS = _g711_encoder(_ALAW_DECODE)


def _wav_header(sr_hz, tag, channels, bits, block_align, byte_rate,
                data_len, extra=b""):
    fmt = struct.pack(
        "<HHIIHH", tag, channels, sr_hz, byte_rate, block_align, bits
    ) + extra
    return (
        struct.pack("<4sI4s", b"RIFF", 20 + len(fmt) + data_len, b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", data_len)
    )


def _encode_g711(pcm, order, mids) -> bytes:
    x = (np.clip(pcm, -1, 1) * 32767.0).astype(np.int64)
    return order[np.searchsorted(mids, x)].tobytes()


def encode_wav_mulaw(pcm: np.ndarray, sr_hz: int) -> bytes:
    data = _encode_g711(pcm, _ULAW_ENC_ORDER, _ULAW_ENC_MIDS)
    return _wav_header(sr_hz, 7, 1, 8, 1, sr_hz, len(data)) + data


def encode_wav_alaw(pcm: np.ndarray, sr_hz: int) -> bytes:
    data = _encode_g711(pcm, _ALAW_ENC_ORDER, _ALAW_ENC_MIDS)
    return _wav_header(sr_hz, 6, 1, 8, 1, sr_hz, len(data)) + data


def encode_wav_float32(pcm: np.ndarray, sr_hz: int) -> bytes:
    data = np.clip(pcm, -1, 1).astype("<f4").tobytes()
    return _wav_header(sr_hz, 3, 1, 32, 4, sr_hz * 4, len(data)) + data


def encode_wav_pcm24(pcm: np.ndarray, sr_hz: int) -> bytes:
    x = (np.clip(pcm, -1, 1) * 8388607.0).astype("<i4")
    data = x.astype("<i4").tobytes()
    # 24-bit little-endian: drop every 4th (sign-extension) byte
    data = bytes(
        b for i, b in enumerate(data) if i % 4 != 3
    )
    return _wav_header(sr_hz, 1, 1, 24, 3, sr_hz * 3, len(data)) + data


# IMA/DVI ADPCM (WAV format tag 0x11), mono — the public step-table
# algorithm (multimedia-wiki / IMA spec)
_IMA_INDEX_TABLE = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64
)
_IMA_STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)


def _ima_tables():
    """(signed predictor delta, next step index) for every (step index,
    nibble): the IMA decoder's whole per-nibble arithmetic as two lookups."""
    step = _IMA_STEP_TABLE[:, None]
    n = np.arange(16)
    diff = ((step >> 3) + np.where(n & 1, step >> 2, 0)
            + np.where(n & 2, step >> 1, 0) + np.where(n & 4, step, 0))
    delta = np.where(n & 8, -diff, diff)
    nxt = np.clip(np.arange(89)[:, None] + _IMA_INDEX_TABLE, 0, 88)
    return delta, nxt


_IMA_DELTA, _IMA_NEXT = _ima_tables()


def _ima_nibble_encode(sample, pred, index):
    step = int(_IMA_STEP_TABLE[index])
    delta = sample - pred
    n = 8 if delta < 0 else 0
    if n:
        delta = -delta
    if delta >= step:
        n |= 4
        delta -= step
    if delta >= step >> 1:
        n |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        n |= 1
    return n


_IMA_BLOCK_ALIGN = 256  # bytes per mono block: 4 header + 252 nibble bytes


def encode_wav_ima_adpcm(pcm: np.ndarray, sr_hz: int) -> bytes:
    x = (np.clip(pcm, -1, 1) * 32767.0).astype(np.int64)
    spb = (_IMA_BLOCK_ALIGN - 4) * 2 + 1  # samples per block incl. header
    out = bytearray()
    index = 0
    delta, nxt = _IMA_DELTA.tolist(), _IMA_NEXT.tolist()
    for b0 in range(0, len(x), spb):
        block = x[b0 : b0 + spb]
        pred = int(block[0])
        out += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for s in block[1:]:
            n = _ima_nibble_encode(int(s), pred, index)
            pred = max(-32768, min(32767, pred + delta[index][n]))
            index = nxt[index][n]
            nibbles.append(n)
        nibbles += [0] * (-len(nibbles) % 2)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            out.append(lo | (hi << 4))  # LOW nibble first (IMA/WAV layout)
        out += b"\x00" * (_IMA_BLOCK_ALIGN - 4 - len(nibbles) // 2)
    extra = struct.pack("<HH", 2, spb)  # cbSize=2, wSamplesPerBlock
    n_samples = len(x)
    hdr = _wav_header(sr_hz, 0x11, 1, 4, _IMA_BLOCK_ALIGN,
                      sr_hz * _IMA_BLOCK_ALIGN // spb or sr_hz,
                      len(out), extra)
    # total decoded length rides a 'fact' chunk (required for compressed
    # WAV) — splice it before 'data'
    di = hdr.rindex(b"data")
    hdr = (hdr[:4]
           + struct.pack("<I", struct.unpack_from("<I", hdr, 4)[0] + 12)
           + hdr[8:di]
           + b"fact" + struct.pack("<II", 4, n_samples)
           + hdr[di:])
    return bytes(hdr) + bytes(out)


def _clamp_scan(a: np.ndarray, lo: int, hi: int):
    """Running composition, along axis 1, of the maps
    ``x -> min(hi, max(lo, x + a[:, t]))``: returns (A, L, H) with the state
    after step t, from start x0, equal to ``min(H[:, t], max(L[:, t],
    x0 + A[:, t]))``. Such clamp maps are closed under composition, so a
    Hillis-Steele scan builds them in log2(steps) vector passes."""
    A = a.astype(np.int32)
    L = np.full(A.shape, lo, dtype=np.int32)
    H = np.full(A.shape, hi, dtype=np.int32)
    d = 1
    while d < A.shape[1]:
        # apply the map ending d steps earlier first, then this one
        A2, L2, H2 = A[:, d:], L[:, d:], H[:, d:]
        new_lo = np.minimum(np.maximum(L[:, :-d] + A2, L2), H2)
        new_hi = np.minimum(np.maximum(H[:, :-d] + A2, L2), H2)
        A[:, d:] = A[:, :-d] + A2
        L[:, d:], H[:, d:] = new_lo, new_hi
        d *= 2
    return A, L, H


def _decode_ima_adpcm(data: bytes, block_align: int, n_samples: int | None):
    """Mono IMA ADPCM blocks → float32 PCM, with no per-nibble loop. In a
    block the step index follows a clamped running sum of index
    adjustments, and the predictor a clamped running sum of the deltas
    looked up by (step index, nibble); each is one :func:`_clamp_scan`
    over all blocks at once. A short last block decodes as far as it goes;
    a trailing fragment shorter than the 4-byte block header is ignored."""
    raw = np.frombuffer(data, dtype=np.uint8)
    nblk, tail = divmod(len(raw), block_align)
    if tail >= 4:  # zero-pad the short block; its extra samples are cut
        raw = np.concatenate([raw, np.zeros(block_align - tail, np.uint8)])
        nblk += 1
    blocks = raw[: nblk * block_align].reshape(nblk, block_align)
    pred0 = blocks[:, :2].copy().view("<i2")[:, 0].astype(np.int32)
    index0 = np.minimum(blocks[:, 2], 88).astype(np.int32)
    nib = np.empty((nblk, 2 * (block_align - 4)), dtype=np.intp)
    nib[:, 0::2] = blocks[:, 4:] & 0x0F  # low nibble first
    nib[:, 1::2] = blocks[:, 4:] >> 4
    index = np.empty(nib.shape, dtype=np.intp)
    index[:, 0] = index0
    A, L, H = _clamp_scan(_IMA_INDEX_TABLE[nib[:, :-1]], 0, 88)
    index[:, 1:] = np.minimum(H, np.maximum(L, index0[:, None] + A))
    A, L, H = _clamp_scan(_IMA_DELTA[index, nib], -32768, 32767)
    pred = np.minimum(H, np.maximum(L, pred0[:, None] + A))
    out = np.concatenate([pred0[:, None], pred], axis=1).ravel()
    if tail >= 4:
        out = out[: len(out) - 2 * (block_align - tail)]
    pcm = out.astype(np.float32) / 32767.0
    if n_samples is not None:
        pcm = pcm[:n_samples]
    return pcm


def encode_fake_flac(pcm: np.ndarray, sr_hz: int) -> bytes:
    """Deterministic FAKE container (no real FLAC lib in this environment).

    Layout: b'fLaC' | uint32 sr | uint32 n_samples | raw little-endian int16.
    """
    data = (np.clip(pcm, -1, 1) * 32767.0).astype("<i2").tobytes()
    return _FAKE_FLAC_MAGIC + struct.pack("<II", sr_hz, len(data) // 2) + data


def synth_clip_bytes(
    seed: int,
    sr_hz: int,
    dur_ms: int,
    codec: str,
    silent: bool = False,
    corrupt: bool = False,
    header_sr_override: int | None = None,
) -> bytes:
    """Render one clip payload. ``header_sr_override`` injects sr-consistency
    violations (header sr != column sr); ``corrupt`` truncates + scrambles."""
    pcm = synth_pcm(seed, sr_hz, dur_ms, silent=silent)
    enc_sr = header_sr_override or sr_hz
    if codec == "pcm_u8":
        raw = encode_wav_pcmu8(pcm, enc_sr)
    elif codec == "flac":
        raw = encode_fake_flac(pcm, enc_sr)
    elif codec == "mulaw":
        raw = encode_wav_mulaw(pcm, enc_sr)
    elif codec == "alaw":
        raw = encode_wav_alaw(pcm, enc_sr)
    elif codec == "pcm_f32le":
        raw = encode_wav_float32(pcm, enc_sr)
    elif codec == "pcm_s24le":
        raw = encode_wav_pcm24(pcm, enc_sr)
    elif codec == "adpcm_ima_wav":
        raw = encode_wav_ima_adpcm(pcm, enc_sr)
    elif codec == "flac_native":
        from doc_quality_check_spark.functions.flac import encode_flac

        raw = encode_flac(pcm, enc_sr)
    else:  # pcm_s16le and any unknown label default to WAV16
        raw = encode_wav_pcm16(pcm, enc_sr)
    if corrupt:
        raw = b"XXXX" + raw[4 : max(8, len(raw) // 2)]
    return raw


# ---------------------------------------------------------------------------
# Decode (the real engine path)
# ---------------------------------------------------------------------------


def _parse_wav(buf: bytes):
    """Chunk-walking RIFF/WAV parser → (sr, float32 pcm). Dispatches on the
    fmt chunk's FORMAT TAG — PCM (8/16/24/32), IEEE float (32/64), G.711
    mu-law/A-law, IMA ADPCM, and WAVE_FORMAT_EXTENSIBLE wrapping any of
    them (round 5; previously the tag was ignored, silently mis-decoding a
    telephony mu-law stream as unsigned PCM8). Raises on malformed/unknown
    input (caught by the UDF → in-band error row)."""
    if len(buf) < 12 or buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, sr, bits, channels, data = 12, None, None, 1, None
    tag, block_align, fact_samples = 1, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            tag, channels, sr, _br, block_align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if tag == 0xFFFE and len(body) >= 26:
                # WAVE_FORMAT_EXTENSIBLE: effective tag = SubFormat GUID's
                # first two bytes (body[24:26])
                (tag,) = struct.unpack_from("<H", body, 24)
        elif cid == b"fact" and len(body) >= 4:
            (fact_samples,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if sr is None or data is None or not bits:
        raise ValueError("missing fmt/data chunk")
    if tag == 1:  # integer PCM
        if bits == 16:
            pcm = np.frombuffer(
                data[: len(data) // 2 * 2], dtype="<i2"
            ).astype(np.float32) / 32767.0
        elif bits == 8:
            pcm = (np.frombuffer(data, dtype=np.uint8).astype(np.float32)
                   - 128.0) / 127.0
        elif bits == 24:
            raw = np.frombuffer(
                data[: len(data) // 3 * 3], dtype=np.uint8
            ).reshape(-1, 3).astype(np.int64)
            x = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
            x = np.where(x & 0x800000, x - 0x1000000, x)
            pcm = x.astype(np.float32) / 8388607.0
        elif bits == 32:
            pcm = np.frombuffer(
                data[: len(data) // 4 * 4], dtype="<i4"
            ).astype(np.float32) / 2147483647.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            pcm = np.frombuffer(
                data[: len(data) // 4 * 4], dtype="<f4"
            ).astype(np.float32)
        elif bits == 64:
            pcm = np.frombuffer(
                data[: len(data) // 8 * 8], dtype="<f8"
            ).astype(np.float32)
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    elif tag == 7:  # G.711 mu-law
        codes = np.frombuffer(data, dtype=np.uint8)
        pcm = _ULAW_DECODE[codes].astype(np.float32) / 32767.0
    elif tag == 6:  # G.711 A-law
        codes = np.frombuffer(data, dtype=np.uint8)
        pcm = _ALAW_DECODE[codes].astype(np.float32) / 32767.0
    elif tag == 0x11:  # IMA/DVI ADPCM
        if channels and channels != 1:
            raise ValueError("multi-channel IMA ADPCM not supported")
        if not block_align or block_align < 5:
            raise ValueError("IMA ADPCM needs a block_align >= 5")
        return int(sr), _decode_ima_adpcm(
            bytes(data), int(block_align), fact_samples
        )
    else:
        raise ValueError(f"unsupported WAV format tag 0x{tag:04X}")
    if channels and channels > 1:
        pcm = pcm[: len(pcm) // channels * channels].reshape(
            -1, channels
        ).mean(axis=1)
    return int(sr), pcm


def _parse_fake_flac(buf: bytes):
    if len(buf) < 12 or buf[0:4] != _FAKE_FLAC_MAGIC:
        raise ValueError("not a fLaC stream")
    sr, n = struct.unpack_from("<II", buf, 4)
    data = buf[12 : 12 + 2 * n]
    if len(data) < 2 * n:
        raise ValueError("truncated fLaC payload")
    pcm = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32767.0
    return int(sr), pcm


def _is_real_flac(b: bytes) -> bool:
    """Real native FLAC vs the fixture's fake container, distinguished by
    the STREAMINFO block header (type 0 + 24-bit BE length 34) — the same
    byte-exact test the header probe uses."""
    return (
        len(b) >= 8
        and b[:4] == _FAKE_FLAC_MAGIC
        and (b[4] & 0x7F) == 0
        and b[5:8] == b"\x00\x00\x22"
    )


def decode_payload(buf, codec: str):
    """bytes → (sr, pcm). Dispatches on codec label with container sniffing
    as fallback (the reference's mode-dispatcher analog,
    confidence_check.py:421-455). 'fLaC' payloads route by content: real
    native FLAC streams (round 5, functions/flac.py — full Rice/FIXED/LPC
    decoder with CRC verification) vs the deterministic fake fixture
    container."""
    if buf is None or len(buf) == 0:
        # empty-input default row semantics (document_processor.py:126-134)
        return 0, np.zeros(0, dtype=np.float32)
    b = bytes(buf)
    if codec == "flac" or b[:4] == _FAKE_FLAC_MAGIC:
        if _is_real_flac(b):
            from doc_quality_check_spark.functions.flac import decode_flac

            return decode_flac(b)
        return _parse_fake_flac(b)
    return _parse_wav(b)


def energy_ratio(pcm: np.ndarray) -> float:
    """Non-silence energy ratio ∈ [0,1] — the ink-ratio analog
    (clarity_check.py:11-38: Otsu-binarized nonzero fraction). Adaptive
    amplitude threshold stands in for Otsu."""
    if pcm.size == 0:
        return 0.0
    peak = float(np.max(np.abs(pcm)))
    thr = max(0.005, 0.1 * peak)
    return float(np.count_nonzero(np.abs(pcm) > thr)) / pcm.size


SPECTRAL_WINDOW = 16384
SPECTRAL_MAX_WINDOWS = 8

# np.hanning(16384) is ~16k cosine evaluations; computing it per clip was
# ~25% of the whole spectral pass (measured). Cache by length, BOUNDED:
# clips shorter than the window each contribute their own length, and a
# VAD-segmented corpus can have thousands of distinct short lengths — an
# unbounded cache would grow without limit inside long-lived UDF workers.
_HANN_CACHE: dict[int, np.ndarray] = {}
_HANN_CACHE_MAX = 64


def _hann(n: int) -> np.ndarray:
    h = _HANN_CACHE.get(n)
    if h is None:
        if len(_HANN_CACHE) >= _HANN_CACHE_MAX:
            # evict an arbitrary short-window entry; the full window (the
            # one that matters) is re-inserted on next use at worst
            _HANN_CACHE.pop(next(iter(_HANN_CACHE)))
        h = _HANN_CACHE[n] = np.hanning(n)
    return h


def spectral_flatness(pcm: np.ndarray) -> float:
    """Welch-style spectral flatness ∈ [0,1]: per 16k-sample half-overlapped
    Hann window, the geometric/arithmetic mean ratio of the power spectrum,
    averaged over (at most 8) windows. Tonal signal → ~0, white noise → ~1,
    silence → 1. This is the 'accurate'-mode analog of the reference's
    heavyweight confidence tier (confidence_check.py:329-418: enhancement +
    multi-PSM retry) — real DSP per payload, not just a header check.

    Multi-window clips run ONE batched rfft over the stacked windows
    (bit-identical to the per-window loop, ~30% faster measured)."""
    if pcm.size < 16:
        return 1.0
    x = pcm.astype(np.float64)
    w = SPECTRAL_WINDOW
    hop = w // 2
    starts = list(range(0, max(x.size - w, 0) + 1, hop))[:SPECTRAL_MAX_WINDOWS] or [0]
    hann = _hann(min(w, x.size))
    if x.size < w or len(starts) == 1:
        seg = x[starts[0] : starts[0] + w]
        spec = np.abs(np.fft.rfft(seg * hann[: seg.size])) ** 2 + 1e-12
        return float(np.exp(np.mean(np.log(spec))) / np.mean(spec))
    idx = np.asarray(starts)[:, None] + np.arange(w)[None, :]
    spec = np.abs(np.fft.rfft(x[idx] * hann, axis=1)) ** 2 + 1e-12
    vals = np.exp(np.mean(np.log(spec), axis=1)) / np.mean(spec, axis=1)
    return float(np.mean(vals))


def zero_crossing_rate(pcm: np.ndarray) -> float:
    """Fraction of adjacent-sample sign changes ∈ [0,1] — a cheap vectorized
    voicing/noise discriminator carried as a metric column."""
    if pcm.size < 2:
        return 0.0
    return float(np.mean(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))


def decode_confidence(ok: bool, pcm: np.ndarray, flatness: float | None = None,
                      fast: bool = False) -> float:
    """Decode-validity confidence ∈ [0,100] — OCR-confidence analog
    (confidence_check.py:178-261). Parse failure → 0 (like blank → 0.0).
    Signal presence (energy/RMS) scaled by tonality (1 − spectral flatness):
    a decodable-but-noise-only payload scores lower than a tonal one.

    ``fast=True`` is the reference's 'fast' tier (confidence_check.py:178-261
    without the 'improved'-mode enhancement retry): energy/RMS only, no FFT —
    the tonality factor is skipped entirely."""
    if not ok or pcm.size == 0:
        return 0.0
    er = energy_ratio(pcm)
    rms = float(np.sqrt(np.mean(np.square(pcm, dtype=np.float64))))
    if fast:
        return float(min(100.0, 100.0 * min(1.0, 2.0 * er) * min(1.0, 10.0 * rms)))
    if flatness is None:
        flatness = spectral_flatness(pcm)
    tonality = 1.0 - flatness
    return float(
        min(100.0, 100.0 * min(1.0, 2.0 * er) * min(1.0, 10.0 * rms)
            * (0.5 + 0.5 * tonality))
    )


AUDIO_METRICS_SCHEMA = StructType(
    [
        StructField("decode_ok", BooleanType()),
        StructField("header_sr", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("energy_ratio", DoubleType()),
        StructField("spectral_flatness", DoubleType()),
        StructField("zcr", DoubleType()),
        StructField("decode_conf", DoubleType()),
        StructField("decoded_dur_ms", DoubleType()),
        # audio-curation metrics (vectorized numpy, no extra decode pass):
        StructField("rms_db", DoubleType()),          # level, dBFS
        StructField("peak_db", DoubleType()),         # peak, dBFS
        StructField("clip_fraction", DoubleType()),   # samples at full scale
        StructField("lead_silence_ms", DoubleType()),
        StructField("trail_silence_ms", DoubleType()),
        StructField("error", StringType()),
    ]
)

_SILENCE_THR = 0.005   # amplitude below which a sample counts as silence
_CLIP_THR = 0.999      # |sample| above which a sample counts as clipped


def curation_metrics(pcm: np.ndarray, sr: int) -> tuple[float, float, float, float, float]:
    """(rms_db, peak_db, clip_fraction, lead_silence_ms, trail_silence_ms) —
    the standard audio data-curation levels: loudness (dBFS), headroom,
    hard-clipping fraction, and trimmable lead/trail silence. All single-pass
    vectorized numpy over the already-decoded PCM."""
    if pcm.size == 0 or not sr:
        return -120.0, -120.0, 0.0, 0.0, 0.0
    a = np.abs(pcm)
    rms = float(np.sqrt(np.mean(np.square(pcm, dtype=np.float64))))
    peak = float(a.max())
    rms_db = 20.0 * np.log10(max(rms, 1e-6))
    peak_db = 20.0 * np.log10(max(peak, 1e-6))
    clip_fraction = float(np.count_nonzero(a >= _CLIP_THR)) / a.size
    voiced = np.flatnonzero(a > _SILENCE_THR)
    if voiced.size == 0:
        # all-silent: report the full duration as LEAD only so that
        # lead + trail <= duration always holds (trimmed length stays >= 0)
        lead, trail = 1000.0 * pcm.size / sr, 0.0
    else:
        lead = 1000.0 * float(voiced[0]) / sr
        trail = 1000.0 * float(pcm.size - 1 - voiced[-1]) / sr
    return round(rms_db, 4), round(peak_db, 4), round(clip_fraction, 6), \
        round(lead, 3), round(trail, 3)


def _metrics_for_batch(payloads: pd.Series, codecs: pd.Series,
                       fast: bool = False) -> pd.DataFrame:
    out = {k.name: [] for k in AUDIO_METRICS_SCHEMA.fields}
    for buf, codec in zip(payloads, codecs):
        try:
            sr, pcm = decode_payload(buf, codec or "")
            ok = True
            err = None
        except Exception as exc:  # in-band error row (test_readability.py:262-271)
            sr, pcm, ok, err = 0, np.zeros(0, dtype=np.float32), False, str(exc)
        er = energy_ratio(pcm)
        # 'fast' tier skips the FFT pass: flatness is reported NULL and the
        # confidence drops the tonality factor (decode_confidence(fast=True))
        flat = None if fast else (spectral_flatness(pcm) if ok and pcm.size else 1.0)
        out["decode_ok"].append(ok)
        out["header_sr"].append(sr)
        out["n_samples"].append(int(pcm.size))
        out["energy_ratio"].append(er)
        out["spectral_flatness"].append(flat)
        out["zcr"].append(zero_crossing_rate(pcm))
        out["decode_conf"].append(decode_confidence(ok, pcm, flat, fast=fast))
        out["decoded_dur_ms"].append(1000.0 * pcm.size / sr if sr else 0.0)
        rms_db, peak_db, clip_fr, lead_ms, trail_ms = curation_metrics(pcm, sr)
        out["rms_db"].append(rms_db)
        out["peak_db"].append(peak_db)
        out["clip_fraction"].append(clip_fr)
        out["lead_silence_ms"].append(lead_ms)
        out["trail_silence_ms"].append(trail_ms)
        out["error"].append(err)
    return pd.DataFrame(out)


@F.pandas_udf(AUDIO_METRICS_SCHEMA)
def audio_metrics_udf(payloads: pd.Series, codecs: pd.Series) -> pd.DataFrame:
    """Arrow-batched: (bytes, codec) → metrics struct. The single payload pass;
    every payload check reads from this struct so the binary column is decoded
    exactly once (the reference's 'avoids double analysis' discipline,
    test_readability.py:211-213 — which its own app fails at, app.py:336-345)."""
    return _metrics_for_batch(payloads, codecs)


@F.pandas_udf(AUDIO_METRICS_SCHEMA)
def audio_metrics_fast_udf(payloads: pd.Series, codecs: pd.Series) -> pd.DataFrame:
    """'fast'-mode metrics: full PCM decode but NO spectral FFT pass —
    spectral_flatness is NULL and decode_conf omits the tonality factor
    (reference fast tier, confidence_check.py:178-261)."""
    return _metrics_for_batch(payloads, codecs, fast=True)


@F.pandas_udf(ArrayType(FloatType()))
def decode_pcm_udf(payloads: pd.Series, codecs: pd.Series) -> pd.Series:
    """Full decoded PCM as array<float> — test/invariant path only (per-row
    decoded-PCM allclose at SNR>=30dB), never used in the throughput path."""
    res = []
    for buf, codec in zip(payloads, codecs):
        try:
            _, pcm = decode_payload(buf, codec or "")
            res.append(pcm.astype(np.float32))
        except Exception:
            res.append(np.zeros(0, dtype=np.float32))
    return pd.Series(res)


HEADER_PROBE_SCHEMA = StructType(
    [
        StructField("hdr_ok", BooleanType()),
        StructField("hdr_sr", IntegerType()),
        StructField("hdr_conf", DoubleType()),
    ]
)


def _probe_header(buf) -> tuple[bool, int, float]:
    """Cheap tier ('superfast' mode analog, confidence_check.py:264-326):
    container sniff + header parse only — no PCM decode, O(1) per payload.

    Containers probed, all byte-exact per their public specs:
    - RIFF/WAVE fmt chunk (sr at offset 24, LE)
    - REAL FLAC: 'fLaC' magic + STREAMINFO metadata block (block type 0,
      34-byte body; sr is a 20-bit big-endian field at body offset 10) —
      distinguished from the fixture's fake container by the block header:
      real streams carry length bytes 00 00 22, the fake layout puts the
      LE sample rate there.
    - Ogg Vorbis: 'OggS' page + the identification packet ('\\x01vorbis',
      channels u8 + sr u32-LE after the version word).
    """
    if buf is None or len(buf) == 0:
        return False, 0, 0.0
    b = bytes(buf[:64])
    if b[:4] == _FAKE_FLAC_MAGIC and len(b) >= 12:
        # real-FLAC STREAMINFO block header: last-flag bit + type 0, then
        # 24-bit BE length 34
        if len(b) >= 21 and (b[4] & 0x7F) == 0 and b[5:8] == b"\x00\x00\x22":
            sr = (b[18] << 12) | (b[19] << 4) | (b[20] >> 4)
            # failed probe (zero sr field) reports 0.0 like every other
            # reject path — a consumer reading hdr_conf alone must not see
            # a confident pass
            return sr > 0, int(sr), 50.0 if sr > 0 else 0.0
        (sr,) = struct.unpack_from("<I", b, 4)
        return True, int(sr), 50.0
    if len(b) >= 36 and b[0:4] == b"RIFF" and b[8:12] == b"WAVE" and b[12:16] == b"fmt ":
        (sr,) = struct.unpack_from("<I", b, 24)
        return True, int(sr), 50.0
    if b[:4] == b"OggS" and len(b) >= 28:
        nsegs = b[26]
        p = 27 + nsegs
        if len(b) >= p + 16 and b[p:p + 7] == b"\x01vorbis":
            (sr,) = struct.unpack_from("<I", b, p + 12)
            return sr > 0, int(sr), 50.0 if sr > 0 else 0.0
    return False, 0, 0.0


@F.pandas_udf(HEADER_PROBE_SCHEMA)
def header_probe_udf(payloads: pd.Series) -> pd.DataFrame:
    rows = [_probe_header(b) for b in payloads]
    return pd.DataFrame(rows, columns=["hdr_ok", "hdr_sr", "hdr_conf"])


def with_escalated_confidence(
    df,
    payload_col: str = "bytes",
    codec_col: str = "codec",
    escalate_below: float = 15.0,
):
    """Conditional escalation (the reference's 'balanced' mode early-exit,
    confidence_check.py:369-372, and adaptive re-extraction,
    document_segmentation.py:539-548): run the cheap header probe on every
    row, then run the EXPENSIVE full-decode UDF only on rows whose cheap
    confidence is below ``escalate_below`` — filter → expensive → union, so
    the expensive Python worker never sees the passing majority.

    Adds: conf_tier ('cheap'|'escalated'), decode_conf, and the header fields.
    """
    probed = df.withColumn("_p", header_probe_udf(F.col(payload_col)))
    probed = (
        probed.withColumn("hdr_ok", F.col("_p.hdr_ok"))
        .withColumn("hdr_sr", F.col("_p.hdr_sr"))
        .withColumn("hdr_conf", F.col("_p.hdr_conf"))
        .drop("_p")
    )
    cheap_pass = probed.filter(
        F.col("hdr_ok") & (F.col("hdr_conf") >= F.lit(escalate_below))
    ).withColumns(
        {
            "decode_conf": F.col("hdr_conf"),
            "conf_tier": F.lit("cheap"),
            # header-derived stand-ins so mode-agnostic consumers (e.g. the
            # payload_sr_consistency check) see consistent column names
            "decode_ok": F.col("hdr_ok"),
            "header_sr": F.col("hdr_sr"),
        }
    ).drop(payload_col)
    needs_more = probed.filter(
        ~(F.col("hdr_ok") & (F.col("hdr_conf") >= F.lit(escalate_below)))
    )
    escalated = (
        needs_more.withColumn(
            "_m", audio_metrics_udf(F.col(payload_col), F.col(codec_col))
        )
        .withColumn("decode_conf", F.col("_m.decode_conf"))
        .withColumn("conf_tier", F.lit("escalated"))
        .withColumn("decode_ok", F.col("_m.decode_ok"))
        .withColumn("header_sr", F.col("_m.header_sr"))
        .drop("_m", payload_col)
    )
    return cheap_pass.unionByName(escalated)


def with_audio_metrics(df, payload_col: str = "bytes", codec_col: str = "codec",
                       fast: bool = False):
    """Attach the metrics struct + flattened metric columns, dropping the
    payload column afterwards so downstream stages never shuffle binary data
    (SURVEY.md §7 'never wide-shuffle the bytes column').

    ``spark.doc_quality_check.decode.maxTasks`` (set by the local session
    factory) caps the decode stage's concurrent tasks via coalesce: in a
    single shared JVM the Arrow binary transfer degrades past ~12 concurrent
    writer threads (measured 2.3s vs 11s for the same 4GB stage), while on a
    real cluster each executor's slot count already provides this bound —
    unset the conf there. A value that is not an integer raises
    ValueError."""
    key = "spark.doc_quality_check.decode.maxTasks"
    raw = df.sparkSession.conf.get(key, "0")
    try:
        cap = int(raw)
    except ValueError:
        raise ValueError(f"{key} must be an integer, got {raw!r}") from None
    if cap and df.rdd.getNumPartitions() > cap:
        df = df.coalesce(cap)
    udf = audio_metrics_fast_udf if fast else audio_metrics_udf
    m = udf(F.col(payload_col), F.col(codec_col))
    df = df.withColumn("_m", m)
    for f in AUDIO_METRICS_SCHEMA.fields:
        df = df.withColumn(f.name, F.col(f"_m.{f.name}"))
    return df.drop("_m", payload_col)


PAYLOAD_MODES = ("superfast", "fast", "balanced", "accurate")


def with_payload_metrics(
    df,
    checks=None,
    mode: str = "accurate",
    payload_col: str = "bytes",
    codec_col: str = "codec",
    escalate_below: float = 15.0,
):
    """F5: the 4-mode check dispatcher (reference calculate_ocr_confidence,
    /root/reference/checks/confidence_check.py:421-455) as a physical-plan
    chooser. Returns ``(df, effective_mode)``.

    - ``superfast`` — header probe only, no PCM decode (O(1)/payload)
    - ``fast``      — full decode, no spectral FFT pass
    - ``balanced``  — header probe all rows, full decode only below
      ``escalate_below`` (the reference's early-exit)
    - ``accurate``  — full decode + spectral analysis (default)

    An unknown mode falls back to 'balanced' like the reference's ``else``
    branch. If the enabled payload ``checks`` need full-decode metric columns
    (payload_energy / payload_dur_consistency / payload_clipping),
    superfast/balanced cannot
    satisfy them for the cheap-tier rows — the dispatcher escalates to
    'fast' and reports it via ``effective_mode`` (the reference's global
    fallback semantics: never fail, pick the cheapest sufficient path)."""
    kinds = {c.kind for c in (checks or [])}
    needs_full = bool(
        kinds & {"payload_energy", "payload_dur_consistency", "payload_clipping"}
    )
    eff = mode if mode in PAYLOAD_MODES else "balanced"
    if needs_full and eff in ("superfast", "balanced"):
        eff = "fast"
    if eff == "superfast":
        out = (
            df.withColumn("_p", header_probe_udf(F.col(payload_col)))
            .withColumn("decode_ok", F.col("_p.hdr_ok"))
            .withColumn("header_sr", F.col("_p.hdr_sr"))
            .withColumn("decode_conf", F.col("_p.hdr_conf"))
            .withColumn("conf_tier", F.lit("cheap"))
            .drop("_p", payload_col)
        )
        return out, eff
    if eff == "balanced":
        return (
            with_escalated_confidence(df, payload_col, codec_col, escalate_below),
            eff,
        )
    out = with_audio_metrics(df, payload_col, codec_col, fast=(eff == "fast"))
    return out.withColumn("conf_tier", F.lit(eff)), eff
