"""Scalar reference decoders: the test oracle for the vectorized ones.

These are the original per-bit native-FLAC decoder and per-nibble IMA ADPCM
decoder, kept verbatim apart from their imports. The package decoders
(``functions.flac.decode_flac`` and ``functions.audio._decode_ima_adpcm``)
must return exactly what these return, or raise ``ValueError`` where these
raise; ``_crc16`` here is the bytewise CRC-16 the table-driven one is checked
against.
"""

from __future__ import annotations

import struct

import numpy as np

from doc_quality_check_spark.functions.audio import (
    _IMA_INDEX_TABLE,
    _IMA_STEP_TABLE,
)
from doc_quality_check_spark.functions.flac import (
    _BPS_CODES,
    FLAC_MAGIC,
    _crc8,
)

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _Bits:
    """MSB-first bit reader with byte-position tracking (for CRC spans)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos  # next unread BYTE (bits are drawn from cur)
        self.cur = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.buf):
                raise ValueError("FLAC bitstream truncated")
            self.cur = (self.cur << 8) | self.buf[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= nbits
        v = (self.cur >> self.n) & ((1 << nbits) - 1)
        self.cur &= (1 << self.n) - 1
        return v

    def sread(self, nbits: int) -> int:
        v = self.read(nbits)
        return v - (1 << nbits) if v >= (1 << (nbits - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1_000_000:
                raise ValueError("FLAC unary run overflow")
        return q

    def align(self) -> None:
        self.n = 0
        self.cur = 0


def _read_utf8_number(bits: _Bits) -> int:
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x40
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 1 or nbytes > 6:
        raise ValueError("bad FLAC UTF-8 coded number")
    v = b0 & (mask - 1)
    for _ in range(nbytes):
        b = bits.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("bad FLAC UTF-8 continuation")
        v = (v << 6) | (b & 0x3F)
    return v


def _read_residual(bits: _Bits, blocksize: int, order: int) -> np.ndarray:
    method = bits.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = bits.read(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide block size")
    out = np.empty(blocksize - order, dtype=np.int64)
    w = 0
    for p in range(nparts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        k = bits.read(pbits)
        if k == escape:
            raw = bits.read(5)
            for i in range(n):
                out[w + i] = bits.sread(raw) if raw else 0
        else:
            for i in range(n):
                q = bits.unary()
                v = (q << k) | (bits.read(k) if k else 0)
                out[w + i] = (v >> 1) ^ -(v & 1)  # zigzag
        w += n
    return out


def _decode_subframe(bits: _Bits, blocksize: int, bps: int) -> np.ndarray:
    if bits.read(1):
        raise ValueError("FLAC subframe padding bit set")
    t = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = 1 + bits.unary()
        bps -= wasted
    if t == 0:  # CONSTANT
        out = np.full(blocksize, bits.sread(bps), dtype=np.int64)
    elif t == 1:  # VERBATIM
        out = np.array([bits.sread(bps) for _ in range(blocksize)],
                       dtype=np.int64)
    elif 8 <= t <= 12:  # FIXED, order t-8
        order = t - 8
        warm = [bits.sread(bps) for _ in range(order)]
        resid = _read_residual(bits, blocksize, order)
        out = np.empty(blocksize, dtype=np.int64)
        out[:order] = warm
        coefs = _FIXED_COEFS[order]
        for i in range(order, blocksize):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[i - 1 - j]
            out[i] = resid[i - order] + pred
    elif t >= 32:  # LPC, order t-31
        order = t - 31
        warm = [bits.sread(bps) for _ in range(order)]
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = bits.sread(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [bits.sread(prec) for _ in range(order)]
        resid = _read_residual(bits, blocksize, order)
        out = np.empty(blocksize, dtype=np.int64)
        out[:order] = warm
        for i in range(order, blocksize):
            pred = 0
            for j in range(order):
                pred += coefs[j] * int(out[i - 1 - j])
            out[i] = resid[i - order] + (pred >> shift)
    else:
        raise ValueError(f"reserved FLAC subframe type {t}")
    if wasted:
        out <<= wasted
    return out


def decode_flac(buf: bytes):
    """Native FLAC bytes → (sample_rate, float32 mono PCM in [-1, 1]).
    Multi-channel audio mixes to mono (the engine's metrics contract,
    same as audio._parse_wav). Raises ValueError on malformed input."""
    if buf[:4] != FLAC_MAGIC:
        raise ValueError("not a FLAC stream")
    pos = 4
    sr = channels = bps = None
    total = 0
    # metadata blocks
    while pos + 4 <= len(buf):
        hdr = buf[pos]
        (length,) = struct.unpack(">I", b"\x00" + buf[pos + 1 : pos + 4])
        body = buf[pos + 4 : pos + 4 + length]
        if (hdr & 0x7F) == 0:  # STREAMINFO
            if length < 34:
                raise ValueError("short FLAC STREAMINFO")
            packed = int.from_bytes(body[10:18], "big")
            sr = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
        pos += 4 + length
        if hdr & 0x80:  # last-metadata-block flag
            break
    if sr is None or not sr:
        raise ValueError("FLAC missing STREAMINFO")

    chans: list[list[np.ndarray]] = [[] for _ in range(channels)]
    ndecoded = 0
    while pos + 2 <= len(buf) and (total == 0 or ndecoded < total):
        sync = (buf[pos] << 8) | buf[pos + 1]
        if (sync >> 2) != 0x3FFE:
            raise ValueError("FLAC frame sync lost")
        frame_start = pos
        bits = _Bits(buf, pos + 2)
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        bps_code = bits.read(3)
        bits.read(1)  # reserved
        _read_utf8_number(bits)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = bits.read(8) + 1
        elif bs_code == 7:
            blocksize = bits.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        fbps = bps if bps_code == 0 else _BPS_CODES.get(bps_code)
        if fbps is None:
            raise ValueError("reserved FLAC sample size code")
        # CRC-8 covers the header bytes up to (not incl.) the CRC byte
        if bits.n:
            raise ValueError("FLAC frame header not byte-aligned")
        if _crc8(buf[frame_start : bits.pos]) != bits.read(8):
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if ch_code <= 7:
            nch = ch_code + 1
            if nch != channels:
                raise ValueError("FLAC frame channel count mismatch")
            subs = [
                _decode_subframe(bits, blocksize, fbps) for _ in range(nch)
            ]
        elif ch_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            extra0 = 1 if ch_code == 9 else 0  # side channel gets bps+1
            extra1 = 1 if ch_code in (8, 10) else 0
            a = _decode_subframe(bits, blocksize, fbps + extra0)
            b = _decode_subframe(bits, blocksize, fbps + extra1)
            if ch_code == 8:  # left/side: L, S=L-R
                subs = [a, a - b]
            elif ch_code == 9:  # right/side: S=L-R, R
                subs = [a + b, b]
            else:  # mid/side
                m2 = (a << 1) | (b & 1)
                subs = [(m2 + b) >> 1, (m2 - b) >> 1]
        else:
            raise ValueError("reserved FLAC channel assignment")
        bits.align()
        if _crc16(buf[frame_start : bits.pos]) != bits.read(16):
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = bits.pos
        for c in range(channels):
            chans[c].append(subs[c])
        ndecoded += blocksize

    if not chans[0]:
        raise ValueError("FLAC stream has no frames")
    planes = [np.concatenate(c) for c in chans]
    if total:
        planes = [p[:total] for p in planes]
    mono = planes[0].astype(np.float64)
    for p in planes[1:]:
        mono += p.astype(np.float64)
    mono /= len(planes)
    scale = float((1 << (bps - 1)) - 1)
    return int(sr), (mono / scale).astype(np.float32)


def _ima_nibble_decode(n, pred, index):
    step = int(_IMA_STEP_TABLE[index])
    diff = step >> 3
    if n & 1:
        diff += step >> 2
    if n & 2:
        diff += step >> 1
    if n & 4:
        diff += step
    pred = pred - diff if n & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_IMA_INDEX_TABLE[n])))
    return pred, index


def _decode_ima_adpcm(data: bytes, block_align: int, n_samples: int | None):
    spb = (block_align - 4) * 2 + 1
    out = []
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]
        if len(block) < 4:
            break
        pred, index, _r = struct.unpack_from("<hBB", block, 0)
        index = max(0, min(88, index))
        out.append(pred)
        for byte in block[4:]:
            for n in (byte & 0x0F, byte >> 4):
                pred, index = _ima_nibble_decode(n, pred, index)
                out.append(pred)
    pcm = np.array(out, dtype=np.float32) / 32767.0
    if n_samples is not None:
        pcm = pcm[:n_samples]
    return pcm
