"""From-scratch REAL FLAC codec (stdlib + numpy), no audio libraries.

Until round 5 the engine's "flac" payloads were a deterministic FAKE
container (audio.py encode_fake_flac — magic + raw PCM16), honestly
declared. This module adds the real thing, built from the public FLAC
format specification (xiph.org / RFC 9639):

- :func:`decode_flac`: full native-FLAC decoder — STREAMINFO + metadata
  walk, frame sync with CRC-8-verified headers, UTF-8-coded frame/sample
  numbers, all block-size/sample-rate/sample-size codes, CONSTANT /
  VERBATIM / FIXED(0-4) / LPC(1-32) subframes, wasted bits, Rice and
  Rice2 residual partitions with raw-bits escapes, and every stereo
  decorrelation mode (independent, left/side, right/side, mid/side —
  side channels carry bps+1 bits), with the CRC-16 of every frame
  verified. Returns (sr, float32 mono-mixed PCM in [-1, 1]) — the same
  contract as audio._parse_wav.
- :func:`encode_flac`: a real, spec-conformant encoder used as the
  deterministic fixture generator (mono or independent-stereo, 16-bit,
  fixed blocking): per frame it picks the cheapest FIXED predictor order
  0-2 and Rice-codes the residual (single partition), with correct CRC-8
  header and CRC-16 frame checksums — any conformant FLAC decoder can
  play its output.

The decoder is vectorized: no Python loop runs per bit. A Rice partition
decodes whole from one unpacked window of the stream (its stop bits are
found by pointer doubling over the window's set bits, its remainders
gathered from byte windows); VERBATIM and escape samples are strided field
gathers; FIXED restore is cumulative sums; CRC-16 is a table lookup per
byte. Only the LPC recursion stays per sample, over Python ints.

Lossless gate: decode(encode(pcm16)) reproduces the input EXACTLY
(tests/test_audio_udfs.py), the strongest possible roundtrip invariant —
plus CRC self-validation on every decoded frame. The original per-bit
decoder is the test oracle (tests/scalar_decoders.py): this one returns
exactly what it returns and raises ValueError where it raises; it also
rejects LPC samples beyond +-2^62, where the oracle's int64 recursion
could wrap or raise OverflowError.
"""

from __future__ import annotations

import operator
import struct

import numpy as np

FLAC_MAGIC = b"fLaC"

_BPS_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_UNARY_MAX = 1_000_000  # longest accepted unary run (bounds hostile input)
_LPC_LIMIT = 1 << 62  # LPC samples stay strictly inside +-2^62


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


# CRC-16 (x^16 + x^15 + x^2 + 1, MSB first, zero init) is linear: a byte v
# followed by z more bytes contributes v(x) * x^(8z + 16) mod the polynomial.
# Bytes are taken in spans of _CRC16_SPAN; a span's CRC is the XOR of one
# table lookup per byte, and spans fold together by multiplying the running
# CRC by x^(8 * span). The table has a fixed size whatever the input length.
_CRC16_SPAN = 256


def _crc16_table() -> np.ndarray:
    """``t[j, v]``: the CRC-16 of byte ``v`` followed by ``span - 1 - j``
    zero bytes."""
    one = np.arange(256, dtype=np.int64) << 8
    for _ in range(8):
        one = np.where(one & 0x8000, (one << 1) ^ 0x8005, one << 1) & 0xFFFF
    t = np.empty((_CRC16_SPAN, 256), dtype=np.uint16)
    row = one
    for j in range(_CRC16_SPAN - 1, -1, -1):
        t[j] = row
        row = ((row & 0xFF) << 8) ^ one[row >> 8]  # times x^8
    return t


_CRC16_TABLE = _crc16_table()
_CRC16_COLS = np.arange(_CRC16_SPAN)
# c * x^(8 * span) = hi(c) * x^(8 * span + 8) + lo(c) * x^(8 * span)
_CRC16_FOLD_HI = _CRC16_TABLE[0].tolist()
_CRC16_FOLD_LO = _CRC16_TABLE[1].tolist()


def _crc16(data) -> int:
    a = np.frombuffer(data, dtype=np.uint8)
    pad = -len(a) % _CRC16_SPAN
    if pad:  # leading zero bytes leave a zero-initialised CRC unchanged
        a = np.concatenate([np.zeros(pad, dtype=np.uint8), a])
    spans = np.bitwise_xor.reduce(
        _CRC16_TABLE[_CRC16_COLS, a.reshape(-1, _CRC16_SPAN)], axis=1
    )
    crc = 0
    for s in spans.tolist():
        crc = _CRC16_FOLD_HI[crc >> 8] ^ _CRC16_FOLD_LO[crc & 0xFF] ^ s
    return crc


class _Stream:
    """A FLAC stream addressed by absolute bit position. Scalar fields come
    from byte slices and vectors of fields from byte gathers; unary codes are
    found among the set bits of an unpacked window of the stream."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.nbits = 8 * len(buf)
        self.u8 = np.concatenate(
            [np.frombuffer(buf, dtype=np.uint8), np.zeros(8, dtype=np.uint8)]
        )

    def need(self, end: int) -> None:
        if end > self.nbits:
            raise ValueError("FLAC bitstream truncated")

    def read(self, pos: int, n: int) -> int:
        end = pos + n
        self.need(end)
        v = int.from_bytes(self.buf[pos >> 3 : (end + 7) >> 3], "big")
        return (v >> (-end & 7)) & ((1 << n) - 1)

    def fields(self, pos: np.ndarray, n: int) -> np.ndarray:
        """Unsigned ``n``-bit fields (1 <= n <= 33) at bit positions
        ``pos``, which the caller has bounds-checked."""
        b = pos >> 3
        nbytes = (n + 14) >> 3  # bytes an n-bit field spans at any offset
        w = self.u8[b].astype(np.int64)
        for i in range(1, nbytes):
            w = (w << 8) | self.u8[b + i]
        return (w >> (8 * nbytes - n - (pos & 7))) & ((1 << n) - 1)

    def samples(self, pos: int, count: int, n: int):
        """``count`` packed two's-complement ``n``-bit samples at ``pos``
        → (int64 array, end position)."""
        if count == 0:
            return np.zeros(0, dtype=np.int64), pos
        if n < 1:
            raise ValueError("FLAC sample width below one bit")
        end = pos + count * n
        self.need(end)
        v = self.fields(pos + n * np.arange(count, dtype=np.int64), n)
        return v - ((v >> (n - 1)) << n), end

    def stops(self, pos: int, n: int, k: int):
        """Stop bits of ``n`` codes at ``pos``, each a unary quotient (zeros
        ended by a set stop bit) and a ``k``-bit remainder → (stop
        positions, quotients). Codes are decoded from an unpacked window of
        the stream; when the window ends first, decoding resumes after the
        last code it held."""
        pieces = []
        start, left = pos, n
        span = n * (k + 3) + 64
        while left:
            hi = min(start + span, self.nbits)
            lo = start >> 3
            bits = np.unpackbits(self.u8[lo : (hi + 7) >> 3])
            bits = bits[start - 8 * lo : hi - 8 * lo]
            # a code holds its stop bit and at most k set remainder bits, so
            # the stop bits lie among the next left * (k + 1) set bits
            cand = np.flatnonzero(bits.view(bool))[: left * (k + 1)]
            if k == 0:
                got = cand[:left]
            else:
                # candidate j's code continues at candidate rank[cand[j] + k]
                # (set bits in bits[:cand[j] + k + 1]); m marks "past the
                # window"
                m = len(cand)
                whole = int(np.searchsorted(cand, len(bits) - k))
                jump = np.empty(m + 1, dtype=np.int64)
                jump[whole:] = m
                rank = np.cumsum(bits, dtype=np.int32)
                np.minimum(rank[cand[:whole] + k], m, out=jump[:whole])
                chain = _walk(jump, left)
                got = cand[chain[: int(np.searchsorted(chain, m))]]
            if len(got):
                pieces.append(got + start)
                start = int(pieces[-1][-1]) + k + 1
                left -= len(got)
                span = left * (k + 3) + 64
            elif hi == self.nbits:
                raise ValueError("FLAC bitstream truncated")
            else:  # no whole code in the window: a long unary run
                span *= 2
        stops = pieces[0] if len(pieces) == 1 else np.concatenate(pieces)
        q = np.diff(stops, prepend=pos - k - 1) - (k + 1)
        if int(q.max()) > _UNARY_MAX:
            raise ValueError("FLAC unary run overflow")
        self.need(start)
        return stops, q

    def rice(self, pos: int, n: int, k: int):
        """``n`` Rice codes with parameter ``k`` at ``pos``, zigzag-decoded
        → (int64 array, end position)."""
        if n == 0:
            return np.zeros(0, dtype=np.int64), pos
        stops, q = self.stops(pos, n, k)
        v = q << k
        if k:
            v |= self.fields(stops + 1, k)
        return (v >> 1) ^ -(v & 1), int(stops[-1]) + 1 + k


def _walk(jump: np.ndarray, n: int) -> np.ndarray:
    """The first ``n`` nodes of the path 0, jump[0], jump[jump[0]], ...
    ``jump`` is squared until it steps ``span`` (about sqrt(n) / 4) nodes; a
    short walk finds every span-th node, and the kept powers fill in the
    nodes between them, all rows at once."""
    powers = [jump]
    span = 1
    while 16 * span * span < n:
        powers.append(powers[-1][powers[-1]])
        span *= 2
    big = powers.pop()
    node = 0
    anchors = [0]
    for _ in range((n - 1) // span):
        node = int(big[node])
        anchors.append(node)
    path = np.empty((len(anchors), span), dtype=np.int64)
    path[:, 0] = anchors
    have = 1
    for step in powers:  # step moves `have` nodes
        path[:, have : 2 * have] = step[path[:, :have]]
        have *= 2
    return path.ravel()[:n]


def _skip_utf8_number(buf: bytes, p: int) -> int:
    """Position after the UTF-8-coded frame/sample number at byte ``p``."""
    if p >= len(buf):
        raise ValueError("FLAC bitstream truncated")
    b0 = buf[p]
    if b0 < 0x80:
        return p + 1
    nbytes = 0
    mask = 0x40
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 1 or nbytes > 6:
        raise ValueError("bad FLAC UTF-8 coded number")
    for b in buf[p + 1 : p + 1 + nbytes]:
        if (b & 0xC0) != 0x80:
            raise ValueError("bad FLAC UTF-8 continuation")
    if p + 1 + nbytes > len(buf):
        raise ValueError("FLAC bitstream truncated")
    return p + 1 + nbytes


def _residual(s: _Stream, pos: int, blocksize: int, order: int):
    method = s.read(pos, 2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = s.read(pos + 2, 4)
    pos += 6
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide block size")
    parts = []
    for p in range(nparts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        k = s.read(pos, pbits)
        pos += pbits
        if k == escape:
            raw = s.read(pos, 5)
            pos += 5
            if raw:
                vals, pos = s.samples(pos, n, raw)
            else:
                vals = np.zeros(n, dtype=np.int64)
        else:
            vals, pos = s.rice(pos, n, k)
        parts.append(vals)
    return np.concatenate(parts), pos


def _fixed_restore(warm: np.ndarray, resid: np.ndarray) -> np.ndarray:
    """Samples after the warm-up of a FIXED subframe. The order-p residual is
    the p-th backward difference, so restoring it is p cumulative sums, each
    started from the matching difference of the warm-up samples (int64
    wrap-around, like the recursion it replaces)."""
    x = resid
    for d in range(len(warm) - 1, -1, -1):
        x = np.cumsum(x)
        x += np.diff(warm, d)[-1]
    return x


def _lpc_restore(warm: list, coefs: list, shift: int,
                 resid: np.ndarray) -> np.ndarray:
    """The LPC recursion over Python ints. A sample reaching +-2^62 raises:
    below that bound int64 arithmetic is exact, so the result matches an
    int64 recursion bit for bit."""
    out = warm
    order = len(coefs)
    rev = coefs[::-1]
    for i, r in enumerate(resid.tolist()):
        v = r + (sum(map(operator.mul, rev, out[i : i + order])) >> shift)
        if not -_LPC_LIMIT < v < _LPC_LIMIT:
            raise ValueError("FLAC LPC sample overflow")
        out.append(v)
    return np.array(out, dtype=np.int64)


def _decode_subframe(s: _Stream, pos: int, blocksize: int, bps: int):
    """One subframe at bit ``pos`` → (int64 samples, end position)."""
    head = s.read(pos, 8)
    pos += 8
    if head & 0x80:
        raise ValueError("FLAC subframe padding bit set")
    t = (head >> 1) & 0x3F
    wasted = 0
    if head & 1:
        wasted = 1 + int(s.stops(pos, 1, 0)[1][0])  # unary-coded count
        pos += wasted
        bps -= wasted
    if t == 0:  # CONSTANT
        v, pos = s.samples(pos, 1, bps)
        out = np.full(blocksize, v[0], dtype=np.int64)
    elif t == 1:  # VERBATIM
        out, pos = s.samples(pos, blocksize, bps)
    elif 8 <= t <= 12:  # FIXED, order t-8
        warm, pos = s.samples(pos, t - 8, bps)
        resid, pos = _residual(s, pos, blocksize, t - 8)
        out = np.concatenate([warm, _fixed_restore(warm, resid)])
    elif t >= 32:  # LPC, order t-31
        order = t - 31
        warm, pos = s.samples(pos, order, bps)
        prec = s.read(pos, 4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = s.read(pos + 4, 5)
        if shift >= 16:  # a negative 5-bit two's-complement shift
            raise ValueError("negative FLAC LPC shift")
        coefs, pos = s.samples(pos + 9, order, prec)
        resid, pos = _residual(s, pos, blocksize, order)
        out = _lpc_restore(warm.tolist(), coefs.tolist(), shift, resid)
    else:
        raise ValueError(f"reserved FLAC subframe type {t}")
    if wasted:
        out <<= wasted
    return out, pos


def decode_flac(buf: bytes):
    """Native FLAC bytes → (sample_rate, float32 mono PCM in [-1, 1]).
    Multi-channel audio mixes to mono (the engine's metrics contract,
    same as audio._parse_wav). Raises ValueError on malformed input: bad
    sync, CRC-8 or CRC-16, reserved codes, partition checks, unary runs
    over 10^6 bits, and truncation."""
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

    s = _Stream(buf)
    chans: list[list[np.ndarray]] = [[] for _ in range(channels)]
    ndecoded = 0
    while pos + 2 <= len(buf) and (total == 0 or ndecoded < total):
        sync = (buf[pos] << 8) | buf[pos + 1]
        if (sync >> 2) != 0x3FFE:
            raise ValueError("FLAC frame sync lost")
        frame_start = pos
        if pos + 4 > len(buf):
            raise ValueError("FLAC bitstream truncated")
        bs_code, sr_code = buf[pos + 2] >> 4, buf[pos + 2] & 0xF
        ch_code, bps_code = buf[pos + 3] >> 4, (buf[pos + 3] >> 1) & 0x7
        p = _skip_utf8_number(buf, pos + 4)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code <= 7:  # 8- or 16-bit (block size - 1) follows
            n = bs_code - 5
            blocksize = int.from_bytes(buf[p : p + n], "big") + 1
            p += n
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            p += 1
        elif sr_code in (13, 14):
            p += 2
        elif sr_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        fbps = bps if bps_code == 0 else _BPS_CODES.get(bps_code)
        if fbps is None:
            raise ValueError("reserved FLAC sample size code")
        # CRC-8 covers the header bytes up to (not incl.) the CRC byte; a
        # header cut short leaves p at or past the end
        if p >= len(buf):
            raise ValueError("FLAC bitstream truncated")
        if _crc8(buf[frame_start:p]) != buf[p]:
            raise ValueError("FLAC frame header CRC-8 mismatch")

        if ch_code <= 7:
            if ch_code + 1 != channels:
                raise ValueError("FLAC frame channel count mismatch")
            widths = [fbps] * channels
        elif ch_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            # the side channel gets bps+1
            widths = [fbps + (ch_code == 9), fbps + (ch_code != 9)]
        else:
            raise ValueError("reserved FLAC channel assignment")
        bit = 8 * (p + 1)
        subs = []
        for w in widths:
            x, bit = _decode_subframe(s, bit, blocksize, w)
            subs.append(x)
        if ch_code == 8:  # left/side: L, S=L-R
            a, b = subs
            subs = [a, a - b]
        elif ch_code == 9:  # right/side: S=L-R, R
            a, b = subs
            subs = [a + b, b]
        elif ch_code == 10:  # mid/side
            a, b = subs
            m2 = (a << 1) | (b & 1)
            subs = [(m2 + b) >> 1, (m2 - b) >> 1]
        end = (bit + 7) >> 3  # the frame pads to a byte boundary
        if end + 2 > len(buf):
            raise ValueError("FLAC bitstream truncated")
        if _crc16(buf[frame_start:end]) != (buf[end] << 8) | buf[end + 1]:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = end + 2
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


# ---------------------------------------------------------------------------
# encoder (fixture twin): FIXED predictors + Rice residuals, fixed blocking


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        self.cur = (self.cur << nbits) | (v & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.cur >> self.n) & 0xFF)
        self.cur &= (1 << self.n) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def flush(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


def _utf8_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    bits_needed = n.bit_length()
    for nbytes in range(1, 7):
        if bits_needed <= 6 - nbytes + 6 * nbytes:
            lead = (0xFF << (7 - nbytes)) & 0xFF
            out = [lead | (n >> (6 * nbytes))]
            for i in range(nbytes - 1, -1, -1):
                out.append(0x80 | ((n >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError("frame number too large")


def _rice_cost(zig: np.ndarray, k: int) -> int:
    return int(np.sum(zig >> k)) + len(zig) * (k + 1)


def _best_rice_k(zig: np.ndarray) -> int:
    best_k, best_c = 0, _rice_cost(zig, 0)
    for k in range(1, 15):
        c = _rice_cost(zig, k)
        if c < best_c:
            best_k, best_c = k, c
    return best_k


def _write_rice_residual(wr: _BitWriter, resid: np.ndarray) -> None:
    zig = np.where(resid >= 0, resid << 1, (-resid << 1) - 1).astype(
        np.int64
    )
    k = _best_rice_k(zig)
    wr.write(0, 2)  # rice method (4-bit params)
    wr.write(0, 4)  # partition order 0
    wr.write(k, 4)
    for v in zig:
        v = int(v)
        wr.unary(v >> k)
        if k:
            wr.write(v & ((1 << k) - 1), k)


def _encode_channel(
    wr: _BitWriter, x: np.ndarray, bps: int, use_lpc: bool = False
) -> None:
    n = len(x)
    if n and np.all(x == x[0]):
        wr.write(0, 1)
        wr.write(0, 6)  # CONSTANT
        wr.write(0, 1)
        wr.write(int(x[0]), bps)
        return
    if use_lpc and n > 8:
        # order-2 LPC: solve the 2x2 normal equations on the block's
        # autocorrelation, quantize at precision 12 — exercises the
        # decoder's LPC subframe path with exact residual reconstruction
        xf = x.astype(np.float64)
        r0 = float(np.dot(xf, xf))
        r1 = float(np.dot(xf[1:], xf[:-1]))
        r2 = float(np.dot(xf[2:], xf[:-2]))
        det = r0 * r0 - r1 * r1
        if det > 1e-9 and r0 > 0:
            a1 = (r1 * r0 - r1 * r2) / det
            a2 = (r2 * r0 - r1 * r1) / det
            shift = 10
            q1 = int(np.clip(round(a1 * (1 << shift)), -2048, 2047))
            q2 = int(np.clip(round(a2 * (1 << shift)), -2048, 2047))
            xi = x.astype(np.int64)
            pred = (q1 * xi[1:-1] + q2 * xi[:-2]) >> shift
            resid = xi[2:] - pred
            wr.write(0, 1)
            wr.write(32 + (2 - 1), 6)  # LPC, order 2
            wr.write(0, 1)
            wr.write(int(xi[0]), bps)
            wr.write(int(xi[1]), bps)
            wr.write(12 - 1, 4)  # precision 12
            wr.write(shift, 5)  # non-negative shift
            wr.write(q1, 12)
            wr.write(q2, 12)
            _write_rice_residual(wr, resid)
            return
    # pick the cheapest fixed order 0..2 by residual magnitude sum
    # (np.diff applied `order` times IS the FIXED-order residual, with
    # warmup samples x[:order])
    best = None
    for order in range(0, 3):
        if n <= order:
            break
        r = x.astype(np.int64)
        for _ in range(order):
            r = np.diff(r)
        cost = int(np.sum(np.abs(r)))
        if best is None or cost < best[1]:
            best = (order, cost, r)
    order, _cost, resid = best
    wr.write(0, 1)
    wr.write(8 + order, 6)  # FIXED order
    wr.write(0, 1)  # no wasted bits
    for i in range(order):
        wr.write(int(x[i]), bps)
    _write_rice_residual(wr, resid)


def encode_flac(
    pcm: np.ndarray,
    sr_hz: int,
    block_size: int = 4096,
    stereo_mode: str = "independent",
    use_lpc: bool = False,
) -> bytes:
    """float32 [-1,1] (n,) mono or (n, 2) stereo → REAL native FLAC
    (16-bit, fixed blocking, FIXED-predictor + Rice frames — or order-2
    LPC with ``use_lpc=True`` — correct CRC-8/CRC-16).
    decode_flac(encode_flac(x)) is bit-exact on the quantized int16
    samples. ``stereo_mode``: 'independent', 'mid_side', 'left_side', or
    'right_side' — the decorrelated modes exercise a decoder's side
    channel (bps+1 bits) and reconstruction math."""
    if stereo_mode not in ("independent", "mid_side", "left_side",
                           "right_side"):
        raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
    x = np.asarray(pcm)
    if x.ndim == 1:
        x = x[:, None]
    if x.ndim != 2 or x.shape[1] not in (1, 2):
        raise ValueError("encode_flac expects (n,) mono or (n, 2) stereo")
    if stereo_mode != "independent" and x.shape[1] != 2:
        raise ValueError("decorrelated stereo modes need (n, 2) input")
    q = np.clip(np.rint(np.clip(x, -1, 1) * 32767.0), -32768, 32767).astype(
        np.int64
    )
    n, channels = q.shape
    if n == 0:
        raise ValueError("encode_flac needs at least one sample")
    out = bytearray(FLAC_MAGIC)
    packed = (sr_hz << 44) | ((channels - 1) << 41) | ((16 - 1) << 36) | n
    streaminfo = (
        struct.pack(">HH", block_size, block_size)
        + b"\x00\x00\x00" * 2
        + packed.to_bytes(8, "big")
        + b"\x00" * 16  # md5 0 = unknown (spec-allowed)
    )
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    for fno, b0 in enumerate(range(0, n, block_size)):
        blk = q[b0 : b0 + block_size]
        bs = len(blk)
        hdr = bytearray(b"\xff\xf8")  # sync + fixed blocking
        wr = _BitWriter()
        if bs == block_size and block_size in (256, 512, 1024, 2048, 4096,
                                               8192, 16384, 32768):
            bs_code = 8 + (block_size.bit_length() - 9)
            follow = b""
        elif bs <= 256:
            bs_code, follow = 6, bytes([bs - 1])
        else:
            bs_code, follow = 7, struct.pack(">H", bs - 1)
        wr.write(bs_code, 4)
        wr.write(0, 4)  # sample rate: from STREAMINFO
        if stereo_mode == "independent":
            ch_code = channels - 1
        else:
            ch_code = {"left_side": 8, "right_side": 9,
                       "mid_side": 10}[stereo_mode]
        wr.write(ch_code, 4)
        wr.write(4, 3)  # 16-bit
        wr.write(0, 1)
        wr.flush()
        hdr += bytes(wr.out)
        hdr += _utf8_number(fno)
        hdr += follow
        hdr.append(_crc8(bytes(hdr)))
        body = _BitWriter()
        if stereo_mode == "independent":
            for c in range(channels):
                _encode_channel(body, blk[:, c], 16, use_lpc)
        else:
            left = blk[:, 0]
            right = blk[:, 1]
            side = left - right  # 17-bit side channel
            if stereo_mode == "left_side":
                _encode_channel(body, left, 16, use_lpc)
                _encode_channel(body, side, 17, use_lpc)
            elif stereo_mode == "right_side":
                _encode_channel(body, side, 17, use_lpc)
                _encode_channel(body, right, 16, use_lpc)
            else:  # mid_side: mid = (L+R)>>1 (floor), side = L-R
                _encode_channel(body, (left + right) >> 1, 16, use_lpc)
                _encode_channel(body, side, 17, use_lpc)
        body.flush()
        frame = bytes(hdr) + bytes(body.out)
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)
