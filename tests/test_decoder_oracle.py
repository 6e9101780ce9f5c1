"""The vectorized native-FLAC and IMA ADPCM decoders against the scalar
oracle (tests/scalar_decoders.py): on every stream both return the same
sample rate and the same float32 samples, or both raise ValueError.

Streams come from the fixture encoder and from a test-side bit writer that
reaches what the encoder never writes: VERBATIM subframes, escape partitions
(raw width 0 included), partition orders above 0, Rice2 parameters, wasted
bits, FIXED orders 3-4 and LPC up to order 12. Clips stay at or under 0.3 s
at 8 kHz, since the oracle decodes only about ten times faster than real
time."""

import hashlib
import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

import scalar_decoders as oracle
from doc_quality_check_spark.functions import flac
from doc_quality_check_spark.functions.audio import (
    _decode_ima_adpcm,
    decode_payload,
    encode_wav_ima_adpcm,
    synth_clip_bytes,
    synth_pcm,
)


def _outcome(decode, buf, rejects=(ValueError,)):
    try:
        sr, pcm = decode(buf)
    except rejects:
        return None
    return sr, pcm.dtype, pcm.tobytes()


def _assert_same(buf, must_decode=False):
    # The scalar LPC recursion stores Python-int predictions into an int64
    # array, so a hostile LPC subframe can make it raise NumPy's
    # OverflowError; the vectorized decoder raises ValueError there.
    want = _outcome(oracle.decode_flac, buf, (ValueError, OverflowError))
    assert want is not None or not must_decode, "oracle rejected the stream"
    assert _outcome(flac.decode_flac, buf) == want


# ---------------------------------------------------------------------------
# streams from the fixture encoder


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(1, 2400),
    mode=st.sampled_from(["mono", "independent", "mid_side", "left_side",
                          "right_side"]),
    lpc=st.booleans(),
    block=st.sampled_from([192, 600, 4096]),
    content=st.sampled_from(["tones", "silent", "full_scale"]),
)
def test_encoder_streams_match_oracle(seed, n, mode, lpc, block, content):
    x = synth_pcm(seed, 8000, 300)[:n]
    if mode != "mono":
        x = np.stack([x, synth_pcm(seed + 1, 8000, 300)[:n]], axis=1)
    if content == "silent":
        x = np.zeros_like(x)
    elif content == "full_scale":  # +-1 square wave; stereo as L = -R
        x = np.where(x >= 0, 1.0, -1.0).astype(np.float32)
        if mode != "mono":
            x[:, 1] = -x[:, 0]
    buf = flac.encode_flac(
        x, 8000, block_size=block, use_lpc=lpc,
        stereo_mode="independent" if mode == "mono" else mode,
    )
    _assert_same(buf, must_decode=True)


# ---------------------------------------------------------------------------
# hand-built streams


class _BitWriter:
    """MSB-first bit writer over one Python int."""

    def __init__(self):
        self.acc = 0
        self.n = 0

    def write(self, v: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (int(v) & ((1 << nbits) - 1))
        self.n += nbits

    def unary(self, q: int) -> None:
        self.write(1, q + 1)  # q zeros, then the stop bit

    def tobytes(self) -> bytes:
        pad = -self.n % 8
        return (self.acc << pad).to_bytes((self.n + pad) // 8, "big")


def _zigzag(v: int) -> int:
    return 2 * v if v >= 0 else -2 * v - 1


def _write_residual(wr, resid, blocksize, order, porder, rice2, escapes, rng):
    """Partitioned Rice residual. A partition takes a parameter a little
    under its optimum (quotients stay small) or, with probability
    ``escapes``, the escape code and raw two's-complement samples (raw width
    0 for an all-zero partition)."""
    pbits = 5 if rice2 else 4
    escape = (1 << pbits) - 1
    wr.write(1 if rice2 else 0, 2)
    wr.write(porder, 4)
    lo = 0
    for p in range(1 << porder):
        hi = lo + (blocksize >> porder) - (order if p == 0 else 0)
        part = resid[lo:hi]
        lo = hi
        k = max([_zigzag(v).bit_length() for v in part] + [0])
        k = max(0, k - int(rng.integers(0, 4)))
        if rng.random() < escapes or k >= escape:
            raw = 0
            if any(part):
                raw = max(abs(v).bit_length() for v in part) + 1
                raw = min(31, raw + int(rng.integers(0, 2)))
            wr.write(escape, pbits)
            wr.write(raw, 5)
            for v in part:
                if raw:
                    wr.write(v, raw)
        else:
            wr.write(k, pbits)
            for v in part:
                z = _zigzag(v)
                wr.unary(z >> k)
                if k:
                    wr.write(z & ((1 << k) - 1), k)


def _signal(rng, n, width, kind):
    """n signed samples within ``width`` bits: a clipped random walk, a
    constant, or (``ramp``) a straight line, whose FIXED-2 residual is 0."""
    top = (1 << (width - 1)) - 1
    if kind == "constant":
        return [int(rng.integers(-top - 1, top + 1))] * n
    if kind == "ramp":
        most = (top // 2) // n
        start = int(rng.integers(-top // 2, top // 2 + 1))
        step = int(rng.integers(-most, most + 1))
        return [start + step * i for i in range(n)]
    amp = max(1, top >> int(rng.integers(0, 6)))
    walk = np.cumsum(rng.normal(0, amp / 8, n)) + rng.uniform(-amp, amp)
    return [int(v) for v in np.clip(np.rint(walk), -top - 1, top)]


def _lpc_coefs(rng, x, order):
    """Random LPC coefficients, shrunk until every residual fits in 29
    bits (the escape code's 31-bit raw width with room to spare)."""
    prec = int(rng.integers(4, 16))
    shift = int(rng.integers(0, 16))
    coefs = [int(c) for c in rng.integers(-(1 << (prec - 1)), 1 << (prec - 1),
                                          order)]
    while True:
        resid = [
            x[i] - (sum(c * x[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, len(x))
        ]
        if all(abs(v) < 1 << 29 for v in resid):
            return prec, shift, coefs, resid
        coefs = [int(c / 2) for c in coefs]


def _write_subframe(wr, x, width, kind, rng, wasted, rice2, escapes):
    """One subframe of ``kind`` carrying samples ``x`` (multiples of
    2**wasted) at ``width`` bits."""
    n = len(x)
    if kind in ("constant", "verbatim"):
        order = 0
    elif kind == "lpc":
        order = int(rng.integers(1, min(12, n) + 1))
    else:  # fixed0..fixed4
        order = min(int(kind[-1]), n)
    porders = [p for p in range(9)
               if n % (1 << p) == 0 and (n >> p) >= order]
    porder = int(rng.choice(porders))
    x = [v >> wasted for v in x]
    width -= wasted
    t = {"constant": 0, "verbatim": 1, "lpc": 31 + order}.get(kind, 8 + order)
    wr.write(0, 1)
    wr.write(t, 6)
    wr.write(1 if wasted else 0, 1)
    if wasted:
        wr.unary(wasted - 1)
    if kind == "constant":
        wr.write(x[0], width)
        return
    if kind == "verbatim":
        for v in x:
            wr.write(v, width)
        return
    for v in x[:order]:
        wr.write(v, width)
    if kind == "lpc":
        prec, shift, coefs, resid = _lpc_coefs(rng, x, order)
        wr.write(prec - 1, 4)
        wr.write(shift, 5)
        for c in coefs:
            wr.write(c, prec)
    else:
        resid = [int(v) for v in np.diff(np.array(x, dtype=np.int64), order)]
    _write_residual(wr, resid, n, order, porder, rice2, escapes, rng)


_BPS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6}


def _build_stream(seed, kinds, ch_code, bps, blocks, rice2=False,
                  escapes=0.0, wasted=False, signal="walk"):
    """A whole native-FLAC stream: STREAMINFO, then one frame per block
    size in ``blocks``, every subframe of a kind drawn from ``kinds``."""
    rng = np.random.default_rng(seed)
    channels = 1 if ch_code == 0 else 2
    total = 0 if rng.random() < 0.25 else sum(blocks)  # 0: length unknown
    packed = (8000 << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | total
    info = (struct.pack(">HH", 1, 65535) + bytes(6) + packed.to_bytes(8, "big")
            + bytes(16))
    out = bytearray(b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big")
                    + info)
    for fno, n in enumerate(blocks):
        if n == 192:
            bs_code, extra = 1, b""
        elif n >= 256 and n & (n - 1) == 0:
            bs_code, extra = 8 + (n.bit_length() - 9), b""
        elif n <= 256:
            bs_code, extra = 6, bytes([n - 1])
        else:
            bs_code, extra = 7, struct.pack(">H", n - 1)
        bps_code = _BPS_CODE[bps] if rng.random() < 0.5 else 0
        hdr = bytes([0xFF, 0xF8, bs_code << 4, (ch_code << 4) | (bps_code << 1),
                     fno]) + extra
        hdr += bytes([flac._crc8(hdr)])
        wr = _BitWriter()
        # side channels (the second of left/side and mid/side, the first of
        # right/side) carry one extra bit
        widths = [bps + (ch_code == 9 and c == 0) + (ch_code in (8, 10) and c == 1)
                  for c in range(channels)]
        for width in widths:
            kind = str(rng.choice(kinds))
            w = int(rng.integers(1, 4)) if wasted else 0
            x = [v << w for v in _signal(rng, n, width - w,
                                         "constant" if kind == "constant" else signal)]
            _write_subframe(wr, x, width, kind, rng, w, rice2, escapes)
        frame = hdr + wr.tobytes()
        out += frame + struct.pack(">H", oracle._crc16(frame))
    return bytes(out)


# Each feature the fixture encoder never writes, in one stream apiece.
_FEATURES = {
    "verbatim": dict(kinds=["verbatim"]),
    "constant": dict(kinds=["constant"]),
    "fixed3_fixed4": dict(kinds=["fixed3", "fixed4"]),
    "fixed_orders": dict(kinds=["fixed0", "fixed1", "fixed2"]),
    "lpc": dict(kinds=["lpc"]),
    "partition_orders": dict(kinds=["fixed2", "lpc"], blocks=[256, 192, 64]),
    "rice2": dict(kinds=["fixed1", "lpc"], rice2=True),
    "escape": dict(kinds=["fixed2", "lpc"], escapes=1.0),
    "escape_raw0": dict(kinds=["fixed2"], escapes=1.0, signal="ramp"),
    "wasted_bits": dict(kinds=["verbatim", "fixed2", "lpc", "constant"],
                        wasted=True),
}


@pytest.mark.parametrize("ch_code", [0, 1, 8, 9, 10])
@pytest.mark.parametrize("feature", sorted(_FEATURES))
def test_built_stream_features_match_oracle(feature, ch_code):
    opts = dict(_FEATURES[feature])
    blocks = opts.pop("blocks", [576, 37, 1])
    for bps in (8, 16, 24):
        seed = 1000 * sorted(_FEATURES).index(feature) + 100 * ch_code + bps
        buf = _build_stream(seed, ch_code=ch_code, bps=bps, blocks=blocks,
                            **opts)
        _assert_same(buf, must_decode=True)


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    kinds=st.lists(st.sampled_from(["constant", "verbatim", "fixed0", "fixed1",
                                    "fixed2", "fixed3", "fixed4", "lpc"]),
                   min_size=1, max_size=3),
    ch_code=st.sampled_from([0, 1, 8, 9, 10]),
    bps=st.sampled_from([8, 12, 16, 20, 24]),
    blocks=st.lists(st.sampled_from([1, 16, 37, 64, 192, 256, 600]),
                    min_size=1, max_size=3),
    rice2=st.booleans(),
    escapes=st.sampled_from([0.0, 0.3]),
    wasted=st.booleans(),
)
def test_built_streams_match_oracle(seed, kinds, ch_code, bps, blocks, rice2,
                                    escapes, wasted):
    buf = _build_stream(seed, kinds, ch_code, bps, blocks, rice2=rice2,
                        escapes=escapes, wasted=wasted)
    _assert_same(buf, must_decode=True)


def test_built_streams_fuzz_match_oracle():
    """Mutated and truncated hand-built streams (LPC, partitions, escapes,
    wasted bits, stereo) end the same way in both decoders."""
    base = _build_stream(5, ["lpc", "fixed3", "verbatim"], 10, 16,
                         [192, 256, 37], rice2=True, escapes=0.3, wasted=True)
    rng = np.random.default_rng(7)
    for _ in range(150):
        buf = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            buf[int(rng.integers(4, len(buf)))] = int(rng.integers(0, 256))
        _assert_same(bytes(buf))
    for cut in range(0, len(base), 7):
        _assert_same(base[:cut])


# ---------------------------------------------------------------------------
# CRC-16


def test_crc16_matches_bytewise_oracle():
    rng = np.random.default_rng(16)
    for n in [0, 1, 255, 256, 257, 70_000] + [int(v) for v in
                                              rng.integers(0, 70_000, 6)]:
        data = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert flac._crc16(data) == oracle._crc16(data), n
    # 4 MB against the classic one-table bytewise CRC, itself checked above
    # through single bytes
    table = [oracle._crc16(bytes([v])) for v in range(256)]
    shape, nbytes = flac._CRC16_TABLE.shape, flac._CRC16_TABLE.nbytes
    data = rng.integers(0, 256, 4 << 20, dtype=np.uint8).tobytes()
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ table[(crc >> 8) ^ b]
    assert flac._crc16(data) == crc
    # the table has a fixed size: 256 spans x 256 byte values
    assert shape == flac._CRC16_TABLE.shape == (256, 256)
    assert nbytes == flac._CRC16_TABLE.nbytes == 256 * 256 * 2


# ---------------------------------------------------------------------------
# IMA ADPCM


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(0, 2400),
    block_align=st.sampled_from([5, 6, 7, 64, 255, 256, 300, 1024]),
    n_samples=st.one_of(st.none(), st.integers(0, 3000)),
)
def test_ima_adpcm_matches_oracle(seed, n, block_align, n_samples):
    """Random block bytes: any header predictor, step-index bytes up to 255
    (clamped to 88), any block_align, short tails, fact lengths."""
    data = np.random.default_rng(seed).integers(0, 256, n,
                                                dtype=np.uint8).tobytes()
    want = oracle._decode_ima_adpcm(data, block_align, n_samples)
    got = _decode_ima_adpcm(data, block_align, n_samples)
    assert got.dtype == want.dtype and np.array_equal(got, want)


def test_ima_adpcm_fuzz_matches_oracle():
    """Mutate-and-truncate gate for IMA ADPCM WAVs: odd tail blocks, header
    step indexes above 88 and block_align values that do not divide the
    data decode exactly as the oracle does; through decode_payload every
    mutated WAV ends in a decode or a ValueError."""
    wav = encode_wav_ima_adpcm(synth_pcm(11, 8000, 300), 8000)
    d0 = wav.index(b"data") + 8
    ba_at = wav.index(b"fmt ") + 8 + 12  # block_align field of fmt
    rng = np.random.default_rng(88)
    for _ in range(200):
        data = bytearray(wav[d0:])
        for _ in range(int(rng.integers(0, 4))):
            data[int(rng.integers(0, len(data)))] = int(rng.integers(0, 256))
        for b in range(0, len(data), 256):  # step-index bytes past 88
            if rng.random() < 0.3:
                data[b + 2] = int(rng.integers(89, 256))
        data = bytes(data[: int(rng.integers(0, len(data) + 1))])
        block_align = int(rng.choice([256, 5, 9, 100, 255, 257, 1000]))
        n_samples = None if rng.random() < 0.5 else int(rng.integers(0, 3000))
        want = oracle._decode_ima_adpcm(data, block_align, n_samples)
        got = _decode_ima_adpcm(data, block_align, n_samples)
        assert got.dtype == want.dtype and np.array_equal(got, want)

        buf = bytearray(wav)
        buf[ba_at : ba_at + 2] = struct.pack("<H", block_align)
        for _ in range(int(rng.integers(0, 4))):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        try:
            decode_payload(bytes(buf[: int(rng.integers(0, len(buf) + 1))]),
                           "adpcm_ima_wav")
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# fixture bytes


def test_synth_clip_bytes_unchanged():
    """The encoders now step through the shared CRC-16 and IMA tables; their
    output, and so every fixture and benchmark input, is byte-identical to
    the scalar-table encoders'."""
    h = hashlib.sha256()
    for codec in ("pcm_s16le", "pcm_u8", "pcm_s24le", "pcm_f32le", "mulaw",
                  "alaw", "adpcm_ima_wav", "flac", "flac_native"):
        for seed, sr, dur, silent, corrupt in ((3, 8000, 300, False, False),
                                               (4, 16000, 250, True, False),
                                               (5, 8000, 200, False, True)):
            h.update(synth_clip_bytes(seed, sr, dur, codec, silent=silent,
                                      corrupt=corrupt))
    assert h.hexdigest() == (
        "4d582a4df2ceeca5526e196bf23e3f6010118d1bdd4c943eadbf03d96f7ddf26"
    )
