"""Real PNG decode (VERDICT r2 #6): the stdlib reader in functions/media.py
must reconstruct exact pixels for every PNG filter type and the 8-bit color
types, end-to-end through the image_metrics mapInPandas path.

The encoder below is test-only: it writes spec-valid PNGs (real CRCs, one
IDAT) with a CHOSEN per-row filter so each reconstruction branch is
exercised against known pixels.
"""

import struct
import zlib

import numpy as np
import pytest

from doc_quality_check_spark.functions.media import (
    decode_png,
    image_metrics,
)

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _filter_row(raw, prev, bpp, ft):
    """Apply PNG filter ft to one reconstructed row (int arrays)."""
    out = np.empty_like(raw)
    for i in range(raw.size):
        a = raw[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ft == 0:
            pred = 0
        elif ft == 1:
            pred = a
        elif ft == 2:
            pred = b
        elif ft == 3:
            pred = (a + b) >> 1
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[i] = (raw[i] - pred) & 0xFF
    return out


def _filtered_scanlines(sub: np.ndarray, ch: int, filters) -> bytearray:
    """Filter one (sub-)image's rows with the given per-row filter cycle."""
    h = sub.shape[0]
    scan = bytearray()
    prev = np.zeros(sub.shape[1], dtype=np.int32)
    for y in range(h):
        ft = filters[y % len(filters)]
        scan.append(ft)
        scan.extend(_filter_row(sub[y], prev, ch, ft).astype(np.uint8).tobytes())
        prev = sub[y]
    return scan


# Adam7 pass grid (mirrors media._ADAM7)
_A7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
       (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _pack_rows(subpx: np.ndarray, depth: int) -> np.ndarray:
    """(h, w, ch) samples → (h, stride) packed scanline BYTES at depth
    (16-bit big-endian; sub-byte MSB-first bit packing)."""
    sh, sw, ch = subpx.shape
    if depth == 8:
        return subpx.reshape(sh, sw * ch).astype(np.uint8)
    if depth == 16:
        u16 = subpx.reshape(sh, sw * ch).astype(">u2")
        return np.frombuffer(u16.tobytes(), np.uint8).reshape(sh, sw * ch * 2)
    assert ch == 1
    bits = (
        (subpx.reshape(sh, sw, 1).astype(np.uint8)[:, :, 0:1]
         >> np.arange(depth - 1, -1, -1)) & 1
    ).reshape(sh, sw * depth)
    return np.packbits(bits, axis=1)  # pads the row tail with zero bits


def encode_png(pixels: np.ndarray, color_type: int, filters=None,
               palette: np.ndarray | None = None,
               interlace: bool = False, depth: int = 8) -> bytes:
    """pixels: (h, w, channels) samples (or (h, w) for single-channel).
    ``interlace=True`` writes the seven Adam7 passes, each independently
    filtered (filters reference within-pass neighbors only). ``depth``
    supports 1/2/4/8/16 per the spec's legal combinations."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    assert ch == _CHANNELS[color_type]
    filters = filters if filters is not None else [0] * h
    fbpp = max(1, ch * depth // 8)  # filter unit (spec §9.2)
    scan = bytearray()
    passes = (
        [pixels[y0::dy, x0::dx] for x0, y0, dx, dy in _A7]
        if interlace else [pixels]
    )
    for subpx in passes:
        if subpx.size == 0:
            continue
        scan += _filtered_scanlines(
            _pack_rows(subpx, depth).astype(np.int32), fbpp, filters
        )
    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _chunk(b"IHDR", struct.pack(
        ">IIBBBBB", w, h, depth, color_type, 0, 0, int(interlace)))
    if palette is not None:
        out += _chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += _chunk(b"IDAT", zlib.compress(bytes(scan)))
    out += _chunk(b"IEND", b"")
    return bytes(out)


def _rng(seed):
    return np.random.default_rng(seed)


def test_decode_gray_all_filters():
    px = _rng(0).integers(0, 256, size=(16, 13), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        buf = encode_png(px, color_type=0, filters=filters)
        w, h, gray = decode_png(buf)
        assert (w, h) == (13, 16)
        np.testing.assert_array_equal(gray.reshape(16, 13), px)


def test_decode_rgb_rgba_luma():
    rgb = _rng(1).integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    w, h, gray = decode_png(encode_png(rgb, 2, filters=[4, 1, 3]))
    lum = np.clip(np.rint(0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
                          + 0.114 * rgb[..., 2]), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(gray.reshape(9, 7), lum)
    # RGBA: alpha ignored, same luma
    rgba = np.concatenate([rgb, _rng(2).integers(0, 256, (9, 7, 1), np.uint8)],
                          axis=2)
    _, _, gray4 = decode_png(encode_png(rgba, 6, filters=[2, 4]))
    np.testing.assert_array_equal(gray4, gray)


def test_decode_palette_and_gray_alpha():
    pal = _rng(3).integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = _rng(4).integers(0, 16, size=(6, 8), dtype=np.uint8)
    w, h, gray = decode_png(encode_png(idx, 3, filters=[1, 0], palette=pal))
    rgb = pal[idx]
    lum = np.clip(np.rint(0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
                          + 0.114 * rgb[..., 2]), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(gray.reshape(6, 8), lum)
    # gray+alpha: gray channel wins
    g = _rng(5).integers(0, 256, size=(5, 5), dtype=np.uint8)
    ga = np.stack([g, np.full((5, 5), 7, np.uint8)], axis=2)
    _, _, out = decode_png(encode_png(ga, 4, filters=[3]))
    np.testing.assert_array_equal(out.reshape(5, 5), g)


def test_unsupported_and_corrupt_pngs():
    px = np.zeros((4, 4), dtype=np.uint8)
    good = encode_png(px, 0)
    # an 8-bit stream RELABELED 16-bit has half the required bytes: clear
    # length-mismatch error (16-bit itself now decodes — see depth tests)
    deep = bytearray(good)
    ihdr_off = 8 + 8  # sig + len/type
    deep[ihdr_off + 8] = 16
    # recompute nothing — decoder ignores CRC
    with pytest.raises(ValueError):
        decode_png(bytes(deep))
    # an ILLEGAL depth/color combination (3-bit) is a malformed header
    bad_depth = bytearray(good)
    bad_depth[ihdr_off + 8] = 3
    with pytest.raises(ValueError):
        decode_png(bytes(bad_depth))
    # an invalid interlace method is a clear error
    inter = bytearray(good)
    inter[ihdr_off + 12] = 2
    with pytest.raises(ValueError):
        decode_png(bytes(inter))
    # a non-interlaced stream RELABELED Adam7 has the wrong byte layout
    relabel = bytearray(encode_png(np.arange(81, dtype=np.uint8).reshape(9, 9), 0))
    relabel[ihdr_off + 12] = 1
    with pytest.raises(Exception):
        decode_png(bytes(relabel))
    # truncated IDAT → ValueError/zlib error
    with pytest.raises(Exception):
        decode_png(good[:-20])


def test_decode_adam7_interlaced():
    """Adam7 PNGs (round-4 verdict 'missing' #3): every pass unfilters as
    its own sub-image — exact pixels across color types, filter mixes, and
    shapes where late passes dominate or early passes are empty."""
    rng = _rng(21)
    for (h, w) in ((1, 1), (2, 3), (5, 5), (8, 8), (9, 17), (16, 16), (33, 41)):
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        for filters in ([0], [4, 1, 3], [2, 3, 4, 1, 0]):
            buf = encode_png(px, 0, filters=filters, interlace=True)
            ww, hh, gray = decode_png(buf)
            assert (ww, hh) == (w, h)
            assert np.array_equal(gray.reshape(h, w), px), (h, w, filters)
    # color types through the interlaced path collapse to the same luma
    rgb = rng.integers(0, 256, size=(11, 13, 3), dtype=np.uint8)
    flat = decode_png(encode_png(rgb, 2, filters=[4, 2]))[2]
    laced = decode_png(encode_png(rgb, 2, filters=[3, 1], interlace=True))[2]
    assert np.array_equal(flat, laced)
    # the library fixture writer emits decodable Adam7 too
    from doc_quality_check_spark.functions.media import encode_png_gray

    img = rng.integers(0, 256, size=(10, 7), dtype=np.uint8)
    w2, h2, out = decode_png(encode_png_gray(img, interlace=True))
    assert (w2, h2) == (7, 10) and np.array_equal(out.reshape(10, 7), img)


def test_image_metrics_end_to_end_real_png(spark):
    """Real PNGs through the Spark mapInPandas path: correct dims + the same
    ink_ratio as a local computation; a truncated JPEG fails IN-BAND with a
    real decoder error (JPEG is a real codec since round 4 —
    tests/test_media_jpeg.py covers the happy path)."""
    px_a = _rng(6).integers(0, 256, size=(12, 10), dtype=np.uint8)
    rgb_b = _rng(7).integers(0, 256, size=(8, 9, 3), dtype=np.uint8)
    rows = [
        ("png_gray", bytearray(encode_png(px_a, 0, filters=[0, 1, 2, 3, 4]))),
        ("png_rgb", bytearray(encode_png(rgb_b, 2, filters=[4]))),
        ("jpeg", bytearray(b"\xff\xd8\xff\xe0rest")),
    ]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    got = {r["media_id"]: r for r in image_metrics(df).collect()}
    assert got["png_gray"]["decode_ok"] and (
        got["png_gray"]["width"], got["png_gray"]["height"]) == (10, 12)
    exp_ink = float((px_a > px_a.mean()).mean())
    assert abs(got["png_gray"]["ink_ratio"] - exp_ink) < 1e-9
    assert got["png_rgb"]["decode_ok"] and (
        got["png_rgb"]["width"], got["png_rgb"]["height"]) == (9, 8)
    assert not got["jpeg"]["decode_ok"] and got["jpeg"]["error"]
    assert "stub" not in got["jpeg"]["error"]  # real decoder, real error


def test_decode_all_bit_depths():
    """Round 5: every legal (depth, color type) combination decodes —
    sub-byte gray expands to the full 8-bit range, 16-bit reduces to the
    high byte, palette indices pack/unpack at any legal index depth."""
    rng = _rng(31)
    # sub-byte grayscale: exact scaled values, odd widths (partial bytes)
    for depth in (1, 2, 4):
        mx = (1 << depth) - 1
        for (h, w) in ((1, 1), (3, 7), (5, 13), (8, 8)):
            vals = rng.integers(0, mx + 1, size=(h, w), dtype=np.uint8)
            got = decode_png(encode_png(vals, 0, depth=depth))
            assert got[:2] == (w, h)
            assert np.array_equal(
                got[2].reshape(h, w), vals * (255 // mx)
            ), (depth, h, w)
    # 16-bit gray + RGB: high byte survives, luma matches the 8-bit twin
    g16 = rng.integers(0, 65536, size=(6, 9), dtype=np.uint16)
    w_, h_, out = decode_png(encode_png(g16, 0, depth=16))
    assert (w_, h_) == (9, 6)
    assert np.array_equal(out.reshape(6, 9), (g16 >> 8).astype(np.uint8))
    rgb8 = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    rgb16 = rgb8.astype(np.uint16) << 8
    assert np.array_equal(
        decode_png(encode_png(rgb16, 2, depth=16))[2],
        decode_png(encode_png(rgb8, 2))[2],
    )
    # sub-byte palette: indices look up PLTE unscaled
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(4, 11), dtype=np.uint8)
    w2, h2, gray = decode_png(encode_png(idx, 3, depth=4, palette=pal))
    assert (w2, h2) == (11, 4)
    lum = np.clip(np.rint(
        0.299 * pal[idx][..., 0].astype(float)
        + 0.587 * pal[idx][..., 1].astype(float)
        + 0.114 * pal[idx][..., 2].astype(float)
    ), 0, 255).astype(np.uint8)
    assert np.array_equal(gray.reshape(4, 11), lum)
    # depths compose with filters and Adam7 interlace
    bw = rng.integers(0, 2, size=(13, 17), dtype=np.uint8)
    plain = decode_png(encode_png(bw, 0, depth=1, filters=[0, 2]))[2]
    laced = decode_png(
        encode_png(bw, 0, depth=1, filters=[2, 0], interlace=True)
    )[2]
    assert np.array_equal(plain, laced)
    assert np.array_equal(plain.reshape(13, 17), bw * 255)
    g16b = rng.integers(0, 65536, size=(9, 10), dtype=np.uint16)
    assert np.array_equal(
        decode_png(encode_png(g16b, 0, depth=16, filters=[1, 3, 4],
                              interlace=True))[2].reshape(9, 10),
        (g16b >> 8).astype(np.uint8),
    )
