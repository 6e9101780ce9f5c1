"""Multimodal binary-column plumbing: image / video payloads.

Audio is this engine's first-class modality (functions/audio.py, fully real).
A training-data pipeline also carries image/video columns; this module
provides the Spark-side plumbing — typed metadata schema, Arrow-batched
``mapInPandas`` decode, batch-shape discipline — plus two REAL image codecs:

- ``decode_png`` is a from-scratch stdlib PNG reader (zlib inflate + full
  filter reconstruction; every legal depth 1/2/4/8/16 × gray/RGB/palette/
  alpha combination, non-interlaced and Adam7) — real PNGs produce real
  width/height/ink metrics end-to-end.
- JPEG decodes via :mod:`doc_quality_check_spark.functions.jpeg`
  (from-scratch Huffman + dequant + IDCT; baseline grayscale and YCbCr
  4:4:4/4:2:2/4:2:0, progressive SOF2, 12-bit SOF1, arithmetic SOF9 and
  SOF10 via the Annex D QM-coder in ``jpeg_arith``, LOSSLESS SOF3 with
  all seven Annex-H predictors, restart markers) — every DCT-based T.81
  mode plus Huffman lossless. Only arithmetic-lossless (SOF11) and
  hierarchical modes raise NotImplementedError → in-band error rows.
- VIDEO: YUV4MPEG2 (Y4M) streams decode for real (stdlib parser —
  ``decode_y4m``/``encode_y4m``), and so does COMPRESSED video via
  MJPEG-in-AVI (``decode_avi_mjpeg`` — RIFF container parse + the real
  JPEG codec, sampled frames only). Inter-frame codecs (H.264/VP9 in
  MP4/WebM) stay STUBBED behind an in-band stub error (they need a
  motion-compensation decoder no stdlib provides); swap ffmpeg into the
  frame decoder in production — the Spark plan (schema, partitioning,
  per-batch decode, bytes-column pruning) does not change.

Reference parity: payload decode + per-page metrics is exactly the shape of
/root/reference/utils/document_processor.py:92-207 (extract_page_data) —
in-band error rows (test_readability.py:262-271), empty-input default row
(document_processor.py:126-134).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


# Adam7 interlace pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def encode_png_gray(pixels: "np.ndarray", interlace: bool = False) -> bytes:
    """Minimal stdlib PNG writer for an (h, w) uint8 grayscale plane
    (color type 0, bit depth 8, filter 0 rows) — the deterministic fixture
    generator for :func:`decode_png`, the role
    :func:`doc_quality_check_spark.functions.jpeg.encode_jpeg_gray` plays
    for JPEG. ``interlace=True`` serializes the seven Adam7 passes (each
    its own filtered sub-image), exercising the decoder's interlaced
    path."""
    import struct as _struct
    import zlib as _zlib

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 2:
        raise ValueError("encode_png_gray expects an (h, w) array")
    h, w = px.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.size == 0:
                continue  # empty pass contributes NO bytes (PNG spec §8.2)
            parts.extend(b"\x00" + sub[y].tobytes() for y in range(sub.shape[0]))
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR",
                _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, int(interlace)))
        + chunk(b"IDAT", _zlib.compress(raw))
        + chunk(b"IEND", b"")
    )

# channels per pixel and legal bit depths per PNG color type (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}


def _png_pixels(
    img: "np.ndarray", w: int, channels: int, depth: int, scale_subbyte: bool
) -> "np.ndarray":
    """(h, stride) unfiltered scanline bytes → (h, w, channels) uint8
    samples. 16-bit reduces to the high byte (PNG is big-endian; the luma
    metrics are 8-bit). Sub-byte depths (1/2/4, single channel) unpack
    MSB-first; ``scale_subbyte`` expands gray values to the full 8-bit
    range (×255/(2^d−1), exact) while palette INDICES stay raw."""
    h = img.shape[0]
    if depth == 8:
        return img.reshape(h, w, channels)
    if depth == 16:
        return img.reshape(h, -1)[:, 0::2].reshape(h, w, channels)
    bits = np.unpackbits(img, axis=1)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    v = (
        (bits.reshape(h, -1, depth).astype(np.uint16) * weights)
        .sum(axis=2)[:, :w]
    )
    if scale_subbyte:
        v = v * (255 // ((1 << depth) - 1))
    return v.astype(np.uint8)[:, :, None]


def _png_unfilter(
    raw: bytes, off: int, height: int, stride: int, bpp: int
) -> tuple["np.ndarray", int]:
    """Reconstruct one filtered (sub-)image of ``height`` rows x ``stride``
    bytes starting at ``off`` (PNG spec §9). Returns (rows, next offset).
    None/Up are vectorized; Sub is a per-byte-lane cumsum mod 256;
    Average/Paeth are sequential by definition (left-neighbor dependency)
    and loop per byte — fine for a metrics pass."""
    if len(raw) - off < height * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    img = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        o = off + y * (stride + 1)
        ft = raw[o]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=o + 1
        ).astype(np.int32)
        if ft == 0:  # None
            rec = line
        elif ft == 1:  # Sub: rec[i] = line[i] + rec[i-bpp] → lane-wise cumsum
            rec = line.copy()
            for lane in range(bpp):
                rec[lane::bpp] = np.cumsum(rec[lane::bpp]) & 0xFF
        elif ft == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ft == 3:  # Average
            rec = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        img[y] = rec
        prev = rec
    return img, off + height * (stride + 1)


def decode_png(buf: bytes) -> tuple[int, int, np.ndarray]:
    """Minimal from-scratch PNG reader: bytes → (width, height, flattened
    8-bit grayscale). Stdlib only (zlib inflate) + numpy for filter
    reconstruction. Round 5: EVERY legal (bit depth, color type)
    combination decodes — depths 1/2/4/8/16 across color types 0/2/3/4/6
    (gray, RGB, palette, gray+alpha, RGBA), non-interlaced AND
    Adam7-interlaced (each of the seven passes unfilters as its own
    sub-image and scatters onto the output grid). 16-bit reduces to the
    high byte; sub-byte gray expands to the full 8-bit range. Color is
    collapsed to BT.601 luma for the ink metric; alpha is ignored.

    Filter reconstruction (PNG spec §9): None and Up are vectorized; Sub is
    a per-byte-lane cumsum mod 256; Average/Paeth are sequential by
    definition (left-neighbor dependency) and loop per byte — fine for a
    metrics pass, swap in a C decoder for pixel-hungry production use."""
    if buf[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, n = 8, len(buf)
    width = height = None
    bit_depth = color_type = interlace = None
    plte: np.ndarray | None = None
    idat = bytearray()
    while pos + 8 <= n:
        (clen,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + clen]
        if len(data) < clen:
            raise ValueError("truncated PNG chunk")
        pos += 12 + clen  # len + type + data + crc (crc not verified)
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    if color_type not in _PNG_CHANNELS or bit_depth not in _PNG_DEPTHS.get(
        color_type, ()
    ):
        # every LEGAL (depth, color type) combination decodes as of round 5
        # — anything else is a malformed header, not a missing feature
        raise ValueError(
            f"invalid PNG bit_depth={bit_depth} color_type={color_type}"
        )
    if color_type == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE chunk")

    import zlib

    raw = zlib.decompress(bytes(idat))
    channels = _PNG_CHANNELS[color_type]
    # the FILTER unit is one byte when a pixel packs below a byte (§9.2)
    fbpp = max(1, channels * bit_depth // 8)
    scale_sub = color_type == 0  # gray expands to 8-bit; indices stay raw

    def pass_stride(pw: int) -> int:
        return (pw * channels * bit_depth + 7) // 8

    if interlace == 0:
        stride = pass_stride(width)
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG pixel data length mismatch")
        img, _ = _png_unfilter(raw, 0, height, stride, fbpp)
        px = _png_pixels(img, width, channels, bit_depth, scale_sub)
    else:
        # Adam7: seven independently-filtered sub-images (filters reference
        # WITHIN-pass neighbors), each scattered onto its pass grid
        px = np.zeros((height, width, channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass carries no bytes
            sub, off = _png_unfilter(raw, off, ph, pass_stride(pw), fbpp)
            px[y0::dy, x0::dx] = _png_pixels(
                sub, pw, channels, bit_depth, scale_sub
            )
        if off != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if color_type == 0:
        gray = px[:, :, 0]
    elif color_type == 4:
        gray = px[:, :, 0]  # gray + alpha: alpha ignored
    elif color_type == 3:
        rgb = plte[px[:, :, 0]]
        gray = _luma(rgb)
    else:  # 2 (RGB) or 6 (RGBA)
        gray = _luma(px[:, :, :3])
    return int(width), int(height), gray.reshape(-1)


def _luma(rgb: np.ndarray) -> np.ndarray:
    """BT.601 luma, rounded to uint8."""
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    return np.clip(np.rint(0.299 * r + 0.587 * g + 0.114 * b), 0, 255).astype(
        np.uint8
    )


def _decode_one(buf: bytes) -> tuple[int, int, np.ndarray]:
    """bytes → (width, height, grayscale array). PNG (all legal depths,
    incl. Adam7) and JPEG (baseline, progressive, 12-bit, sequential +
    progressive arithmetic, lossless) are real from-scratch decoders;
    arithmetic-lossless/hierarchical JPEG raises NotImplementedError
    (in-band error row downstream)."""
    if buf is None or len(buf) == 0:
        return 0, 0, np.zeros(0, dtype=np.uint8)  # empty-input default row
    b = bytes(buf)
    if b[:8] == PNG_MAGIC:
        return decode_png(b)
    if b[:2] == b"\xff\xd8":
        from doc_quality_check_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(b)
    raise ValueError("unrecognized image container")


def image_metrics(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "bytes"
) -> DataFrame:
    """(media_id, decode_ok, width, height, ink_ratio, error) per image: a
    projection of :func:`with_image_metrics` over the id and payload
    columns, so the payload never leaves the scan stage (ink_ratio =
    fraction of pixels above the mean — the reference's clarity metric
    shape, checks/clarity_check.py:11-38)."""
    return with_image_metrics(df.select(id_col, payload_col), payload_col).select(
        F.col(id_col).cast("string").alias("media_id"),
        *(F.col(f"img_{c}").alias(c)
          for c in ("decode_ok", "width", "height", "ink_ratio", "error")),
    )


# columns appended by with_image_metrics. suite/compiler.py's image row
# kinds read these, and suite/runner.py triggers the image decode pass when
# ANY check references one (generic in_range/expr checks included) — and
# skips those checks under payload=False, mirroring the audio
# DERIVED_METRIC_COLUMNS contract.
IMAGE_METRIC_COLUMNS = (
    "img_decode_ok",
    "img_width",
    "img_height",
    "img_ink_ratio",
    "img_luma_mean",
    "img_error",
)


def with_image_metrics(
    df: DataFrame, payload_col: str = "bytes"
) -> DataFrame:
    """Append ``img_decode_ok / img_width / img_height / img_ink_ratio /
    img_luma_mean / img_error`` to every row in ONE ``mapInPandas`` decode
    pass, dropping ``payload_col`` from the output — the image analog of
    :func:`doc_quality_check_spark.functions.audio.with_audio_metrics`
    (decode once, binary never shuffles). Decode failures are in-band
    (img_decode_ok=false + img_error), never job failures; luma is NULL
    (not NaN) when there are no pixels to measure, matching the engine's
    NULL error-row convention."""
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        in_fields
        + [
            StructField("img_decode_ok", BooleanType()),
            StructField("img_width", IntegerType()),
            StructField("img_height", IntegerType()),
            StructField("img_ink_ratio", DoubleType()),
            StructField("img_luma_mean", DoubleType()),
            StructField("img_error", StringType()),
        ]
    )
    keep = [f.name for f in in_fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, ws, hs, inks, lumas, errs = [], [], [], [], [], []
            for buf in pdf[payload_col]:
                try:
                    w, h, px = _decode_one(buf)
                    ink = float((px > px.mean()).mean()) if px.size else 0.0
                    luma = float(px.mean()) if px.size else None
                    ok, err = True, None
                except NotImplementedError as exc:
                    w = h = 0
                    ink, luma, ok, err = 0.0, None, False, f"stub: {exc}"
                except Exception as exc:  # in-band error row
                    w = h = 0
                    ink, luma, ok, err = 0.0, None, False, str(exc)
                oks.append(ok)
                ws.append(w)
                hs.append(h)
                inks.append(ink)
                lumas.append(luma)
                errs.append(err)
            out = pdf[keep].copy()
            out["img_decode_ok"] = oks
            out["img_width"] = ws
            out["img_height"] = hs
            out["img_ink_ratio"] = inks
            # nullable Float64: None must stay NULL through the Arrow cast
            out["img_luma_mean"] = pd.array(lumas, dtype="Float64")
            out["img_error"] = errs
            yield out

    return df.mapInPandas(gen, out_schema)


Y4M_MAGIC = b"YUV4MPEG2"


def encode_y4m(
    frames: list, fps: tuple[int, int] = (25, 1)
) -> bytes:
    """Minimal YUV4MPEG2 writer: a list of (h, w) uint8 luma planes →
    4:2:0 Y4M bytes with flat chroma (the video twin of the PNG/JPEG
    fixture encoders). Y4M is the standard uncompressed interchange format
    (mjpegtools/ffmpeg); a real stdlib parser for it gives the video path a
    genuinely decodable container without any codec library."""
    if not frames:
        raise ValueError("encode_y4m needs at least one frame")
    h, w = np.asarray(frames[0]).shape
    if h % 2 or w % 2:
        raise ValueError("Y4M 4:2:0 needs even frame dimensions")
    head = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420jpeg\n"
    out = bytearray(head.encode("ascii"))
    chroma = np.full((h // 2) * (w // 2), 128, dtype=np.uint8).tobytes()
    for f in frames:
        p = np.asarray(f, dtype=np.uint8)
        if p.shape != (h, w):
            raise ValueError("all Y4M frames must share one size")
        out += b"FRAME\n" + p.tobytes() + chroma + chroma
    return bytes(out)


def _y4m_header(buf: bytes):
    """Parse the stream header → (w, h, fn, fd, bits, ysize, csize,
    data_start). Shared by the full decoder and the bounded samplers."""
    if buf[:9] != Y4M_MAGIC:
        raise ValueError("not a YUV4MPEG2 payload")
    nl = buf.find(b"\n")
    if nl < 0:
        raise ValueError("Y4M missing header terminator")
    w = h = None
    fn, fd = 25, 1
    chroma = "420jpeg"
    for tok in buf[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            fn, fd = (int(x) for x in val.split(":"))
        elif tag == "C":
            chroma = val
    if not w or not h:
        raise ValueError("Y4M missing W/H")
    # high-bit-depth tags (C420p10 etc.) carry 2-byte little-endian samples
    # (ffmpeg/mjpegtools convention); luma reduces to 8 bits for metrics
    bits = 8
    base = chroma
    for suffix, b in (("p10", 10), ("p12", 12), ("p14", 14), ("p16", 16)):
        if chroma.endswith(suffix):
            bits, base = b, chroma[: -len(suffix)]
            break
    bpsample = 1 if bits == 8 else 2
    if base in ("420", "420jpeg", "420mpeg2", "420paldv"):
        csize = (h // 2) * (w // 2) * 2 * bpsample
    elif base == "422":
        csize = h * (w // 2) * 2 * bpsample
    elif base == "444":
        csize = h * w * 2 * bpsample
    elif base == "mono":
        csize = 0
    else:
        raise NotImplementedError(f"Y4M chroma mode C{chroma} not supported")
    return w, h, fn, fd, bits, h * w * bpsample, csize, nl + 1


def _y4m_frame_offsets(buf: bytes):
    """Walk the FRAME markers → (header fields, [luma-plane offsets]).
    O(n_frames) pointer arithmetic, zero plane copies."""
    w, h, fn, fd, bits, ysize, csize, pos = _y4m_header(buf)
    offsets = []
    n = len(buf)
    while pos < n:
        fnl = buf.find(b"\n", pos)
        if fnl < 0 or buf[pos : pos + 5] != b"FRAME":
            raise ValueError("Y4M frame marker sync lost")
        pos = fnl + 1
        if pos + ysize + csize > n:
            raise ValueError("truncated Y4M frame")
        offsets.append(pos)
        pos += ysize + csize
    if not offsets:
        raise ValueError("Y4M stream has no frames")
    return w, h, fn, fd, bits, ysize, offsets


def _y4m_plane(buf, offset, w, h, bits) -> np.ndarray:
    if bits == 8:
        return np.frombuffer(
            buf, dtype=np.uint8, count=h * w, offset=offset
        ).reshape(h, w).copy()
    return (
        np.frombuffer(buf, dtype="<u2", count=h * w, offset=offset)
        .reshape(h, w)
        >> (bits - 8)
    ).astype(np.uint8)


def decode_y4m(buf: bytes):
    """Parse a YUV4MPEG2 stream → (width, height, fps_num, fps_den,
    [luma planes]). Stdlib-only; supports the C420*/C422/C444/Cmono chroma
    modes (chroma is skipped — the engine's metrics are luma-only).
    Unknown chroma tags raise NotImplementedError → in-band error rows.
    Materializes EVERY frame; samplers go through :func:`_open_video`
    for bounded cost."""
    w, h, fn, fd, bits, _ysize, offsets = _y4m_frame_offsets(buf)
    frames = [_y4m_plane(buf, off, w, h, bits) for off in offsets]
    return w, h, fn, fd, frames


# ---------------------------------------------------------------------------
# compressed video: Motion-JPEG in an AVI (RIFF) container
#
# MJPEG-AVI is the classic compressed interchange format every camera /
# capture tool can emit (Microsoft RIFF AVI spec + one JPEG per '00dc'
# chunk). Because functions/jpeg.py is a real from-scratch JPEG codec, the
# engine can decode this COMPRESSED container with zero codec libraries —
# and, unlike Y4M, the container is indexed: frame sampling decodes ONLY
# the sampled chunks, so cost scales with samples, not stream length.
# Inter-frame codecs (H.264/VP9 in MP4/WebM) remain declared stubs: they
# need a motion-compensation decoder no stdlib provides.

AVI_MAGIC = b"RIFF"


def _riff_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, payload_start, payload_size) over a RIFF chunk run.
    Chunks are word-aligned: a chunk with odd size carries one pad byte."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)


def encode_avi_mjpeg(
    frames: list, fps: tuple[int, int] = (25, 1), quality: int = 90
) -> bytes:
    """Minimal AVI/MJPEG writer: (h, w) uint8 luma planes → a RIFF AVI
    whose '00dc' chunks are real baseline JPEGs (grayscale, via
    :func:`jpeg.encode_jpeg_gray`). The compressed-video twin of
    :func:`encode_y4m`; deterministic, so usable as a test fixture."""
    from doc_quality_check_spark.functions.jpeg import encode_jpeg_gray

    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    h, w = np.asarray(frames[0]).shape
    fn, fd = fps
    jpegs = []
    for f in frames:
        p = np.asarray(f, dtype=np.uint8)
        if p.shape != (h, w):
            raise ValueError("all AVI frames must share one size")
        jpegs.append(encode_jpeg_gray(p, quality=quality))

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(listtype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", listtype + payload)

    usec_per_frame = int(round(1_000_000 * fd / fn))
    avih = struct.pack(
        "<IIIIIIIIII4I",
        usec_per_frame, 0, 0, 0x10,  # AVIF_HASINDEX
        len(frames), 0, 1, max(map(len, jpegs)), w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIiI4h", 0, 0, 0, 0, fd, fn, 0,
                      len(frames), max(map(len, jpegs)), -1, 0,
                      0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh)
                                   + chunk(b"strf", strf)),
    )
    movi_payload = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = lst(b"movi", movi_payload)
    # idx1 offsets are relative to the first byte of the 'movi' fourcc
    idx = bytearray()
    off = 4
    for j in jpegs:
        idx += b"00dc" + struct.pack("<III", 0x10, off, len(j))
        off += 8 + len(j) + (len(j) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(buf: bytes):
    """Parse an AVI container → (width, height, fps_num, fps_den,
    [per-frame JPEG bytes]). Container-only pass: the returned chunks
    decode lazily via :func:`jpeg.decode_jpeg`, so a caller sampling k of
    n frames pays k JPEG decodes. Non-MJPEG video streams raise
    NotImplementedError → in-band error rows downstream."""
    if buf[:4] != AVI_MAGIC or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    n = min(len(buf), 8 + struct.unpack_from("<I", buf, 4)[0])
    w = h = None
    fn, fd = 25, 1
    handler = None
    stream_idx = 0  # which strl list carries the video stream
    frames: list[bytes] = []

    def scan_movi(pos, end, want):
        # frames may sit directly in 'movi' or be grouped inside the
        # AVI-spec LIST 'rec ' interleave chunks — recurse one level
        for cc, s, sz in _riff_chunks(buf, pos, end):
            if cc == b"LIST" and buf[s : s + 4] == b"rec ":
                scan_movi(s + 4, s + sz, want)
            elif cc[:2] == want and cc[2:] in (b"dc", b"db"):
                frames.append(buf[s : s + sz])

    for fourcc, start, size in _riff_chunks(buf, 12, n):
        if start + size > n:
            raise ValueError("truncated AVI chunk")
        if fourcc != b"LIST":
            continue
        listtype = buf[start : start + 4]
        if listtype == b"hdrl":
            strl_idx = -1
            for cc, s, sz in _riff_chunks(buf, start + 4, start + size):
                if cc == b"avih" and sz >= 40:
                    _, _, _, _, _, _, _, _, w, h = struct.unpack_from(
                        "<10I", buf, s
                    )
                elif cc == b"LIST" and buf[s : s + 4] == b"strl":
                    strl_idx += 1
                    for c2, s2, sz2 in _riff_chunks(buf, s + 4, s + sz):
                        if c2 == b"strh" and sz2 >= 36:
                            if buf[s2 : s2 + 4] != b"vids":
                                continue
                            if handler is None:
                                handler = buf[s2 + 4 : s2 + 8]
                                stream_idx = strl_idx
                                scale, rate = struct.unpack_from(
                                    "<II", buf, s2 + 20
                                )
                                if scale and rate:
                                    fn, fd = rate, scale
        elif listtype == b"movi":
            # chunk ids carry the 2-digit stream number ('00dc', '01wb',
            # ...) — collect ONLY the video stream's frames
            scan_movi(start + 4, start + size, b"%02d" % stream_idx)
    if handler not in (b"MJPG", b"mjpg", b"dmb1"):
        raise NotImplementedError(
            f"AVI video codec {handler!r} not supported (only MJPG; "
            "inter-frame codecs need a motion-compensation decoder)"
        )
    if not w or not h:
        raise ValueError("AVI missing frame dimensions")
    if not frames:
        raise ValueError("AVI has no video frames")
    return int(w), int(h), fn, fd, frames


def _open_video(b: bytes):
    """Y4M or MJPEG-AVI bytes → (width, height, fps_num, fps_den, n_frames,
    frame_luma), where ``frame_luma(i)`` decodes frame i alone and returns
    its mean luma, so a caller pays only for the frames it picks; None for
    any other container. Malformed containers raise (ValueError, or
    NotImplementedError for an unsupported codec)."""
    if b[:9] == Y4M_MAGIC:
        w, h, fn, fd, bits, _ysize, offsets = _y4m_frame_offsets(b)
        return w, h, fn, fd, len(offsets), lambda i: float(
            _y4m_plane(b, offsets[i], w, h, bits).mean())
    if b[:4] == AVI_MAGIC and b[8:12] == b"AVI ":
        from doc_quality_check_spark.functions.jpeg import decode_jpeg

        w, h, fn, fd, chunks = decode_avi_mjpeg(b)
        return w, h, fn, fd, len(chunks), lambda i: float(
            np.asarray(decode_jpeg(chunks[i])[2]).mean())
    return None


# columns appended by with_video_metrics. suite/compiler.py's video row
# kinds read these; suite/runner.py triggers the video decode pass when any
# check references one — the video twin of IMAGE_METRIC_COLUMNS.
VIDEO_METRIC_COLUMNS = (
    "vid_decode_ok",
    "vid_width",
    "vid_height",
    "vid_n_frames",
    "vid_fps",
    "vid_luma_mean",
    "vid_error",
)


def with_video_metrics(
    df: DataFrame, payload_col: str = "bytes"
) -> DataFrame:
    """Append ``vid_decode_ok / vid_width / vid_height / vid_n_frames /
    vid_fps / vid_luma_mean / vid_error`` in ONE ``mapInPandas`` pass,
    dropping ``payload_col`` — the video twin of
    :func:`with_image_metrics`. Decode cost is BOUNDED per row: container
    metadata plus at most three sampled frames (first/middle/last) for the
    luma mean — for the indexed MJPEG-AVI container that is exactly three
    JPEG decodes regardless of stream length. Y4M and MJPEG-AVI decode
    for real; inter-frame codecs and corrupt containers become in-band
    error rows (stub:/plain errors), never job failures."""
    in_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = StructType(
        in_fields
        + [
            StructField("vid_decode_ok", BooleanType()),
            StructField("vid_width", IntegerType()),
            StructField("vid_height", IntegerType()),
            StructField("vid_n_frames", IntegerType()),
            StructField("vid_fps", DoubleType()),
            StructField("vid_luma_mean", DoubleType()),
            StructField("vid_error", StringType()),
        ]
    )
    keep = [f.name for f in in_fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            oks, ws, hs, nfs, fpss, lumas, errs = [], [], [], [], [], [], []
            for buf in pdf[payload_col]:
                b = bytes(buf) if buf is not None else b""
                ok, w, h, nf, fps, luma, err = (
                    False, 0, 0, 0, None, None, None,
                )
                try:
                    opened = _open_video(b)
                    if opened is not None:
                        w, h, fn, fd, nf, frame_luma = opened
                        fps = fn / fd
                        luma = float(np.mean([
                            frame_luma(i) for i in sorted({0, nf // 2, nf - 1})
                        ]))
                        ok = True
                    elif not b:
                        err = "empty video payload"
                    else:
                        raise NotImplementedError(
                            "unrecognized video container (only Y4M and "
                            "MJPEG-AVI decode without codec libraries)"
                        )
                except NotImplementedError as exc:
                    w = h = nf = 0
                    fps = luma = None
                    ok, err = False, f"stub: {exc}"
                except Exception as exc:  # in-band error row
                    w = h = nf = 0
                    fps = luma = None
                    ok, err = False, str(exc)
                oks.append(ok)
                ws.append(w)
                hs.append(h)
                nfs.append(nf)
                fpss.append(fps)
                lumas.append(luma)
                errs.append(err)
            out = pdf[keep].copy()
            out["vid_decode_ok"] = oks
            out["vid_width"] = ws
            out["vid_height"] = hs
            out["vid_n_frames"] = nfs
            # nullable dtypes: None must stay NULL through the Arrow cast
            out["vid_fps"] = pd.array(fpss, dtype="Float64")
            out["vid_luma_mean"] = pd.array(lumas, dtype="Float64")
            out["vid_error"] = errs
            yield out

    return df.mapInPandas(gen, out_schema)


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("t_ms", DoubleType()),
        StructField("decode_ok", BooleanType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("luma_mean", DoubleType()),
        StructField("error", StringType()),
    ]
)


def video_frame_sample(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "bytes",
    fps_meta_col: str = "fps",
    dur_ms_col: str = "dur_ms",
    every_ms: int = 1000,
) -> DataFrame:
    """Frame sampling over a video-bytes column, one row per sampled
    timestamp. YUV4MPEG2 and COMPRESSED MJPEG-AVI payloads decode FOR
    REAL through :func:`_open_video`, which decodes only the sampled
    frames (a 1-fps sample over a 30-fps AVI pays 1/30th of the JPEG
    decode): the sampled frame's luma stats and real dimensions come back,
    timestamps derive from the stream's own fps, and a corrupt stream is
    an in-band error row. Inter-frame containers (MP4/H.264 etc.) remain
    stubbed — rows carry decode_ok=false + a stub error from the declared
    metadata fan-out, but the shape, schema, and batch discipline are the
    production ones (swap ffmpeg into :func:`_open_video`)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in VIDEO_FRAME_SCHEMA.fields}

            def emit(mid, idx, t, ok, w, h, luma, err):
                out["media_id"].append(mid)
                out["frame_idx"].append(idx)
                out["t_ms"].append(t)
                out["decode_ok"].append(ok)
                out["width"].append(w)
                out["height"].append(h)
                out["luma_mean"].append(luma)
                out["error"].append(err)

            for mid, buf, dur in zip(
                pdf[id_col], pdf[payload_col], pdf[dur_ms_col]
            ):
                b = bytes(buf) if buf is not None else b""
                try:
                    opened = _open_video(b)
                    if opened is not None:
                        w, h, fn, fd, nf, frame_luma = opened
                        frame_ms = 1000.0 * fd / fn
                        n = max(1, int(nf * frame_ms) // every_ms)
                        for i in range(n):
                            t = float(i * every_ms)
                            fi = min(int(t / frame_ms), nf - 1)
                            emit(mid, fi, t, True, w, h, frame_luma(fi), None)
                        continue
                except NotImplementedError as exc:
                    emit(mid, 0, 0.0, False, None, None, None, f"stub: {exc}")
                    continue
                except Exception as exc:  # in-band error row
                    emit(mid, 0, 0.0, False, None, None, None, str(exc))
                    continue
                n = max(1, int(dur) // every_ms) if dur and dur > 0 else 1
                for i in range(n):
                    emit(mid, i, float(i * every_ms), False, None, None,
                         None,
                         "stub: inter-frame video codecs (H.264/VP9) need "
                         "a motion-compensation decoder; only Y4M and "
                         "MJPEG-AVI decode in this environment")
            o = pd.DataFrame(out)
            # nullable dtypes keep None as NULL through the Arrow cast
            o["width"] = pd.array(out["width"], dtype="Int32")
            o["height"] = pd.array(out["height"], dtype="Int32")
            o["luma_mean"] = pd.array(out["luma_mean"], dtype="Float64")
            yield o

    return df.select(id_col, payload_col, dur_ms_col).mapInPandas(
        gen, VIDEO_FRAME_SCHEMA
    )
