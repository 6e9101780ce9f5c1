"""Declarative suite checks over media payloads (round-4 additions):

- ``payload_neardup`` (table-level): bounds the audio near-duplicate rate
  via spectral fingerprints + LSH + connected components; violations list
  every non-kept cluster member (operators/audio_dedup.py wired into
  suite/spec.py + suite/runner.py).
- ``payload_image_decode`` / ``image_luma_range`` (row-level): validate an
  image-bytes column through ONE with_image_metrics decode pass
  (functions/media.py).
- ``payload_video_decode`` / ``video_frame_rate`` / ``video_luma_range``
  (row-level, round 5): validate a video-bytes column through ONE bounded
  with_video_metrics pass (container metadata + <=3 sampled frames; Y4M
  and MJPEG-AVI decode for real).
"""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.functions.audio import (
    encode_wav_pcm16,
    synth_speechlike_pcm,
)
from doc_quality_check_spark.functions.media import encode_png_gray
from doc_quality_check_spark.suite.runner import GLOBAL_PART, SuiteRunner
from doc_quality_check_spark.suite.spec import Check, CheckSuite

SR = 8000


def _pcm(seed, noise=0.0, gain=1.0):
    x = synth_speechlike_pcm(seed, SR, 500).astype(np.float64) * gain
    if noise:
        nrng = np.random.default_rng(10_000 + seed)
        x = x + noise * nrng.standard_normal(x.size)
    return np.clip(x, -1, 1).astype(np.float32)


@pytest.fixture(scope="module")
def neardup_clips(spark):
    # 3 content groups x 3 takes (clean / re-leveled / noised) + 1 unique
    # clip + 1 corrupt payload: 6 redundant copies among 11 rows
    rows = []
    for g, seed in enumerate([11, 22, 33]):
        for take, (noise, gain) in enumerate(
            [(0.0, 1.0), (0.0, 0.5), (0.003, 1.0)]
        ):
            rows.append(
                (f"g{g}_t{take}",
                 bytearray(encode_wav_pcm16(_pcm(seed, noise, gain), SR)),
                 "pcm_s16le", "x")
            )
    rows.append(
        # seed 44 verified >10 Hamming bits from every group fingerprint
        # (seed 99 sat at exactly 7 from group 2 — a threshold-boundary flake)
        ("unique", bytearray(encode_wav_pcm16(_pcm(44), SR)), "pcm_s16le", "x")
    )
    rows.append(("corrupt", bytearray(b"XXnotawav"), "pcm_s16le", "x"))
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, transcript string"
    )


def test_payload_neardup_check(neardup_clips):
    suite = CheckSuite(
        name="neardup_suite",
        checks=[
            Check("id_present", "not_null", "clip_id"),
            Check("dup_rate_tight", "payload_neardup", "bytes",
                  {"max_dup_rate": 0.1, "max_hamming": 7}),
            Check("dup_rate_loose", "payload_neardup", "bytes",
                  {"max_dup_rate": 0.9, "max_hamming": 7}),
        ],
    )
    res = SuiteRunner(suite).run(neardup_clips, payload=True)
    verdicts = {r["constraint_id"]: r for r in res.verdicts.collect()}

    tight = verdicts["dup_rate_tight"]
    assert tight["part_key"] == GLOBAL_PART
    assert not tight["passed"]
    assert tight["n_violations"] == 6  # 2 redundant takes x 3 groups
    assert abs(tight["metric_value"] - 6 / 11) < 1e-9

    loose = verdicts["dup_rate_loose"]
    assert loose["passed"]  # same rate, advisory-loose bound

    viols = {
        r["clip_id"]
        for r in res.violations.filter(
            F.col("constraint_id") == "dup_rate_tight"
        ).collect()
    }
    # keep-first: min id per content cluster survives; the rest violate
    assert viols == {f"g{g}_t{t}" for g in range(3) for t in (1, 2)}
    res.unpersist()


def test_payload_neardup_skipped_without_payload(neardup_clips):
    suite = CheckSuite(
        name="neardup_meta_only",
        checks=[
            Check("id_present", "not_null", "clip_id"),
            Check("dup_rate", "payload_neardup", "bytes",
                  {"max_dup_rate": 0.0}),
        ],
    )
    res = SuiteRunner(suite).run(neardup_clips, payload=False)
    cids = {r["constraint_id"] for r in res.verdicts.collect()}
    assert cids == {"id_present"}  # metadata-only: no decode, no fingerprint
    res.unpersist()


def _flat_image(value: int, w: int = 8, h: int = 8) -> bytearray:
    return bytearray(encode_png_gray(np.full((h, w), value, dtype=np.uint8)))


@pytest.fixture(scope="module")
def media_table(spark):
    import zlib

    # one hand-built PNG (4x2 gray gradient), one seeded-noise PNG, one all-white,
    # one all-black, one corrupt container
    w, h = 4, 2
    raw = b"".join(
        b"\x00" + bytes(range(64 + y * 64, 64 + y * 64 + w)) for y in range(h)
    )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    rows = [
        ("png_ok", bytearray(png)),
        ("noise_mid", bytearray(encode_png_gray(
            np.random.default_rng(7).integers(0, 256, size=(8, 8),
                                              dtype=np.uint8)))),
        ("too_bright", _flat_image(255)),
        ("too_dark", _flat_image(0)),
        ("corrupt", bytearray(b"JUNKJUNKJUNK")),
    ]
    return spark.createDataFrame(rows, "clip_id string, bytes binary")


def _chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib as _z

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
    )


def test_image_checks_pass_and_violate(media_table):
    suite = CheckSuite(
        name="image_suite",
        checks=[
            Check("img_decodes", "payload_image_decode", "bytes", priority=1),
            Check("img_luma_sane", "image_luma_range", "bytes",
                  {"min": 10.0, "max": 245.0}, priority=2),
        ],
    )
    res = SuiteRunner(suite).run(media_table, payload=True)
    checked = {r["clip_id"]: r for r in res.checked.collect()}

    assert "bytes" not in res.checked.columns  # binary never leaves the scan
    assert checked["png_ok"]["img_width"] == 4
    assert checked["png_ok"]["img_height"] == 2
    assert checked["png_ok"]["passed__img_decodes"]
    assert checked["corrupt"]["img_error"] is not None

    viols = {
        (r["clip_id"], r["constraint_id"]) for r in res.violations.collect()
    }
    assert viols == {
        ("corrupt", "img_decodes"),
        ("too_bright", "img_luma_sane"),
        ("too_dark", "img_luma_sane"),
    }
    # gating: the undecodable row fails decode ONLY (single-sourced reasons)
    assert checked["corrupt"]["passed__img_luma_sane"]
    assert checked["corrupt"]["reason"] == "img_decodes"
    assert checked["too_bright"]["reason"] == "img_luma_sane"

    verdicts = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert verdicts["img_decodes"]["n_violations"] == 1
    assert verdicts["img_luma_sane"]["n_violations"] == 2
    res.unpersist()


def test_image_checks_skipped_without_payload(media_table):
    suite = CheckSuite(
        name="image_meta_only",
        checks=[
            Check("id_present", "not_null", "clip_id"),
            Check("img_decodes", "payload_image_decode", "bytes"),
            Check("img_luma_sane", "image_luma_range", "bytes",
                  {"min": 10.0, "max": 245.0}),
        ],
    )
    res = SuiteRunner(suite).run(media_table, payload=False)
    cids = {r["constraint_id"] for r in res.verdicts.collect()}
    assert cids == {"id_present"}
    res.unpersist()


def test_media_suite_json_roundtrip():
    suite = CheckSuite(
        name="rt",
        checks=[
            Check("a", "payload_neardup", "bytes", {"max_dup_rate": 0.05}),
            Check("b", "payload_image_decode", "img"),
            Check("c", "image_luma_range", "img", {"min": 5, "max": 250}),
        ],
    )
    rt = CheckSuite.from_json(suite.to_json())
    assert [c.kind for c in rt.checks] == [
        "payload_neardup", "payload_image_decode", "image_luma_range",
    ]
    assert rt.checks[0].params["max_dup_rate"] == 0.05


def test_generic_checks_reference_image_metrics(spark, media_table):
    """A generic check referencing an img_* metric column triggers the
    image decode pass by itself (no image row kind needed), and is skipped
    under payload=False — the image analog of the audio derived-metric
    contract."""
    suite = CheckSuite(
        name="img_generic",
        checks=[
            Check("id_present", "not_null", "clip_id", priority=1),
            Check("luma_bound", "in_range", "img_luma_mean",
                  {"min": 10.0, "max": 245.0}, priority=2),
            Check("wide_enough", "expr", None,
                  {"expr": "img_width >= 4 OR NOT img_decode_ok"},
                  priority=3),
        ],
    )
    res = SuiteRunner(suite).run(media_table, payload=True)
    checked = {r["clip_id"]: r for r in res.checked.collect()}
    assert "img_luma_mean" in res.checked.columns  # decode pass ran
    assert "bytes" not in res.checked.columns
    viols = {(r["clip_id"], r["constraint_id"])
             for r in res.violations.collect()}
    assert ("too_bright", "luma_bound") in viols
    assert ("too_dark", "luma_bound") in viols
    # NULL metric (undecodable row) passes generic range checks as usual
    assert checked["corrupt"]["passed__luma_bound"]
    res.unpersist()

    meta = SuiteRunner(suite).run(media_table, payload=False)
    cids = {r["constraint_id"] for r in meta.verdicts.collect()}
    assert cids == {"id_present"}  # both img-referencing checks skipped
    meta.unpersist()


def test_multimodal_example(spark, tmp_path):
    """examples/multimodal_validation.py: audio + image + video columns
    validated by ONE declarative suite; the near-dup audio take and the
    too-dark JPEG violate, the Y4M frames decode for real."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples"))
    from multimodal_validation import run_multimodal

    res, frames = run_multimodal(spark, str(tmp_path / "mm"))
    verdicts = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert verdicts["audio_decodes"]["passed"]
    assert not verdicts["audio_dup_rate"]["passed"]  # m1 near-dups m0
    assert verdicts["audio_dup_rate"]["n_violations"] == 1
    assert verdicts["img_decodes"]["passed"]
    assert not verdicts["img_luma"]["passed"]  # the too-dark JPEG
    # round 5: the video column (Y4M + compressed MJPEG-AVI) validates
    # declaratively and everything is in bounds
    assert verdicts["vid_decodes"]["passed"]
    assert verdicts["vid_fps"]["passed"]
    assert verdicts["vid_luma"]["passed"]
    viols = {(r["clip_id"], r["constraint_id"])
             for r in res.violations.collect()}
    assert ("m1", "audio_dup_rate") in viols
    assert ("m2", "img_luma") in viols
    f = frames.collect()
    assert all(r["decode_ok"] for r in f)
    assert {r["media_id"] for r in f} == {"m0", "m1", "m2"}
    res.unpersist()


@pytest.fixture(scope="module")
def video_table(spark):
    """Round-5 video check-kind fixtures: good MJPEG-AVI + Y4M, an
    all-dark stream, an over-cranked frame rate, an inter-frame codec
    stub, and a corrupt container."""
    from doc_quality_check_spark.functions.media import (
        encode_avi_mjpeg,
        encode_y4m,
    )

    def frames(v, n=4, h=16, w=24):
        return [np.full((h, w), v, dtype=np.uint8) for _ in range(n)]

    avi_ok = encode_avi_mjpeg(frames(120), fps=(10, 1))
    y4m_ok = encode_y4m(frames(80), fps=(25, 1))
    dark = encode_y4m(frames(2), fps=(25, 1))
    cranked = encode_avi_mjpeg(frames(120), fps=(240, 1))
    fake264 = bytearray(encode_avi_mjpeg(frames(120, n=1)))
    i = bytes(fake264).index(b"MJPG")
    fake264[i : i + 4] = b"H264"
    rows = [
        ("avi_ok", bytearray(avi_ok)),
        ("y4m_ok", bytearray(y4m_ok)),
        ("dark", bytearray(dark)),
        ("cranked", bytearray(cranked)),
        ("h264", bytes(fake264)),
        ("corrupt", bytearray(avi_ok[:50])),
    ]
    return spark.createDataFrame(rows, "clip_id string, bytes binary")


def test_video_checks_pass_and_violate(video_table):
    suite = CheckSuite(
        name="video_suite",
        checks=[
            Check("vid_decodes", "payload_video_decode", "bytes",
                  priority=1),
            Check("vid_fps_sane", "video_frame_rate", "bytes",
                  {"min": 1.0, "max": 60.0}, priority=2),
            Check("vid_luma_sane", "video_luma_range", "bytes",
                  {"min": 10.0, "max": 245.0}, priority=3),
        ],
    )
    res = SuiteRunner(suite).run(video_table, payload=True)
    checked = {r["clip_id"]: r for r in res.checked.collect()}

    assert "bytes" not in res.checked.columns  # binary never leaves the scan
    assert checked["avi_ok"]["vid_width"] == 24
    assert checked["avi_ok"]["vid_height"] == 16
    assert checked["avi_ok"]["vid_n_frames"] == 4
    assert abs(checked["avi_ok"]["vid_fps"] - 10.0) < 1e-9
    assert abs(checked["avi_ok"]["vid_luma_mean"] - 120.0) <= 1.0
    assert checked["y4m_ok"]["vid_luma_mean"] == 80.0  # Y4M is lossless
    assert checked["h264"]["vid_error"].startswith("stub:")
    assert checked["corrupt"]["vid_error"] is not None

    viols = {
        (r["clip_id"], r["constraint_id"]) for r in res.violations.collect()
    }
    assert viols == {
        ("h264", "vid_decodes"),
        ("corrupt", "vid_decodes"),
        ("cranked", "vid_fps_sane"),
        ("dark", "vid_luma_sane"),
    }
    # gating: undecodable rows fail decode ONLY (single-sourced reasons)
    assert checked["h264"]["passed__vid_fps_sane"]
    assert checked["h264"]["reason"] == "vid_decodes"
    assert checked["cranked"]["reason"] == "vid_fps_sane"
    assert checked["dark"]["reason"] == "vid_luma_sane"

    verdicts = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert verdicts["vid_decodes"]["n_violations"] == 2
    assert verdicts["vid_fps_sane"]["n_violations"] == 1
    assert verdicts["vid_luma_sane"]["n_violations"] == 1
    res.unpersist()


def test_video_checks_skipped_without_payload(video_table):
    suite = CheckSuite(
        name="video_meta_only",
        checks=[
            Check("id_present", "not_null", "clip_id"),
            Check("vid_decodes", "payload_video_decode", "bytes"),
            Check("vid_fps_sane", "video_frame_rate", "bytes",
                  {"min": 1.0, "max": 60.0}),
        ],
    )
    res = SuiteRunner(suite).run(video_table, payload=False)
    cids = {r["constraint_id"] for r in res.verdicts.collect()}
    assert cids == {"id_present"}
    res.unpersist()


def test_generic_checks_reference_video_metrics(spark, video_table):
    """Generic in_range/expr checks on vid_* columns trigger the video
    decode pass exactly like img_*/audio metric references do."""
    suite = CheckSuite(
        name="video_generic",
        checks=[
            Check("enough_frames", "in_range", "vid_n_frames",
                  {"min": 2, "max": 1000}),
            Check("hd_or_smaller", "expr", None,
                  {"expr": "vid_width <= 1920 AND vid_height <= 1080"}),
        ],
    )
    res = SuiteRunner(suite).run(video_table, payload=True)
    viols = {
        (r["clip_id"], r["constraint_id"]) for r in res.violations.collect()
    }
    # undecodable rows have vid_n_frames=0 -> in_range fails (NULL-free
    # int column, no decode gate for generic checks, same as audio);
    # h264 single-frame stub also fails the floor
    assert ("avi_ok", "enough_frames") not in viols
    assert ("y4m_ok", "enough_frames") not in viols
    assert ("corrupt", "enough_frames") in viols
    assert not any(c == "hd_or_smaller" for _, c in viols
                   if _ in ("avi_ok", "y4m_ok"))
    res.unpersist()


@pytest.mark.parametrize(
    "checks, message",
    [
        (
            [Check("a", "payload_image_decode", "img"),
             Check("b", "image_luma_range", "img2", {"min": 0, "max": 255})],
            r"^image checks must share one payload column, "
            r"got \['img', 'img2'\]$",
        ),
        (
            [Check("a", "payload_decode", "bytes", {"threshold": 15.0}),
             Check("b", "payload_image_decode", "bytes")],
            r"^image checks reference missing payload column 'bytes' "
            r"\(consumed by the audio decode; each modality needs its own "
            r"payload column\)$",
        ),
        (
            [Check("a", "payload_image_decode", "bytes"),
             Check("b", "payload_video_decode", "bytes")],
            r"^video checks reference missing payload column 'bytes' "
            r"\(consumed by the image decode; each modality needs its own "
            r"payload column\)$",
        ),
    ],
    ids=["two_image_columns", "image_after_audio", "video_after_image"],
)
def test_payload_column_errors_are_uniform(media_table, checks, message):
    """Every missing or consumed payload column fails the same way, before
    any decode runs."""
    table = media_table.withColumn("codec", F.lit("pcm_s16le"))
    with pytest.raises(ValueError, match=message):
        SuiteRunner(CheckSuite(name="bad", checks=checks)).run(table)


def test_media_table_checks_resume_redecode(spark, media_table, video_table):
    """On resume, table checks on img_*/vid_* columns re-run the image and
    video decode over the FULL input: their global verdicts equal the full
    run's."""
    img = {r["clip_id"]: r["bytes"] for r in media_table.collect()}
    vid = [r["bytes"] for r in video_table.collect()]
    rows = [(cid, f"p{i % 2}", b, vid[i % len(vid)])
            for i, (cid, b) in enumerate(sorted(img.items()))]
    table = spark.createDataFrame(
        rows, "clip_id string, part_key string, img binary, video binary")
    suite = CheckSuite(
        name="media_resume", partition_by=["part_key"],
        checks=[
            Check("img_decodes", "payload_image_decode", "img"),
            Check("vid_decodes", "payload_video_decode", "video"),
            Check("img_p50", "quantile_range", "img_luma_mean",
                  {"q": 0.5, "min": 0.0, "max": 255.0}),
            Check("fps_p50", "quantile_range", "vid_fps",
                  {"q": 0.5, "min": 1.0, "max": 60.0}),
        ],
    )

    def global_rows(res):
        out = sorted(tuple(r) for r in res.verdicts.collect()
                     if r["part_key"] == GLOBAL_PART)
        res.unpersist()
        return out

    full = global_rows(SuiteRunner(suite).run(table))
    resumed = global_rows(
        SuiteRunner(suite).run(table, completed_partitions=["p0"]))
    assert [r[1] for r in full] == ["fps_p50", "img_p50"]
    assert resumed == full


def test_audio_codec_matrix_through_suite(spark):
    """Round 5: the declarative payload checks hold across the WHOLE audio
    codec matrix — PCM16, mu-law, A-law, float32, IMA ADPCM, native
    FLAC — with per-codec partition verdicts: decode validity, header-sr
    consistency, and decoded-duration consistency all pass for healthy
    clips; a corrupt payload and a lying header fail the right checks."""
    from doc_quality_check_spark.functions.audio import synth_clip_bytes

    codecs = ["pcm_s16le", "mulaw", "alaw", "pcm_f32le", "adpcm_ima_wav",
              "flac_native"]
    rows = []
    for i, c in enumerate(codecs):
        rows.append((f"ok_{c}", bytearray(synth_clip_bytes(i, 8000, 400, c)),
                     8000, 400, c, "x", c))
    rows.append(("bad_header",
                 bytearray(synth_clip_bytes(99, 8000, 400, "mulaw",
                                            header_sr_override=16000)),
                 8000, 400, "mulaw", "x", "bad"))
    rows.append(("corrupt",
                 bytearray(synth_clip_bytes(98, 8000, 400, "alaw",
                                            corrupt=True)),
                 8000, 400, "alaw", "x", "bad"))
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, part_key string",
    )
    suite = CheckSuite(
        name="codec_matrix",
        partition_by=["part_key"],
        checks=[
            Check("decodes", "payload_decode", "bytes",
                  {"threshold": 5.0}, priority=1),
            Check("sr_ok", "payload_sr_consistency", "bytes", priority=2),
            Check("dur_ok", "payload_dur_consistency", "bytes",
                  {"tolerance_ms": 50}, priority=3),
        ],
    )
    res = SuiteRunner(suite).run(df, payload=True)
    viols = {(r["clip_id"], r["constraint_id"])
             for r in res.violations.collect()}
    assert viols == {("bad_header", "sr_ok"), ("corrupt", "decodes")}
    verdicts = {(r["constraint_id"], r["part_key"]): r
                for r in res.verdicts.collect()
                if r["part_key"] != GLOBAL_PART}
    # every healthy codec partition fully green on all three checks
    for c in codecs:
        for cid in ("decodes", "sr_ok", "dur_ok"):
            assert verdicts[(cid, c)]["passed"], (cid, c)
    res.unpersist()
