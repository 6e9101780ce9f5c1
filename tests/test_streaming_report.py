"""Streaming incremental validation, report sinks, media stubs, escalation."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.functions.audio import with_escalated_confidence
from doc_quality_check_spark.functions.media import (
    encode_fake_image,
    image_metrics,
    video_frame_sample,
)
from doc_quality_check_spark.sources.clips import load_clips
from doc_quality_check_spark.streaming.incremental import stream_validate
from doc_quality_check_spark.suite.report import (
    export_json,
    render_html,
    render_txt,
    write_report,
)
from doc_quality_check_spark.suite.runner import SuiteRunner
from doc_quality_check_spark.suite.spec import Check, CheckSuite


def _meta_suite() -> CheckSuite:
    return CheckSuite(
        name="stream_meta",
        partition_by=["part_key"],
        checks=[
            Check("clip_id_not_null", "not_null", "clip_id", priority=1),
            Check("dur_range", "in_range", "dur_ms", {"min": 1, "max": 120000}, priority=2),
        ],
    )


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory, spark, clips_dir):
    base = tmp_path_factory.mktemp("stream")
    inp, out = str(base / "in"), str(base / "out")
    os.makedirs(inp)
    clips = load_clips(spark, clips_dir).drop("bytes").limit(400)
    # two separate input files → at least two micro-batch file units
    clips.filter(F.col("dur_ms") % 2 == 0).write.mode("overwrite").parquet(inp + "/a")
    clips.filter(F.col("dur_ms") % 2 == 1).write.mode("overwrite").parquet(inp + "/b")
    # flatten: move part files up (file source needs a flat glob)
    flat = str(base / "flat")
    os.makedirs(flat)
    for i, f in enumerate(glob.glob(inp + "/*/part-*.parquet")):
        shutil.copy(f, os.path.join(flat, f"clips_{i}.parquet"))
    return flat, out


def test_stream_validate_appends_results(spark, stream_dirs):
    flat, out = stream_dirs
    suite = _meta_suite()
    from doc_quality_check_spark.streaming.incremental import CLIPS_SCHEMA_DDL

    schema = ("clip_id string, sr_hz int, dur_ms int, codec string, "
              "transcript string, category string, part_key string")
    q = stream_validate(spark, suite, flat, out, schema_ddl=schema,
                        payload=False, max_files_per_trigger=1)
    q.awaitTermination(120)
    verdicts = spark.read.parquet(out + "/verdicts")
    assert verdicts.count() > 0
    assert verdicts.select("batch_id").distinct().count() >= 2
    # restart with same checkpoint: no new data → no growth
    n0 = verdicts.count()
    q2 = stream_validate(spark, suite, flat, out, schema_ddl=schema,
                         payload=False)
    q2.awaitTermination(60)
    assert spark.read.parquet(out + "/verdicts").count() == n0


def test_stream_drift_psi_per_window(spark, tmp_path_factory):
    """Streaming drift: the windowed histogram accumulates across
    micro-batches (latest-wins over update-mode rows), and the reader
    scores each event-time window's PSI against the static baseline —
    only the drifted window fails."""
    from doc_quality_check_spark.streaming.drift import (
        read_stream_drift,
        stream_histogram,
    )

    base = tmp_path_factory.mktemp("sdrift")
    inp, out = str(base / "in"), str(base / "out")
    os.makedirs(inp)

    def rows(srs, t0):
        return [(f"c{t0}_{i}", sr, f"2026-01-01 10:0{t0}:{10 + i % 40:02d}")
                for i, sr in enumerate(srs)]

    schema = "clip_id string, sr_hz int, ts_s string"
    # window A (10:00-10:05): 50/50 split of 8000/16000, HALF per file so
    # the second micro-batch UPDATES window A's buckets; window B
    # (10:05-10:10): all 99999 (drifted), second file only
    f1 = rows([8000] * 15 + [16000] * 15, 0)
    f2 = rows([8000] * 15 + [16000] * 15, 1) + rows([99999] * 40, 6)
    for name, data in (("a", f1), ("b", f2)):
        (spark.createDataFrame(data, schema)
         .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
         .coalesce(1).write.mode("overwrite").parquet(inp + "_" + name))
    for i, f in enumerate(sorted(glob.glob(inp + "_*/part-*.parquet"))):
        shutil.copy(f, os.path.join(inp, f"clips_{i}.parquet"))

    q = stream_histogram(
        spark, inp, out, "sr_hz",
        schema_ddl="clip_id string, sr_hz int, ts timestamp",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    baseline = spark.createDataFrame(
        [("8000", 10), ("16000", 10)], "bucket string, count long"
    )
    drift = {r["window_start"].strftime("%H:%M"): r
             for r in read_stream_drift(spark, out, baseline, max_psi=0.1).collect()}
    assert set(drift) == {"10:00", "10:05"}
    assert drift["10:00"]["psi"] < 1e-9 and drift["10:00"]["passed"] is True
    assert drift["10:05"]["psi"] > 0.1 and drift["10:05"]["passed"] is False
    # latest-wins: window A's final histogram saw BOTH files (30+30 rows)
    hist = spark.read.parquet(out + "/hist")
    assert hist.count() > hist.select("window_start", "bucket").distinct().count()

    # same sink scored with the categorical statistic (Cramér's V)
    chi = {r["window_start"].strftime("%H:%M"): r for r in read_stream_drift(
        spark, out, baseline, max_psi=0.1, statistic="chi2").collect()}
    assert chi["10:00"]["psi"] < 1e-6 and chi["10:00"]["passed"] is True
    assert chi["10:05"]["psi"] > 0.1 and chi["10:05"]["passed"] is False


def test_stream_drift_per_group_all_statistics(spark, tmp_path_factory):
    """Per-(window, group) streaming drift, batch parity: group_cols keys
    the stateful histogram AND the score by codec, and all four statistics
    (psi / ks / w1 / chi2) run over the same stored sink — only the
    (window, group) cell that drifted fails."""
    from doc_quality_check_spark.streaming.drift import (
        read_stream_drift,
        stream_histogram,
    )

    base = tmp_path_factory.mktemp("sgdrift")
    inp, out = str(base / "in"), str(base / "out")
    os.makedirs(inp)

    def rows(srs, codec, t0):
        return [
            (f"{codec}{t0}_{i}", sr, codec,
             f"2026-01-01 10:0{t0}:{10 + i % 40:02d}")
            for i, sr in enumerate(srs)
        ]

    schema = "clip_id string, sr_hz int, codec string, ts_s string"
    # window A (10:00): both codecs 50/50 8000/16000 (match baseline);
    # window B (10:05): opus stays on-baseline, flac shifts to all-16000 —
    # exactly ONE (window, group) cell drifts
    data = (
        rows([8000] * 10 + [16000] * 10, "opus", 0)
        + rows([8000] * 10 + [16000] * 10, "flac", 0)
        + rows([8000] * 10 + [16000] * 10, "opus", 6)
        + rows([16000] * 20, "flac", 6)
    )
    (spark.createDataFrame(data, schema)
     .withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
     .coalesce(1).write.mode("overwrite").parquet(inp + "_src"))
    for i, f in enumerate(sorted(glob.glob(inp + "_src/part-*.parquet"))):
        shutil.copy(f, os.path.join(inp, f"clips_{i}.parquet"))

    q = stream_histogram(
        spark, inp, out, "sr_hz",
        schema_ddl="clip_id string, sr_hz int, codec string, ts timestamp",
        group_cols=["codec"],
    )
    q.awaitTermination(120)

    # grouped baseline: the SAME 50/50 histogram per codec
    baseline = spark.createDataFrame(
        [(c, b, 10) for c in ("opus", "flac") for b in ("8000", "16000")],
        "codec string, bucket string, count long",
    )
    for stat, thresh in (("psi", 0.1), ("ks", 0.2), ("w1", 1000.0),
                         ("chi2", 0.2)):
        scored = {
            (r["window_start"].strftime("%H:%M"), r["codec"]): r
            for r in read_stream_drift(
                spark, out, baseline, max_psi=thresh,
                statistic=stat, group_cols=["codec"],
            ).collect()
        }
        assert set(scored) == {("10:00", "opus"), ("10:00", "flac"),
                               ("10:05", "opus"), ("10:05", "flac")}, stat
        for cell in (("10:00", "opus"), ("10:00", "flac"),
                     ("10:05", "opus")):
            assert scored[cell]["psi"] < thresh, (stat, cell)
            assert scored[cell]["passed"] is True, (stat, cell)
        drifted = scored[("10:05", "flac")]
        assert drifted["psi"] > thresh, stat
        assert drifted["passed"] is False, stat


@pytest.fixture(scope="module")
def run_result(spark, clips_dir):
    clips = load_clips(spark, clips_dir).limit(600)
    return SuiteRunner(_meta_suite()).run(clips, payload=False)


def test_report_renderers(run_result, tmp_path):
    txt = render_txt(run_result.verdicts, run_result.summary,
                     run_result.violations, "s1", 7)
    assert "VALIDATION REPORT" in txt and "clip_id_not_null" in txt
    html = render_html(run_result.verdicts, run_result.summary,
                       run_result.violations, "s1", 7)
    assert "<table" in html and "dur_range" in html
    js = export_json(run_result.verdicts, run_result.summary, "s1", 7)
    import json

    doc = json.loads(js)
    assert doc["run_id"] == 7 and doc["verdicts"]
    p = write_report(str(tmp_path), "txt", txt, 7, "20260101_000000")
    assert os.path.exists(p) and p.endswith("report_7_20260101_000000.txt")


def _jobs_in_group(sc, group: str, fn) -> list[int]:
    """Spark job ids started by ``fn()`` under job group ``group``."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_report_renderers_from_collected_rows_start_no_job(spark, run_result):
    """Collected verdict rows (a list), summary (a dict) and violation
    sample (a list) render without a Spark job, to the same text as the
    DataFrames they were collected from."""
    from doc_quality_check_spark.suite.report import (
        collect_results,
        collect_violation_sample,
    )

    res = run_result
    vs, sm = collect_results(res.verdicts, res.summary)
    vio = collect_violation_sample(res.violations)
    sc = spark.sparkContext
    got = {}

    def render_collected():
        got["txt"] = render_txt(vs, sm, vio, "s1", 7)
        got["html"] = render_html(vs, sm, vio, "s1", 7)
        got["json"] = export_json(vs, sm, "s1", 7)

    assert _jobs_in_group(sc, "report-collected", render_collected) == []
    # the probe sees jobs: the same renderer on DataFrames starts some
    assert _jobs_in_group(sc, "report-dataframes", lambda: render_txt(
        res.verdicts, res.summary, vio, "s1", 7))
    assert got["txt"] == render_txt(res.verdicts, res.summary, vio, "s1", 7)
    assert got["html"] == render_html(res.verdicts, res.summary, vio, "s1", 7)
    assert got["json"] == export_json(res.verdicts, res.summary, "s1", 7)


def test_report_violation_sample_is_stratified(spark, run_result):
    """The violation listing samples PER CONSTRAINT: a constraint with 3
    violations still shows up even when another has thousands (a bare
    limit() would return an arbitrary single-constraint slice at scale)."""
    rows = [(f"big{i}", "huge_constraint", "p00") for i in range(5000)]
    rows += [(f"rare{i}", "rare_constraint", "p01") for i in range(3)]
    vio = spark.createDataFrame(
        rows, "clip_id string, constraint_id string, part_key string"
    )
    txt = render_txt(run_result.verdicts, run_result.summary, vio, "s1", 8,
                     max_violations=100)
    assert "rare_constraint" in txt and "huge_constraint" in txt
    assert txt.count("rare_constraint") == 3
    # per-constraint cap: 100 // 2 constraints = 50 of the huge one
    assert txt.count("huge_constraint") == 50

    # breadth-first under pressure: 150 failing constraints, budget 100 ->
    # 100 DISTINCT constraints with one example each, never 100 of one
    many = spark.createDataFrame(
        [(f"c{i}_{j}", f"constraint_{i:03d}", "p00")
         for i in range(150) for j in range(5)],
        "clip_id string, constraint_id string, part_key string",
    )
    from doc_quality_check_spark.suite.report import collect_violation_sample
    sample = collect_violation_sample(many, max_violations=100)
    assert len(sample) == 100
    assert len({r["constraint_id"] for r in sample}) == 100
    # pass-through: an already-collected list costs no Spark job
    assert collect_violation_sample(sample, max_violations=10) == sample[:10]


def test_image_metrics_plumbing(spark):
    rows = [
        ("img_ok", encode_fake_image(1, 16, 8)),
        ("img_trunc", encode_fake_image(2, 64, 64)[:100]),
        ("img_png_bad", b"\x89PNG\r\n\x1a\nrest"),  # garbage chunk body
        ("img_jpeg", b"\xff\xd8\xff\xe0rest"),      # truncated JPEG
        ("img_empty", b""),
    ]
    df = spark.createDataFrame(rows, "media_id string, bytes binary")
    got = {r["media_id"]: r.asDict() for r in image_metrics(df).collect()}
    assert got["img_ok"]["decode_ok"] and got["img_ok"]["width"] == 16
    assert 0.0 <= got["img_ok"]["ink_ratio"] <= 1.0
    assert not got["img_trunc"]["decode_ok"] and "truncated" in got["img_trunc"]["error"]
    # PNG is decoded for real now (test_media_png.py): a corrupt body is an
    # in-band decode error, not a stub
    assert not got["img_png_bad"]["decode_ok"]
    assert not got["img_png_bad"]["error"].startswith("stub:")
    # JPEG is decoded for real now too (test_media_jpeg.py): same in-band
    # error convention
    assert not got["img_jpeg"]["decode_ok"]
    assert not got["img_jpeg"]["error"].startswith("stub:")
    assert got["img_empty"]["decode_ok"] and got["img_empty"]["width"] == 0


def test_video_frame_sample_fanout(spark):
    """Compressed/opaque payloads keep the metadata-driven stub fan-out;
    YUV4MPEG2 payloads decode for real: frame indices/timestamps from the
    stream's own fps, per-frame luma stats, corrupt stream = in-band error."""
    import numpy as np

    from doc_quality_check_spark.functions.media import encode_y4m

    frames = [np.full((16, 24), v, dtype=np.uint8)
              for v in (10, 60, 110, 160, 210)]
    y4m = encode_y4m(frames, fps=(2, 1))  # 2 fps -> 2500 ms of video
    df = spark.createDataFrame(
        [("v1", b"xx", 3500), ("v2", b"yy", 0),
         ("v3", y4m, 0),                     # dur_ms meta ignored for Y4M
         ("v4", y4m[:40], 0)],               # truncated stream
        "media_id string, bytes binary, dur_ms int",
    )
    rows = video_frame_sample(df, every_ms=1000).collect()
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], []).append(r)
    assert len(per["v1"]) == 3
    assert len(per["v2"]) == 1  # never-zero-segments
    assert all(not r["decode_ok"] for r in per["v1"] + per["v2"])
    assert all(r["error"].startswith("stub:") for r in per["v1"])

    v3 = sorted(per["v3"], key=lambda r: r["t_ms"])
    assert [r["decode_ok"] for r in v3] == [True, True]
    # 2500 ms @ every_ms=1000 -> samples at t=0 (frame 0) and t=1000 (frame 2)
    assert [(r["frame_idx"], r["t_ms"]) for r in v3] == [(0, 0.0), (2, 1000.0)]
    assert (v3[0]["width"], v3[0]["height"]) == (24, 16)
    assert abs(v3[0]["luma_mean"] - 10.0) < 1e-9
    assert abs(v3[1]["luma_mean"] - 110.0) < 1e-9
    v4 = per["v4"][0]
    assert not v4["decode_ok"] and not v4["error"].startswith("stub:")


def test_video_frame_sample_avi_mjpeg(spark):
    """COMPRESSED video decodes for real: MJPEG-in-AVI payloads go through
    the RIFF container parse + the from-scratch JPEG codec; only the
    sampled chunks decode. Non-MJPG AVI codecs stay declared stubs;
    corrupt containers are in-band errors."""
    import numpy as np

    from doc_quality_check_spark.functions.media import encode_avi_mjpeg

    frames = [np.full((16, 24), v, dtype=np.uint8)
              for v in (10, 60, 110, 160, 210)]
    avi = encode_avi_mjpeg(frames, fps=(2, 1))  # 2 fps -> 2500 ms of video
    fake264 = bytearray(encode_avi_mjpeg(frames[:1]))
    i = bytes(fake264).index(b"MJPG")
    fake264[i : i + 4] = b"H264"  # strh handler (first MJPG occurrence)
    df = spark.createDataFrame(
        [("a1", avi, 0),                       # dur_ms meta ignored for AVI
         ("a2", avi[:60], 0),                  # truncated container
         ("a3", bytes(fake264), 0)],           # inter-frame codec -> stub
        "media_id string, bytes binary, dur_ms int",
    )
    rows = video_frame_sample(df, every_ms=1000).collect()
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], []).append(r)

    a1 = sorted(per["a1"], key=lambda r: r["t_ms"])
    assert [r["decode_ok"] for r in a1] == [True, True]
    # 2500 ms @ every_ms=1000 -> samples at t=0 (frame 0) and t=1000 (frame 2)
    assert [(r["frame_idx"], r["t_ms"]) for r in a1] == [(0, 0.0), (2, 1000.0)]
    assert (a1[0]["width"], a1[0]["height"]) == (24, 16)
    # flat frames survive JPEG quantization exactly (DC-only blocks)
    assert abs(a1[0]["luma_mean"] - 10.0) < 1.0
    assert abs(a1[1]["luma_mean"] - 110.0) < 1.0
    a2 = per["a2"][0]
    assert not a2["decode_ok"] and not a2["error"].startswith("stub:")
    a3 = per["a3"][0]
    assert not a3["decode_ok"] and a3["error"].startswith("stub:")
    assert "H264" in a3["error"]


def test_avi_mjpeg_roundtrip_snr():
    """Container-level invariant (no Spark): every frame of an encoded AVI
    comes back at the JPEG codec's fidelity (SNR >= 30 dB, the north
    rule's payload-decode bar), with fps carried by strh dwRate/dwScale."""
    import numpy as np

    from doc_quality_check_spark.functions.jpeg import decode_jpeg
    from doc_quality_check_spark.functions.media import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    frames = []
    for i in range(4):
        y = (np.linspace(0, 200, 24)[:, None]
             + np.linspace(0, 40, 40)[None, :] + i * 5)
        frames.append(np.clip(y, 0, 255).astype(np.uint8))
    avi = encode_avi_mjpeg(frames, fps=(30000, 1001), quality=90)  # NTSC
    w, h, fn, fd, chunks = decode_avi_mjpeg(avi)
    assert (w, h, fn, fd, len(chunks)) == (40, 24, 30000, 1001, 4)
    for src, chunk in zip(frames, chunks):
        ww, hh, luma = decode_jpeg(chunk)
        assert (ww, hh) == (40, 24)
        s = src.astype(np.float64).ravel()
        d = luma.astype(np.float64)
        snr = 10 * np.log10(
            np.mean(s**2) / max(np.mean((s - d) ** 2), 1e-12)
        )
        assert snr >= 30.0


def test_escalated_confidence_consistency(spark, clips_dir):
    """Escalation must agree with the full pass on which clips are
    low-confidence, and must not escalate healthy clips."""
    clips = load_clips(spark, clips_dir).limit(400).cache()
    esc = with_escalated_confidence(clips, escalate_below=15.0).cache()
    assert esc.count() == 400
    tiers = {r["conf_tier"] for r in esc.select("conf_tier").distinct().collect()}
    assert tiers == {"cheap", "escalated"}
    # cheap-tier rows all parsed headers; escalated rows are the suspect set
    bad = esc.filter((F.col("conf_tier") == "escalated") & (F.col("decode_conf") >= 15.0))
    # escalated rows may recover (silent-but-decodable etc.) — just assert
    # every corrupt clip landed in the escalated tier
    corrupt = clips.filter(F.col("category") == "corrupt").select("clip_id")
    esc_ids = esc.filter(F.col("conf_tier") == "escalated").select("clip_id")
    assert corrupt.join(esc_ids, "clip_id", "left_anti").count() == 0


def test_stream_validate_windowed_output(spark, tmp_path):
    """VERDICT r2 #7: stream_validate(windowed=...) emits event-time
    windowed pass rates alongside per-batch verdicts, and the max-batch_id
    row per window matches the batch windowed_pass_rates computation."""
    import datetime

    from pyspark.sql import Window as W

    from doc_quality_check_spark.streaming.windowed import windowed_pass_rates

    base = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (f"c{i}",
         base + datetime.timedelta(minutes=i % 12),
         (i % 7) + 1 if i % 5 else 0,       # dur 0 every 5th row → Invalid
         f"p{i % 2}")
        for i in range(240)
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, ts timestamp, dur_ms int, part_key string")
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inp)
    # two files → two micro-batches at maxFilesPerTrigger=1
    import glob as _glob
    import shutil as _shutil
    for tag, part in (("a", df.filter("substr(clip_id,2) % 2 = 0")),
                      ("b", df.filter("substr(clip_id,2) % 2 = 1"))):
        part.coalesce(1).write.mode("overwrite").parquet(f"{inp}_{tag}")
        src = _glob.glob(f"{inp}_{tag}/part-*.parquet")[0]
        _shutil.copy(src, os.path.join(inp, f"clips_{tag}.parquet"))

    suite = CheckSuite(
        name="win_stream", partition_by=["part_key"],
        checks=[Check("dur_pos", "in_range", "dur_ms", {"min": 1, "max": 10})],
    )
    schema = "clip_id string, ts timestamp, dur_ms int, part_key string"
    qs = stream_validate(
        spark, suite, inp, out, schema_ddl=schema, payload=False,
        max_files_per_trigger=1,
        windowed={"ts_col": "ts", "window_len": "5 minutes",
                  "watermark": "10 minutes"},
    )
    assert isinstance(qs, tuple) and len(qs) == 2
    for q in qs:
        q.awaitTermination(120)

    got = spark.read.parquet(out + "/windowed")
    # update-mode reader contract: max batch_id per window wins
    w = W.partitionBy("window").orderBy(F.desc("batch_id"))
    latest = (got.withColumn("_rn", F.row_number().over(w))
              .filter("_rn = 1").drop("_rn", "batch_id"))
    expected = windowed_pass_rates(
        df, suite.row_checks(), ts_col="ts", window_len="5 minutes")
    exp = {(r["window"]["start"], r["n_rows"], r["n_invalid"], r["pass_rate"])
           for r in expected.collect()}
    act = {(r["window"]["start"], r["n_rows"], r["n_invalid"], r["pass_rate"])
           for r in latest.collect()}
    assert act == exp and len(act) >= 3


def test_y4m_high_bit_depth_luma():
    """C420p10/p12 Y4M (round-4 advice follow-through): 2-byte
    little-endian samples parse with the correct plane sizes and reduce to
    8-bit luma; frames stay in sync across the stream."""
    import numpy as np

    from doc_quality_check_spark.functions.media import decode_y4m

    h, w = 4, 6
    rng = np.random.default_rng(8)
    for bits, tag in ((10, "420p10"), (12, "422p12"), (16, "444p16")):
        planes16 = [
            rng.integers(0, 1 << bits, size=(h, w), dtype=np.uint16)
            for _ in range(3)
        ]
        if tag.startswith("420"):
            cplane = (h // 2) * (w // 2)
        elif tag.startswith("422"):
            cplane = h * (w // 2)
        else:
            cplane = h * w
        head = f"YUV4MPEG2 W{w} H{h} F30:1 C{tag}\n".encode()
        body = bytearray(head)
        chroma = np.full(cplane, 1 << (bits - 1), dtype="<u2").tobytes()
        for p in planes16:
            body += b"FRAME\n" + p.astype("<u2").tobytes() + chroma + chroma
        ww, hh, fn, fd, frames = decode_y4m(bytes(body))
        assert (ww, hh, fn, fd) == (w, h, 30, 1)
        assert len(frames) == 3
        for got, src in zip(frames, planes16):
            assert np.array_equal(got, (src >> (bits - 8)).astype(np.uint8))
    # unknown tags still fail loudly
    import pytest as _pytest

    bad = b"YUV4MPEG2 W2 H2 F1:1 C411\nFRAME\n" + bytes(6)
    with _pytest.raises(NotImplementedError):
        decode_y4m(bad)


def test_avi_rec_lists_and_second_stream():
    """Review fixes: frames grouped inside LIST 'rec ' interleave chunks
    (the AVI-spec layout many muxers emit) decode, and a second stream's
    chunks ('01wb' audio / '01db' DIB) never leak into the video frame
    list."""
    import struct as _s

    import numpy as np

    from doc_quality_check_spark.functions.jpeg import decode_jpeg
    from doc_quality_check_spark.functions.media import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    frames = [np.full((16, 24), v, dtype=np.uint8) for v in (30, 90, 150)]
    plain = encode_avi_mjpeg(frames, fps=(5, 1))
    _w, _h, _fn, _fd, chunks = decode_avi_mjpeg(plain)

    def chunk(cc, payload):
        pad = b"\x00" if len(payload) & 1 else b""
        return cc + _s.pack("<I", len(payload)) + payload + pad

    def lst(listtype, payload):
        return chunk(b"LIST", listtype + payload)

    # rebuild the movi list: each frame inside its own LIST 'rec ' group,
    # with an interleaved '01wb' audio chunk that must be ignored
    pos = 12
    movi_start = movi_size = None
    while pos + 8 <= len(plain):
        cc = plain[pos:pos + 4]
        (size,) = _s.unpack_from("<I", plain, pos + 4)
        if cc == b"LIST" and plain[pos + 8:pos + 12] == b"movi":
            movi_start, movi_size = pos, size
            break
        pos += 8 + size + (size & 1)
    assert movi_start is not None
    head = plain[:movi_start]
    tail = plain[movi_start + 8 + movi_size + (movi_size & 1):]
    recs = b"".join(
        lst(b"rec ", chunk(b"00dc", c) + chunk(b"01wb", b"\x01\x02\x03"))
        for c in chunks
    )
    new_movi = lst(b"movi", recs)
    body = head[12:] + new_movi + tail
    rebuilt = b"RIFF" + _s.pack("<I", len(body) + 4) + b"AVI " + body

    w, h, fn, fd, got = decode_avi_mjpeg(rebuilt)
    assert (w, h, fn, fd, len(got)) == (24, 16, 5, 1, 3)
    for src, c in zip(frames, got):
        ww, hh, luma = decode_jpeg(c)
        assert (ww, hh) == (24, 16)
        assert abs(float(luma.mean()) - float(src.mean())) <= 1.0


def test_y4m_bounded_sampling_helpers():
    """Review fix: y4m_info walks offsets without copying planes and
    y4m_frame_planes decodes only the requested indices — both agree with
    the full decoder."""
    import numpy as np

    from doc_quality_check_spark.functions.media import (
        decode_y4m,
        encode_y4m,
        y4m_frame_planes,
        y4m_info,
    )

    frames = [np.full((16, 24), 10 * (i + 1), dtype=np.uint8)
              for i in range(7)]
    buf = encode_y4m(frames, fps=(3, 1))
    assert y4m_info(buf) == (24, 16, 3, 1, 7)
    full = decode_y4m(buf)[4]
    picked = y4m_frame_planes(buf, {0, 3, 6, 99})  # 99 silently ignored
    assert set(picked) == {0, 3, 6}
    for i in (0, 3, 6):
        assert np.array_equal(picked[i], full[i])


def test_avi_mjpeg_roundtrip_property():
    """Property: any frame count / even-ish dims / rational fps
    roundtrips through the AVI container with exact metadata and
    per-frame JPEG fidelity."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from doc_quality_check_spark.functions.jpeg import decode_jpeg
    from doc_quality_check_spark.functions.media import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    @settings(max_examples=10, deadline=None)
    @given(
        n=st.integers(1, 6),
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        fn=st.integers(1, 60000),
        fd=st.integers(1, 1001),
        seed=st.integers(0, 10_000),
    )
    def prop(n, h, w, fn, fd, seed):
        rng = np.random.default_rng(seed)
        frames = [
            rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(n)
        ]
        avi = encode_avi_mjpeg(frames, fps=(fn, fd), quality=90)
        ww, hh, gfn, gfd, chunks = decode_avi_mjpeg(avi)
        assert (ww, hh, gfn, gfd, len(chunks)) == (w, h, fn, fd, n)
        for src, c in zip(frames, chunks):
            dw, dh, luma = decode_jpeg(c)
            assert (dw, dh) == (w, h)
            # q=90 noise bound, same ceiling as the JPEG roundtrip property
            err = np.abs(
                luma.reshape(h, w).astype(int) - src.astype(int)
            ).max()
            assert err <= 40

    prop()
