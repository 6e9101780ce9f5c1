"""Payload transforms: decode → trim/resample/normalize → re-encode, with
metadata kept consistent and errors in-band."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.functions.audio import (
    curation_metrics,
    decode_payload,
    synth_clip_bytes,
)
from doc_quality_check_spark.functions.audio_transform import transform_clips


@pytest.fixture(scope="module")
def clips(spark):
    rows = []
    for i, codec in enumerate(["pcm_s16le", "pcm_u8", "flac"] * 3):
        sr = [8000, 16000, 44100][i % 3]
        rows.append((f"c{i}", bytearray(synth_clip_bytes(i, sr, 600, codec)),
                     sr, 600, codec))
    rows.append(("bad", bytearray(b"XXnot-audio"), 16000, 500, "pcm_s16le"))
    rows.append(("silent", bytearray(synth_clip_bytes(99, 16000, 400,
                                                      "pcm_s16le", silent=True)),
                 16000, 400, "pcm_s16le"))
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"
    )


def test_normalize_loudness_hits_target(clips):
    out = transform_clips(clips, target_dbfs=-20.0)
    rows = {r["clip_id"]: r for r in out.collect()}
    for cid, r in rows.items():
        if cid in ("bad", "silent"):
            continue
        sr, pcm = decode_payload(bytes(r["bytes"]), r["codec"])
        m = curation_metrics(pcm, sr)
        rms_db, peak_db = m[0], m[1]
        # within 0.5 dB of the target unless the peak cap engaged — in
        # which case the hottest sample must sit at full scale (the cap's
        # defining property), not merely "less gain than requested"
        if abs(rms_db - (-20.0)) > 0.5:
            assert peak_db > -0.3
        # re-encoded metadata matches the payload
        assert r["sr_hz"] == sr
        assert abs(r["dur_ms"] - 1000 * pcm.size / sr) <= 1
    # error row: original payload kept, in-band error
    assert rows["bad"]["transform_error"] is not None
    assert bytes(rows["bad"]["bytes"]) == b"XXnot-audio"
    # silent clip: no gain applied, no crash
    assert rows["silent"]["gain_db"] == 0.0


def test_trim_and_resample(clips):
    out = transform_clips(clips, trim_keep_ms=20, target_sr=16000)
    rows = {r["clip_id"]: r for r in out.collect()}
    for cid, r in rows.items():
        if cid in ("bad",):
            continue
        sr, pcm = decode_payload(bytes(r["bytes"]), r["codec"])
        assert sr == 16000 and r["sr_hz"] == 16000
        # the synthetic clips have no lead silence, so durations survive
        # the trim within the 20ms margin; dur metadata tracks the payload
        assert abs(r["dur_ms"] - 1000 * pcm.size / sr) <= 1
        if cid != "silent":
            m = curation_metrics(pcm, sr)
            assert m[3] <= 20.0 + 1.0  # lead silence bounded by keep_ms
    # resample preserves duration within a millisecond for a same-rate clip
    orig = {r["clip_id"]: r["dur_ms"] for r in clips.collect()}
    same_rate = rows["c1"]  # sr was 16000 already
    assert abs(same_rate["dur_ms"] - orig["c1"]) <= 21 * 2  # trim margin only


def test_transform_then_validate_consistency(spark, clips):
    """A transformed table still satisfies the engine's sr/dur consistency
    checks — metadata was rewritten with the payload."""
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    out = transform_clips(
        clips.filter(F.col("clip_id").startswith("c")),
        target_dbfs=-18.0, target_sr=16000,
    ).withColumn("part_key", F.lit("p0"))
    suite = CheckSuite(
        name="post_transform", partition_by=["part_key"],
        checks=[
            Check("sr_ok", "payload_sr_consistency", None, {}, priority=1),
            Check("dur_ok", "payload_dur_consistency", None,
                  {"tol_ms": 50}, priority=2),
        ],
    )
    res = SuiteRunner(suite).run(out)
    assert res.violations.count() == 0
    res.unpersist()


def test_transform_native_flac_roundtrip(spark):
    """A clip labeled flac_native re-encodes as REAL FLAC after the
    transform pass: output magic + STREAMINFO layout, decodable, gain
    applied (round 5)."""
    import numpy as np

    from doc_quality_check_spark.functions.audio import (
        _probe_header,
        decode_payload,
        synth_clip_bytes,
    )
    from doc_quality_check_spark.functions.audio_transform import (
        transform_clips,
    )

    buf = synth_clip_bytes(17, 8000, 400, "flac_native")
    df = spark.createDataFrame(
        [("c1", bytearray(buf), "flac_native", 8000, 400)],
        "clip_id string, bytes binary, codec string, sr_hz int, dur_ms int",
    )
    out = transform_clips(df, target_dbfs=-20.0).collect()[0]
    assert out["transform_error"] is None
    got = bytes(out["bytes"])
    assert _probe_header(got) == (True, 8000, 50.0)  # fLaC + STREAMINFO
    sr, pcm = decode_payload(got, "flac_native")
    assert sr == 8000 and len(pcm) > 0
    # loudness actually moved toward the target
    dbfs = 10 * np.log10(max(float(np.mean(pcm.astype(np.float64) ** 2)),
                             1e-20))
    assert abs(dbfs - (-20.0)) < 1.5
