"""Payload-layer tests: synthesis round-trip, per-row invariants
(decoded-PCM allclose at SNR>=30dB + transcript equality — BASELINE.json
input_hint), in-band error rows, empty-input default row semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.functions.audio import (
    decode_payload,
    decode_pcm_udf,
    encode_wav_pcm16,
    energy_ratio,
    synth_clip_bytes,
    synth_pcm,
    with_audio_metrics,
)
from doc_quality_check_spark.sources.clips import load_clips


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    n = min(len(ref), len(test))
    ref, test = ref[:n].astype(np.float64), test[:n].astype(np.float64)
    noise = ref - test
    p_sig = np.mean(ref**2)
    p_noise = max(np.mean(noise**2), 1e-300)
    return 10 * np.log10(p_sig / p_noise)


def test_wav16_roundtrip_snr():
    pcm = synth_pcm(7, 16000, 500)
    sr, out = decode_payload(encode_wav_pcm16(pcm, 16000), "pcm_s16le")
    assert sr == 16000
    assert len(out) == len(pcm)
    assert snr_db(pcm, out) >= 30.0


@pytest.mark.parametrize("codec", ["pcm_s16le", "pcm_u8", "flac"])
def test_codec_roundtrip(codec):
    pcm = synth_pcm(11, 8000, 400)
    buf = synth_clip_bytes(11, 8000, 400, codec)
    sr, out = decode_payload(buf, codec)
    assert sr == 8000
    # pcm_u8 is 8-bit: lower fidelity, still comfortably >30dB for sines
    assert snr_db(pcm, out) >= 30.0


def test_energy_ratio_silent_vs_signal():
    assert energy_ratio(np.zeros(1000, dtype=np.float32)) == 0.0
    assert energy_ratio(synth_pcm(3, 8000, 300)) > 0.5


def test_corrupt_and_empty_payloads():
    with pytest.raises(ValueError):
        decode_payload(b"XXXXnot audio at all", "pcm_s16le")
    sr, pcm = decode_payload(b"", "pcm_s16le")  # empty-input default row
    assert sr == 0 and len(pcm) == 0


def test_metrics_udf_over_clips(spark, clips_dir):
    df = load_clips(spark, clips_dir)
    m = with_audio_metrics(df.limit(600))
    assert "bytes" not in m.columns  # payload dropped before any shuffle
    rows = m.select("category", "decode_ok", "energy_ratio", "decode_conf", "error").collect()
    by_cat = {}
    for r in rows:
        by_cat.setdefault(r["category"], []).append(r)
    for r in by_cat.get("silent", []):
        assert r["decode_ok"] and r["energy_ratio"] == 0.0 and r["decode_conf"] == 0.0
    for r in by_cat.get("corrupt", []):
        assert not r["decode_ok"] and r["error"]  # in-band error row
    valid = by_cat.get("valid", [])
    assert valid and all(r["decode_conf"] > 15 for r in valid if r["decode_ok"])


def test_per_row_pcm_invariant(spark, clips_dir):
    """Per-row invariant vs the generator: decoded PCM allclose at SNR>=30dB
    and transcript equality, on a deterministic sample of valid rows."""
    df = load_clips(spark, clips_dir).filter(F.col("category") == "valid").limit(24)
    rows = (
        df.withColumn("pcm", decode_pcm_udf(F.col("bytes"), F.col("codec")))
        .select("clip_id", "sr_hz", "dur_ms", "transcript", "pcm")
        .collect()
    )
    assert rows
    for r in rows:
        i = int(r["clip_id"].split("_")[1])
        expected = synth_pcm(42 * 7 + i, r["sr_hz"], r["dur_ms"])
        got = np.array(r["pcm"], dtype=np.float32)
        assert len(got) == len(expected)
        assert snr_db(expected, got) >= 30.0
        assert isinstance(r["transcript"], str) and len(r["transcript"]) > 0


def test_payload_mode_dispatcher(spark, clips_dir):
    """F5: the 4-mode dispatcher routes to the right physical plan and
    escalates when a mode can't serve the enabled checks (reference
    calculate_ocr_confidence, checks/confidence_check.py:421-455)."""
    from doc_quality_check_spark.functions.audio import with_payload_metrics
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.spec import Check

    clips = load_clips(spark, clips_dir).limit(200)
    decode_only = [Check("c", "payload_decode", "bytes")]

    # superfast: header probe only — no PCM decode, no energy column
    df, eff = with_payload_metrics(clips, checks=decode_only, mode="superfast")
    assert eff == "superfast"
    assert "energy_ratio" not in df.columns and "bytes" not in df.columns
    rows = df.select("decode_ok", "decode_conf", "header_sr", "conf_tier").collect()
    assert all(r["conf_tier"] == "cheap" for r in rows)
    assert any(r["decode_ok"] for r in rows)

    # fast: full decode, spectral_flatness NULL, conf > 0 for real clips
    df, eff = with_payload_metrics(clips, checks=decode_only, mode="fast")
    assert eff == "fast"
    rows = df.select("decode_ok", "spectral_flatness", "decode_conf").collect()
    ok = [r for r in rows if r["decode_ok"]]
    assert ok and all(r["spectral_flatness"] is None for r in rows)
    assert any(r["decode_conf"] > 0 for r in ok)

    # balanced: mixed tiers, every row has decode_ok/header_sr
    df, eff = with_payload_metrics(clips, checks=decode_only, mode="balanced")
    assert eff == "balanced"
    tiers = {r["conf_tier"] for r in df.select("conf_tier").distinct().collect()}
    assert "cheap" in tiers
    assert df.filter(F.col("decode_ok").isNull()).count() == 0

    # accurate: full metrics with spectral flatness populated
    df, eff = with_payload_metrics(clips, checks=decode_only, mode="accurate")
    assert eff == "accurate"
    assert df.filter(F.col("decode_ok") & F.col("spectral_flatness").isNull()).count() == 0

    # unknown mode → balanced (the reference's else-branch)
    _, eff = with_payload_metrics(clips, checks=decode_only, mode="bogus")
    assert eff == "balanced"

    # energy check present → superfast/balanced escalate to fast
    energy = [Check("e", "payload_energy", "bytes")]
    _, eff = with_payload_metrics(clips, checks=energy, mode="superfast")
    assert eff == "fast"
    _, eff = with_payload_metrics(clips, checks=energy, mode="balanced")
    assert eff == "fast"


def test_suite_mode_knob_reaches_dispatcher(spark, clips_dir):
    """The Check params['mode'] / suite settings['payload_mode'] knobs select
    the physical decode path through SuiteRunner."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).limit(200)
    suite = CheckSuite(
        name="modes", partition_by=["part_key"],
        checks=[Check("dec", "payload_decode", "bytes",
                      {"threshold": 15.0, "mode": "superfast"})],
    )
    runner = SuiteRunner(suite)
    res = runner.run(clips)
    assert runner.effective_payload_mode == "superfast"
    assert "energy_ratio" not in res.checked.columns
    assert res.verdicts.count() > 0
    res.unpersist()

    suite2 = CheckSuite(
        name="modes2", partition_by=["part_key"],
        settings={"payload_mode": "fast"},
        checks=[Check("dec", "payload_decode", "bytes", {"threshold": 15.0})],
    )
    runner2 = SuiteRunner(suite2)
    res2 = runner2.run(clips)
    assert runner2.effective_payload_mode == "fast"
    assert res2.checked.filter(F.col("spectral_flatness").isNotNull()).count() == 0
    res2.unpersist()


def test_curation_metrics_and_clipping_check(spark):
    """Audio-curation metrics: dBFS levels, clip fraction, trimmable
    silence; the payload_clipping check flags hard-clipped clips."""
    import numpy as np

    from doc_quality_check_spark.functions.audio import (
        curation_metrics, encode_wav_pcm16, with_audio_metrics,
    )
    from doc_quality_check_spark.suite.compiler import with_row_checks
    from doc_quality_check_spark.suite.spec import Check

    sr = 16000
    t = np.arange(sr) / sr
    quiet = 0.05 * np.sin(2 * np.pi * 440 * t).astype(np.float32)
    clipped = np.clip(3.0 * np.sin(2 * np.pi * 440 * t), -1, 1).astype(np.float32)
    padded = np.concatenate([np.zeros(sr // 10, np.float32), quiet,
                             np.zeros(sr // 5, np.float32)])

    # direct numpy-level invariants
    rms_db, peak_db, clip_fr, lead, trail = curation_metrics(clipped, sr)
    assert clip_fr > 0.3 and peak_db > -0.1
    _, _, cf_q, _, _ = curation_metrics(quiet, sr)
    assert cf_q == 0.0
    _, _, _, lead_p, trail_p = curation_metrics(padded, sr)
    assert 90 < lead_p < 110 and 190 < trail_p < 210  # ms of padding

    # end-to-end: metric columns + the payload_clipping check
    rows = [("ok", bytes(encode_wav_pcm16(quiet, sr)), "pcm_s16le"),
            ("clip", bytes(encode_wav_pcm16(clipped, sr)), "pcm_s16le")]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string")
    m = with_audio_metrics(df)
    checked = with_row_checks(
        m, [Check("no_clipping", "payload_clipping", "bytes", {"max_fraction": 0.01})]
    )
    got = {r["clip_id"]: r for r in checked.collect()}
    assert got["ok"]["passed__no_clipping"]
    assert not got["clip"]["passed__no_clipping"]
    assert got["clip"]["clip_fraction"] > 0.01
    assert got["ok"]["rms_db"] < got["clip"]["rms_db"]


def test_header_probe_real_flac_and_ogg_vorbis():
    """Byte-exact header probes for REAL containers (no decode): FLAC
    STREAMINFO (20-bit BE sample-rate field), Ogg Vorbis identification
    packet (LE u32 sr after '\\x01vorbis'), and disambiguation from the
    fixture's fake fLaC layout."""
    import struct

    from doc_quality_check_spark.functions.audio import (
        _probe_header, encode_fake_flac, synth_pcm,
    )

    # real FLAC: fLaC | block hdr (last=1, type=0, len=34) | STREAMINFO
    def real_flac(sr, total=44100, ch=2, bps=16):
        body = struct.pack(">HH", 4096, 4096)          # min/max blocksize
        body += b"\x00\x00\x00" * 2                     # min/max framesize
        b20 = (sr << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
        body += b20.to_bytes(8, "big")
        body += b"\x00" * 16                            # md5 of raw audio
        assert len(body) == 34
        return b"fLaC" + b"\x80\x00\x00\x22" + body

    for sr in (8000, 16000, 44100, 96000):
        ok, got_sr, conf = _probe_header(real_flac(sr))
        assert (ok, got_sr) == (True, sr) and conf == 50.0

    # Ogg Vorbis: 'OggS' page, 1 segment, identification packet
    def ogg_vorbis(sr, ch=1):
        ident = b"\x01vorbis" + struct.pack("<IB I", 0, ch, sr)
        page = b"OggS" + b"\x00\x02" + b"\x00" * 8 + b"\x01\x02\x03\x04"
        page += b"\x00" * 4 + b"\x00" * 4 + bytes([1, len(ident)])
        return page + ident

    for sr in (8000, 48000):
        ok, got_sr, _ = _probe_header(ogg_vorbis(sr))
        assert (ok, got_sr) == (True, sr)

    # fake container still parses through the legacy path
    fake = encode_fake_flac(synth_pcm(1, 16000, 100), 16000)
    assert _probe_header(fake) == (True, 16000, 50.0)
    # and junk stays rejected
    assert _probe_header(b"OggSjunkjunkjunkjunkjunkjunkjunk")[0] is False
    assert _probe_header(b"\x00" * 40)[0] is False


def test_wav_format_tag_dispatch():
    """Round 5: _parse_wav dispatches on the fmt chunk's FORMAT TAG —
    G.711 mu-law/A-law (telephony), IEEE float32/64, 24/32-bit PCM, IMA
    ADPCM, and WAVE_FORMAT_EXTENSIBLE wrappers all decode for real.
    Previously the tag was ignored: a mu-law stream silently mis-decoded
    as unsigned PCM8 (negative SNR) — pinned as the regression case."""
    import struct

    from doc_quality_check_spark.functions.audio import (
        _parse_wav,
        _wav_header,
        encode_wav_alaw,
        encode_wav_float32,
        encode_wav_ima_adpcm,
        encode_wav_mulaw,
        encode_wav_pcm24,
        synth_pcm,
        synth_speechlike_pcm,
    )

    def snr(ref, rec):
        n = min(len(ref), len(rec))
        ref, rec = ref[:n], rec[:n]
        return 10 * np.log10(
            np.mean(ref**2) / max(np.mean((ref - rec) ** 2), 1e-20)
        )

    sine = synth_pcm(5, 8000, 600)
    speech = synth_speechlike_pcm(9, 8000, 600)
    cases = [
        (encode_wav_mulaw, 30.0),   # G.711 quantization ~38 dB
        (encode_wav_alaw, 30.0),
        (encode_wav_float32, 100.0),
        (encode_wav_pcm24, 90.0),
        (encode_wav_ima_adpcm, 12.0),  # 4-bit codec: ~15 dB on multi-tone
    ]
    for enc, bound in cases:
        for x in (sine, speech):
            sr, dec = _parse_wav(enc(x, 8000))
            assert sr == 8000 and len(dec) == len(x), enc.__name__
            assert snr(x, dec) >= bound, (enc.__name__, snr(x, dec))

    # the regression: mu-law relabeled as PCM (tag 1) decodes GARBAGE —
    # proving the tag is load-bearing now
    mu = encode_wav_mulaw(sine, 8000)
    _, correct = _parse_wav(mu)
    relabeled = bytearray(mu)
    i = mu.index(b"fmt ") + 8
    relabeled[i : i + 2] = (1).to_bytes(2, "little")
    _, wrong = _parse_wav(bytes(relabeled))
    assert snr(sine, correct) > 30 > snr(sine, wrong)

    # WAVE_FORMAT_EXTENSIBLE: SubFormat GUID's first two bytes rule
    guid_tail = b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xAA\x00\x38\x9B\x71"
    data = (np.clip(sine, -1, 1) * 32767.0).astype("<i2").tobytes()
    extra = struct.pack("<HHI", 22, 16, 0x4) + b"\x01\x00" + guid_tail
    ext = _wav_header(8000, 0xFFFE, 1, 16, 2, 16000, len(data), extra) + data
    sr, dec = _parse_wav(ext)
    assert sr == 8000 and snr(sine, dec) > 80

    # unknown tags fail loudly (in-band error row downstream)
    bad = bytearray(mu)
    bad[i : i + 2] = (0x55).to_bytes(2, "little")
    with pytest.raises(ValueError):
        _parse_wav(bytes(bad))


def test_wav_new_codecs_through_spark(spark):
    """The new codec payloads flow through the payload_decode check and
    the derived metrics pass end-to-end (no stub/error rows)."""
    from doc_quality_check_spark.functions.audio import (
        encode_wav_alaw,
        encode_wav_float32,
        encode_wav_ima_adpcm,
        encode_wav_mulaw,
        synth_pcm,
        with_audio_metrics,
    )

    pcm = synth_pcm(11, 8000, 500)
    rows = [
        ("mu", bytearray(encode_wav_mulaw(pcm, 8000)), 8000, 500, "mulaw", "x"),
        ("al", bytearray(encode_wav_alaw(pcm, 8000)), 8000, 500, "alaw", "x"),
        ("f32", bytearray(encode_wav_float32(pcm, 8000)), 8000, 500,
         "pcm_f32le", "x"),
        ("ima", bytearray(encode_wav_ima_adpcm(pcm, 8000)), 8000, 500,
         "adpcm_ima_wav", "x"),
    ]
    df = spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    got = {r["clip_id"]: r for r in with_audio_metrics(df).collect()}
    for cid in ("mu", "al", "f32", "ima"):
        assert got[cid]["decode_ok"], (cid, got[cid])
        assert got[cid]["header_sr"] == 8000
        assert got[cid]["energy_ratio"] > 0.1


def test_flac_native_lossless_roundtrip():
    """Round 5: REAL native FLAC (functions/flac.py). The lossless gate:
    decode(encode(pcm)) is BIT-EXACT on the quantized int16 grid, across
    mono/stereo, block-size codes (common 4096, uncommon 600 -> 16-bit
    code + partial last block), constant (silence) subframes, and CRC-8/
    CRC-16 self-validation catching corruption."""
    from doc_quality_check_spark.functions.audio import (
        synth_pcm,
        synth_speechlike_pcm,
    )
    from doc_quality_check_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )

    def q16(x):
        return np.clip(np.rint(np.clip(x, -1, 1) * 32767.0), -32768, 32767)

    pcm = synth_pcm(5, 8000, 700)
    buf = encode_flac(pcm, 8000)
    sr, dec = decode_flac(buf)
    assert sr == 8000
    assert np.array_equal(q16(pcm), np.rint(dec.astype(np.float64) * 32767.0))

    sp = synth_speechlike_pcm(9, 16000, 333)
    buf = encode_flac(sp, 16000, block_size=600)
    sr, dec = decode_flac(buf)
    assert sr == 16000
    assert np.array_equal(q16(sp), np.rint(dec.astype(np.float64) * 32767.0))

    # stereo independent: decoder mixes to mono (the engine contract)
    st = np.stack([synth_pcm(1, 8000, 400), synth_pcm(2, 8000, 400)], axis=1)
    sr, dec = decode_flac(encode_flac(st, 8000))
    mix = q16(st).mean(axis=1) / 32767.0
    assert np.abs(dec - mix.astype(np.float32)).max() < 1e-4

    # CONSTANT subframes collapse silence
    silence = encode_flac(np.zeros(5000, dtype=np.float32), 8000)
    assert len(silence) < 200
    sr, dec = decode_flac(silence)
    assert len(dec) == 5000 and np.all(dec == 0)

    # CRC catches a flipped payload byte
    bad = bytearray(encode_flac(pcm, 8000))
    bad[len(bad) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        decode_flac(bytes(bad))


def test_flac_native_through_engine(spark):
    """Real-FLAC payloads route by CONTENT through decode_payload (the
    fake fixture container shares the magic; STREAMINFO layout
    disambiguates), the header probe reads the 20-bit sample-rate field,
    and the Spark metrics pass treats native FLAC as first-class."""
    from doc_quality_check_spark.functions.audio import (
        _probe_header,
        decode_payload,
        encode_fake_flac,
        synth_clip_bytes,
        synth_pcm,
        with_audio_metrics,
    )
    from doc_quality_check_spark.functions.flac import encode_flac

    pcm = synth_pcm(13, 16000, 500)
    real = encode_flac(pcm, 16000)
    fake = encode_fake_flac(pcm, 16000)
    sr_r, dec_r = decode_payload(real, "flac")
    sr_f, dec_f = decode_payload(fake, "flac")
    assert sr_r == sr_f == 16000
    # both containers carry the same int16 samples
    assert np.allclose(dec_r, dec_f, atol=2e-4)
    ok, sr, conf = _probe_header(real)
    assert ok and sr == 16000 and conf > 0
    # synth_clip_bytes gained the native label
    via_label = synth_clip_bytes(13, 16000, 500, "flac_native")
    assert via_label[:4] == b"fLaC" and via_label == real

    df = spark.createDataFrame(
        [("real", bytearray(real), 16000, 500, "flac", "x"),
         ("fake", bytearray(fake), 16000, 500, "flac", "x")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string",
    )
    got = {r["clip_id"]: r for r in with_audio_metrics(df).collect()}
    for cid in ("real", "fake"):
        assert got[cid]["decode_ok"], got[cid]
        assert got[cid]["header_sr"] == 16000
        assert abs(got[cid]["decoded_dur_ms"] - 500.0) < 1.0
    # fake truncates toward zero, FLAC rounds-to-nearest: +-1 LSB apart
    assert abs(got["real"]["energy_ratio"] - got["fake"]["energy_ratio"]) < 1e-3


def test_flac_stereo_modes_and_lpc():
    """Every stereo decorrelation mode (independent / mid-side /
    left-side / right-side — side channels at bps+1 bits) and the LPC
    subframe path decode EXACTLY; LPC beats the FIXED predictors on
    tonal content (compression sanity)."""
    from doc_quality_check_spark.functions.audio import synth_pcm
    from doc_quality_check_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )

    def q16(x):
        return np.clip(np.rint(np.clip(x, -1, 1) * 32767.0), -32768, 32767)

    st = np.stack(
        [synth_pcm(1, 8000, 500), synth_pcm(2, 8000, 500)], axis=1
    )
    mix = q16(st).mean(axis=1).astype(np.float64) / 32767.0
    for mode in ("independent", "mid_side", "left_side", "right_side"):
        for lpc in (False, True):
            sr, dec = decode_flac(
                encode_flac(st, 8000, stereo_mode=mode, use_lpc=lpc)
            )
            assert sr == 8000
            # exact samples; 1e-6 absorbs the float32 output cast
            assert np.abs(dec.astype(np.float64) - mix).max() < 1e-6, (
                mode, lpc,
            )
    m = synth_pcm(7, 8000, 600)
    fixed = encode_flac(m, 8000)
    lpc = encode_flac(m, 8000, use_lpc=True)
    assert len(lpc) < len(fixed) < len(m) * 2
    for buf in (fixed, lpc):
        _, dec = decode_flac(buf)
        assert np.array_equal(
            q16(m), np.rint(dec.astype(np.float64) * 32767.0)
        )
    with pytest.raises(ValueError):
        encode_flac(m, 8000, stereo_mode="mid_side")  # mono input


def test_flac_corrupt_streams_terminate():
    """Robustness: random byte corruption and truncation of native FLAC
    streams always terminates promptly in a decode or a clean ValueError
    (in-band error row downstream) — CRC-8/16 catch payload damage, the
    unary reader and partition checks bound every loop — and ends exactly
    as the scalar oracle decoder does on every such stream."""
    from scalar_decoders import decode_flac as oracle_decode_flac

    from doc_quality_check_spark.functions.audio import synth_pcm
    from doc_quality_check_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )

    def outcome(decode, buf):
        try:
            sr, pcm = decode(buf)
        except ValueError:
            return None
        return sr, pcm.tobytes()

    base = encode_flac(synth_pcm(3, 8000, 400), 8000, block_size=512)
    rng = np.random.default_rng(31)
    caught = 0
    for _ in range(80):
        buf = bytearray(base)
        for _ in range(int(rng.integers(1, 5))):
            buf[int(rng.integers(4, len(buf)))] = int(rng.integers(0, 256))
        got = outcome(decode_flac, bytes(buf))
        assert got == outcome(oracle_decode_flac, bytes(buf))
        caught += got is None
    assert caught > 40  # CRCs catch most corruptions
    for cut in range(8, len(base), max(1, len(base) // 16)):
        got = outcome(decode_flac, bytes(base[:cut]))
        assert got == outcome(oracle_decode_flac, bytes(base[:cut]))


def test_decode_max_tasks_conf_must_be_an_integer(spark):
    """A malformed decode-concurrency cap is a configuration error naming
    its key, not a silently ignored setting."""
    key = "spark.doc_quality_check.decode.maxTasks"
    df = spark.createDataFrame(
        [("a", bytearray(b""), "pcm_s16le")],
        "clip_id string, bytes binary, codec string",
    )
    old = spark.conf.get(key, None)
    spark.conf.set(key, "twelve")
    try:
        with pytest.raises(ValueError, match=key.replace(".", r"\.")):
            with_audio_metrics(df)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert with_audio_metrics(df).count() == 1
