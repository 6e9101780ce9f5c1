"""Per-layer probes of the traced run, each a public engine call in a span.

- :func:`codec_layer` times ``decode_payload`` and the metric functions in
  this process, without a JVM, on seeded 1 s, 16 kHz clips of every codec.
- :func:`spark_layers` times the scan, the decode stage, the row checks and
  each default table check on the workload's tables.
- :func:`job_layers` times the manifest store, the report renderers and the
  snapshot diff on the outputs of one job iteration.
"""

from __future__ import annotations

import os
import statistics
import time

PROBE_SR = 16000
PROBE_DUR_MS = 1000
# every codec synth_clip_bytes renders -> the codec label decode_payload gets;
# 'flac' is the legacy fake container, 'flac_native' a real FLAC stream
PROBE_CODECS = {
    "pcm_s16le": "pcm_s16le", "pcm_u8": "pcm_u8", "pcm_s24le": "pcm_s24le",
    "pcm_f32le": "pcm_f32le", "mulaw": "mulaw", "alaw": "alaw",
    "adpcm_ima_wav": "adpcm_ima_wav", "flac": "flac", "flac_native": "flac",
}
# ManifestStore save and load are timed as the median of this many calls
MANIFEST_REPS = 3


def codec_layer(seed: int, n_clips: int = 5, reps: int = 3) -> dict[str, float]:
    """Median ms per clip of ``decode_payload`` for each codec of
    :data:`PROBE_CODECS`, and of the per-clip metrics (``energy_ratio``,
    ``spectral_flatness``, ``zero_crossing_rate``, ``curation_metrics``) over
    all decoded clips."""
    from doc_quality_check_spark.functions.audio import (
        curation_metrics, decode_payload, energy_ratio, spectral_flatness,
        synth_clip_bytes, zero_crossing_rate,
    )

    out: dict[str, float] = {}
    metric_ms = []
    for codec, label in PROBE_CODECS.items():
        decode_ms = []
        for i in range(n_clips):
            buf = synth_clip_bytes(seed * 31 + i, PROBE_SR, PROBE_DUR_MS, codec)
            for _ in range(reps):
                t0 = time.perf_counter()
                sr, pcm = decode_payload(buf, label)
                decode_ms.append((time.perf_counter() - t0) * 1e3)
                t0 = time.perf_counter()
                energy_ratio(pcm)
                spectral_flatness(pcm)
                zero_crossing_rate(pcm)
                curation_metrics(pcm, sr)
                metric_ms.append((time.perf_counter() - t0) * 1e3)
        out[f"audio.decode_ms.{codec}"] = statistics.median(decode_ms)
    out["audio.metrics_ms"] = statistics.median(metric_ms)
    return out


def spark_layers(spark, tracer, payload_dir: str, suite, table, catalog,
                 baseline) -> dict[str, float]:
    """Scan and decode the payload table at ``payload_dir``, run the suite's
    row checks on the cached decoded frame, then each default table check on
    ``table``. Returns the in-band decode error count; times are spans."""
    from pyspark.sql import functions as F

    from doc_quality_check_spark.functions.audio import with_payload_metrics
    from doc_quality_check_spark.operators.aggregates import drift_psi, histogram
    from doc_quality_check_spark.operators.joins import (
        duplicate_keys, referential_violations,
    )
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.compiler import row_violations, with_row_checks

    with tracer.span("sources.scan"):
        load_clips(spark, payload_dir).agg(F.sum(F.length("bytes"))).collect()
    row_checks = suite.row_checks()
    payload_checks = [c for c in row_checks if c.kind.startswith("payload_")]
    with tracer.span("audio.decode_stage"):
        decoded, _ = with_payload_metrics(load_clips(spark, payload_dir),
                                          checks=payload_checks, mode="accurate")
        decoded = decoded.persist()
        decoded.count()
    try:
        n_errors = decoded.filter(~F.col("decode_ok")).count()
        with tracer.span("compiler.row_checks"):
            row_violations(with_row_checks(decoded, row_checks), row_checks,
                           part_cols=suite.partition_by).count()
    finally:
        decoded.unpersist()

    with tracer.span("table.clip_id_unique"):
        duplicate_keys(table, "clip_id", 64).count()
    with tracer.span("table.transcript_in_catalog"):
        referential_violations(table.select("clip_id"), catalog, "clip_id").count()
    with tracer.span("table.completeness_transcript"):
        table.agg(F.try_divide(F.count("transcript"), F.count(F.lit(1)))).first()
    with tracer.span("table.sr_drift"):
        base = baseline.filter(F.col("metric") == "sr_hz").select("bucket", "count")
        drift_psi(histogram(table, "sr_hz"), base).first()
    return {"audio.decode_errors": float(n_errors)}


def verdicts_probe(spark, tracer, suite, table, catalog, baseline) -> None:
    """Materialize ``RunResult.verdicts`` of a metadata-only suite run."""
    from doc_quality_check_spark.suite.runner import SuiteRunner

    res = SuiteRunner(suite).run(table, catalog=catalog, baseline=baseline,
                                 payload=False)
    try:
        with tracer.span("runner.verdicts"):
            res.verdicts.collect()
    finally:
        res.unpersist()


def _median_time(fn) -> float:
    times = []
    for _ in range(MANIFEST_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def job_layers(spark, tracer, job_out: dict, job: dict, scratch: str) -> dict[str, float]:
    """Manifest, report and diff figures of one job iteration's outputs."""
    from doc_quality_check_spark.operators.joins import snapshot_diff
    from doc_quality_check_spark.suite.manifest import ManifestStore
    from doc_quality_check_spark.suite.report import (
        collect_violation_sample, export_json, render_html, render_txt,
    )

    jr, jr2, vj = job_out["full"], job_out["incremental"], job_out["job"]
    m = jr.manifest
    store = vj.manifests
    copy = ManifestStore(os.path.join(scratch, "manifest_copy"))
    out = {
        "job.sink_write_s": float(m.input_lineage["timing_sec"]["result_write"]),
        "job.verdict_rows_collected": float(
            sum(len(p.get("checks", {})) for p in m.partitions.values())),
        "manifest.bytes": float(os.path.getsize(store.path_for(m.run_id))),
        "manifest.save_s": _median_time(lambda: copy.save(m)),
        "manifest.load_s": _median_time(
            lambda: (store.load(m.run_id), store.latest_complete())),
    }
    res = jr.result
    with tracer.span("report.render"):
        sample = collect_violation_sample(res.violations)
        render_txt(res.verdicts, res.summary, sample, "bench", m.run_id)
        render_html(res.verdicts, res.summary, sample, "bench", m.run_id)
        export_json(res.verdicts, res.summary, "bench", m.run_id)
    snap1 = spark.read.parquet(job["snap1"])
    snap2 = spark.read.parquet(job["snap2"])
    with tracer.span("incremental.diff"):
        cols = sorted(set(snap1.columns) - {"clip_id"})
        snapshot_diff(snap1, snap2, ["clip_id"], cols).count()
    carried = jr2.manifest.input_lineage.get("resumed_from_partitions", [])
    out["incremental.touched_partitions"] = float(job["n_parts"] - len(carried))
    return out
