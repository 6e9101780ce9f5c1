"""The benchmark's workloads: inputs, one timed iteration, and output checks.

Each workload drives the engine only through public calls:

- ``suite_codec_mix``: ``SuiteRunner(default_suite()).run`` with catalog and
  baseline over the codec-mix table, ``codec_domain`` widened to the mix's
  labels; violations, verdicts and summary materialized. Decode dominates.
- ``job_partitions``: ``ValidationJob.run(payload=False)`` with the txt,
  html and json reports over a metadata table of 2000 partitions into a fresh
  output directory. Decode is bypassed; driver collects, the manifest JSON,
  report renders and parquet sinks dominate. The traced run adds
  ``run_incremental`` against a snapshot with about 1% of rows changed.
"""

from __future__ import annotations

import json
import os
import shutil

from perfbench import inputs

MIX_ROWS = 192
JOB_BASE_ROWS = 2000
JOB_TILES = 5
JOB_PARTS = 2000


WORKLOADS = ("suite_codec_mix", "job_partitions")
# Untimed iterations between set-up and timing. The JVM keeps warming up
# after the cold first iteration: on a 4-vCPU VM the next job iterations
# took 7.5, 7.0, 6.8, then a steady 6.1-6.2 s, so a median of the first three
# timed ones moved with how fast the JVM warmed up, which a busy host slows.
# One warm-up takes the steepest step out at the cost of one iteration per
# run; a second would cost about 150 s more over the runs a comparison makes.
# Only the first codec-mix iteration after set-up is slower (5.2 s against a
# steady 4.3-4.6 s), which a median of three does not see.
WARMUP = {"suite_codec_mix": 0, "job_partitions": 1}


def mix_suite():
    """``default_suite`` with ``codec_domain`` accepting the mix's labels."""
    from doc_quality_check_spark.suite.spec import default_suite

    suite = default_suite()
    for c in suite.checks:
        if c.constraint_id == "codec_domain":
            c.params = {"values": sorted({lab for _, lab in inputs.CODEC_MIX.values()})}
    return suite


def prepare(name: str, work: str, seed: int) -> dict:
    """Build the workload's seeded inputs under ``work``."""
    from doc_quality_check_spark.sources.clips import generate_clips
    from doc_quality_check_spark.suite.spec import default_suite

    if name == "suite_codec_mix":
        d = inputs.codec_mix_clips(os.path.join(work, "mix"), MIX_ROWS, seed)
        with open(os.path.join(d, "corrupt_ids.json")) as fh:
            corrupt = json.load(fh)
        return {
            "data_dir": d, "n_rows": MIX_ROWS, "suite": mix_suite(),
            "expected": {(c, "clip_decodable") for c in corrupt},
        }
    if name == "job_partitions":
        base = generate_clips(os.path.join(work, "jobsrc"), JOB_BASE_ROWS, seed)
        snaps = inputs.build_job_snapshots(base, os.path.join(work, "job"),
                                           JOB_TILES, JOB_PARTS, seed)
        return {"data_dir": base, "suite": default_suite(),
                "job": snaps, "n_rows": snaps["n_rows"]}
    raise KeyError(f"unknown workload {name!r}")


def mix_job_inputs(inp: dict, work: str, seed: int) -> dict:
    """Job snapshots of the ``suite_codec_mix`` table, in as many partitions
    as the table has, for the job-layer probes of its traced run."""
    return inputs.build_job_snapshots(inp["data_dir"], os.path.join(work, "job"),
                                      1, inputs.MIX_PARTS, seed)


# ---------------------------------------------------------------------------
# one iteration


def suite_iteration(spark, inp: dict, tracer) -> dict:
    from doc_quality_check_spark.sources.clips import (
        load_baseline, load_catalog, load_clips,
    )
    from doc_quality_check_spark.suite.runner import SuiteRunner

    d = inp["data_dir"]
    with tracer.span("runner.run"):
        res = SuiteRunner(inp["suite"]).run(
            load_clips(spark, d),
            catalog=load_catalog(spark, d),
            baseline=load_baseline(spark, d),
        )
    try:
        with tracer.span("runner.violations"):
            viol = res.violations.select("clip_id", "constraint_id").collect()
        with tracer.span("runner.verdicts"):
            verdicts = res.verdicts.collect()
        with tracer.span("runner.summary"):
            summary = res.summary.collect()
    finally:
        res.unpersist()
    return {
        "violations": {(r["clip_id"], r["constraint_id"]) for r in viol},
        "n_verdicts": len(verdicts),
        "n_rows": summary[0]["n_rows"],
    }


def job_tables(spark, job: dict) -> tuple:
    """(snap1, snap2, catalog, baseline) DataFrames of a job input."""
    return tuple(spark.read.parquet(job[k])
                 for k in ("snap1", "snap2", "catalog", "baseline"))


def job_iteration(spark, job: dict, suite, out_dir: str, tracer) -> dict:
    """Full ``ValidationJob.run`` over ``snap1`` into a fresh ``out_dir``."""
    from doc_quality_check_spark.suite.job import ValidationJob

    shutil.rmtree(out_dir, ignore_errors=True)
    snap1, _, catalog, baseline = job_tables(spark, job)
    vj = ValidationJob(suite, out_dir)
    with tracer.span("job.run"):
        jr = vj.run(snap1, catalog=catalog, baseline=baseline, payload=False,
                    resume=False)
    return {"job": vj, "full": jr}


def incremental_iteration(spark, job: dict, out: dict, tracer) -> None:
    """``run_incremental`` of ``snap2`` against the full run in ``out``."""
    snap1, snap2, catalog, baseline = job_tables(spark, job)
    with tracer.span("incremental.run"):
        out["incremental"] = out["job"].run_incremental(
            snap2, snap1, id_col="clip_id", catalog=catalog, baseline=baseline,
            payload=False)


def iterate(name: str, spark, inp: dict, work: str, tracer) -> dict:
    if name == "job_partitions":
        return job_iteration(spark, inp["job"], inp["suite"],
                             os.path.join(work, "job_out"), tracer)
    return suite_iteration(spark, inp, tracer)


# ---------------------------------------------------------------------------
# output checks


def expected_verdict_rows(suite, n_parts: int, payload: bool) -> int:
    """Verdict rows of one run: one per (partition, row check) plus one
    global row per table check."""
    rows = [c for c in suite.row_checks()
            if payload or not c.kind.startswith("payload_")]
    return n_parts * len(rows) + len(suite.table_checks())


def check_job(out: dict, job: dict, suite) -> str | None:
    """Checks of the full run and, when ``out`` holds one, the incremental
    run: verdict rows, manifest partitions, re-validated partitions."""
    from doc_quality_check_spark.suite.runner import GLOBAL_PART

    want = expected_verdict_rows(suite, job["n_parts"], payload=False)
    runs = [(k, out[k]) for k in ("full", "incremental") if k in out]
    for label, r in runs:
        if r.manifest.status != "complete":
            return f"{label} run ended {r.manifest.status!r}"
        got = r.result.verdicts.count()
        if got != want:
            return f"{label} run wrote {got} verdict rows, expected {want}"
    parts = set(out["full"].manifest.partitions) - {GLOBAL_PART}
    if len(parts) != job["n_parts"]:
        return f"manifest holds {len(parts)} partitions, expected {job['n_parts']}"
    if "incremental" in out:
        lineage = out["incremental"].manifest.input_lineage
        touched = sorted(parts - set(lineage.get("resumed_from_partitions", [])))
        if touched != job["touched"]:
            return (f"incremental run re-validated {len(touched)} partitions, "
                    f"expected {len(job['touched'])}")
    return None


def check(name: str, out: dict, inp: dict) -> str | None:
    """``None`` when the iteration's outputs are right, else the reason."""
    if name == "job_partitions":
        return check_job(out, inp["job"], inp["suite"])
    if out["n_rows"] != inp["n_rows"]:
        return f"summary counted {out['n_rows']} rows, expected {inp['n_rows']}"
    want = expected_verdict_rows(inp["suite"], inputs.MIX_PARTS, payload=True)
    if out["n_verdicts"] != want:
        return f"{out['n_verdicts']} verdict rows, expected {want}"
    missing = inp["expected"] - out["violations"]
    spurious = out["violations"] - inp["expected"]
    if missing or spurious:
        return (f"violations differ: {len(missing)} missing "
                f"{sorted(missing)[:3]}, {len(spurious)} spurious "
                f"{sorted(spurious)[:3]}")
    return None


def release(out: dict) -> None:
    """Drop the caches an iteration's results still pin."""
    for key in ("full", "incremental"):
        if key in out:
            out[key].result.unpersist()
