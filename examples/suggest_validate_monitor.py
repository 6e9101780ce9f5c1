"""The bootstrap-then-monitor loop: suggest a suite from the data, validate
runs with it, and alert on metric anomalies across the run trail.

Three engine capabilities composed the way a team would actually adopt
validation on an unknown table:

  1. ``suggest_suite`` profiles today's data and writes a declarative suite
     (numeric ranges stamped severity='warn' — advisory until reviewed);
  2. ``ValidationJob`` runs that suite per batch, writing per-partition
     verdict metrics to each run's verdict table (the metric repository,
     indexed by the run manifests);
  3. ``detect_anomaly`` watches that trail and flags the first run
     whose metrics leave the historical band — catching the regressions a
     static threshold suite cannot express.

Run: python examples/suggest_validate_monitor.py [out_dir]
Simulates 4 healthy runs then a degraded one (duration anomaly) on slices
of the synthetic clips table; prints the suggested suite's rule kinds and
the anomaly verdicts per run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    from doc_quality_check_spark.session import get_spark
    from doc_quality_check_spark.sources.clips import generate_clips, load_clips
    from doc_quality_check_spark.suite.history import detect_anomaly
    from doc_quality_check_spark.suite.job import ValidationJob
    from doc_quality_check_spark.suite.suggest import suggest_suite

    out_dir = sys.argv[1] if len(sys.argv) > 1 else "./monitor_demo"
    spark = get_spark("suggest-validate-monitor", cores=8, shuffle_partitions=8)
    clips_dir = generate_clips(
        os.path.join(os.path.dirname(out_dir) or ".", ".data_demo"), n_rows=2400
    )
    clips = load_clips(spark, clips_dir).drop("bytes")

    # 1. bootstrap the suite from the first batch
    first = clips.limit(1200)
    suite = suggest_suite(first, name="suggested_clips",
                          partition_by=["part_key"], range_severity="warn")
    print("suggested rules:", [(c.constraint_id, c.kind) for c in suite.checks])

    # 2. validate a run trail: 4 healthy slices, then a degraded batch
    job = ValidationJob(suite, out_dir)
    for run in range(5):
        batch = clips.filter(F.pmod(F.crc32("clip_id"), F.lit(5)) == run)
        if run == 4:  # the regression: durations suddenly 100x
            batch = batch.withColumn("dur_ms", F.col("dur_ms") * 100)
        # resume=False: each batch is NEW data, not a restart of a prior
        # run — the resume anti-join would skip already-validated part_keys
        job.run(batch, payload=False, resume=False)

        # 3. monitor the dur_ms violation-rate trail after each run.
        # Row-check verdicts are PER-PARTITION (table checks land under
        # __global__), so the monitor walks every partition's trail.
        from doc_quality_check_spark.suite.history import load_manifests

        manifests = load_manifests(job.manifests)
        parts = sorted(
            pk for pk in manifests[-1].get("partitions", {}) if pk != "__global__"
        )
        verdicts = [
            detect_anomaly(job.manifests, "dur_ms_range", part_key=pk,
                           manifests=manifests)
            for pk in parts
        ]
        fired = [v for v in verdicts if v.is_anomaly]
        latest = next((v for v in verdicts if v.run_id is not None), verdicts[0])
        print(
            f"run {run + 1}: dur_ms_range anomalies in "
            f"{len(fired)}/{len(verdicts)} partitions"
            + (f" (e.g. {fired[0].part_key}: {fired[0].reason})" if fired
               else f" [{latest.reason}]")
        )


if __name__ == "__main__":
    main()
