"""Incremental / continuous validation via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.11: no watermarks, no event
time; its only 'incremental' state is the report-folder counter,
/root/reference/test_readability.py:969-971). The engine therefore treats
streaming as *resumable micro-batch validation*: new clip files appearing
under a directory (the sandbox analog of new Iceberg snapshots / appended
data files) are picked up by a file-source stream and validated with the SAME
``SuiteRunner`` inside ``foreachBatch`` — one code path for batch and
streaming, which is exactly how a production job would tail an Iceberg table
(``spark.readStream.format("iceberg")``).

Each micro-batch appends:
- ``verdicts/``   per-partition verdict rows (+ batch_id)
- ``violations/`` (clip_id, constraint_id) rows (+ batch_id)
and Structured Streaming's own checkpoint dir provides exactly-once file
tracking — the streaming twin of the engine's run manifest (suite/manifest.py).

Scale note: ``maxFilesPerTrigger`` bounds micro-batch size so decode UDF
memory stays flat; watermarking is unnecessary because validation is
row-local (no event-time aggregation in the suite's row checks).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doc_quality_check_spark.suite.runner import SuiteRunner, _demanded
from doc_quality_check_spark.suite.spec import CheckSuite

CLIPS_SCHEMA_DDL = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
    "transcript string, category string, part_key string"
)


def stream_validate(
    spark: SparkSession,
    suite: CheckSuite,
    input_dir: str,
    output_dir: str,
    schema_ddl: str = CLIPS_SCHEMA_DDL,
    max_files_per_trigger: int = 4,
    payload: bool = True,
    windowed: dict | None = None,
):
    """Start (availableNow) a file-source validation stream: every new
    parquet file under ``input_dir`` is validated and its verdict/violation
    rows appended under ``output_dir``. Returns the StreamingQuery; callers
    ``awaitTermination()``. Restarting with the same checkpoint resumes from
    unprocessed files only.

    ``windowed`` (optional) additionally emits event-time windowed pass
    rates (streaming/windowed.py) under ``output_dir/windowed`` as a SECOND
    streaming query over the same file source — keys: ``ts_col`` (an event
    -time column that must exist in ``schema_ddl``; default "ts"),
    ``watermark`` ("10 minutes"), ``window_len`` ("5 minutes"),
    ``group_cols`` (list). When enabled the return value is
    ``(verdict_query, windowed_query)``. The windowed aggregate runs in
    UPDATE mode via foreachBatch (each micro-batch appends its updated
    window rows tagged with batch_id; the reader takes the max-batch_id row
    per window+group — append mode would hold open windows back until the
    watermark closes them, which an availableNow run may never reach) and
    covers METADATA row checks only: decoding the payload twice in a
    parallel query would double the most expensive stage, so audio, image
    and video checks (their row kinds, and references to their metric
    columns) report through the per-batch verdict path instead."""
    runner = SuiteRunner(suite)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = runner.run(batch_df, payload=payload)
        res.verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(os.path.join(output_dir, "verdicts"))
        res.violations.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(os.path.join(output_dir, "violations"))
        res.unpersist()

    stream = (
        spark.readStream.schema(schema_ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    verdict_q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if windowed is None:
        return verdict_q

    from doc_quality_check_spark.streaming.windowed import windowed_pass_rates

    # metadata row checks only (see docstring): the runner's payload=False
    # rule — a check demanding any modality's decode (audio, image or
    # video; by kind or by a metric column the stream lacks) is skipped
    meta_checks = [
        c for c in suite.row_checks() if not _demanded(c, stream.columns)
    ]
    wdf = windowed_pass_rates(
        stream,
        meta_checks,
        ts_col=windowed.get("ts_col", "ts"),
        watermark=windowed.get("watermark", "10 minutes"),
        window_len=windowed.get("window_len", "5 minutes"),
        group_cols=windowed.get("group_cols"),
    )
    windowed_dir = os.path.join(output_dir, "windowed")

    def write_windowed(batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty() guard: the batch is an uncached stateful-aggregation
        # result, so probing emptiness would execute the aggregation twice
        # per micro-batch; an empty append writes only metadata
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(windowed_dir)

    windowed_q = (
        wdf.writeStream.outputMode("update")
        .foreachBatch(write_windowed)
        .option(
            "checkpointLocation", os.path.join(output_dir, "_checkpoint_windowed")
        )
        .trigger(availableNow=True)
        .start()
    )
    return verdict_q, windowed_q
