"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100TB design point and validated locally:
- AQE on (runtime re-plan, skew-join splitting) — the engine's referential
  anti-join and salted aggregations rely on it at scale.
- Arrow enabled for all pandas UDFs; small Arrow batches for the payload
  decode path because each row can carry a multi-KB..MB binary payload
  (SURVEY.md §4 item 4 — default 10k rows/batch would OOM Python workers).
- shuffle partitions sized for local testing; on a real cluster AQE coalesces
  from a high initial number, so we set the initial partitions high-ish and
  let AQE shrink.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "doc_quality_check_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's tuned defaults.

    ``arrow_batch_rows`` bounds rows per Arrow batch handed to pandas UDFs.
    Sized so batch_rows × payload_size stays ~tens of MB per Python worker:
    1024 suits the ~35KB synthetic clips (measured 30% faster than 256);
    tune DOWN to 64-256 for multi-MB production payloads or the workers OOM.

    ``spark.python.sql.dataFrameDebugging.enabled`` is off: with it on (the
    PySpark default) every ``F.*`` call records its Python call site in the
    JVM, about five py4j round trips and a stack walk each, which is most of
    the driver time a suite run spends building its plans. The trade: a
    DataFrame error message no longer names the Python line that built the
    failing expression; the error class, the column and the plan context are
    unchanged. ``extra_conf`` can turn it back on for debugging.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    # Make the package importable inside forked Python workers regardless of
    # the driver's cwd — the local-mode analog of `spark-submit --py-files`.
    # Must happen before the JVM launches so workers inherit the env.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split binary-payload scans across tasks (clips row groups are ~35MB;
        # the default 128MB packs several row groups into one task and starves
        # the decode stage of parallelism)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # Arrow transfer of binary columns: bound each batch by BYTES (a row
        # count alone lets 1024×35KB≈36MB buffers pile up across concurrent
        # tasks → allocator growth churn; measured 5-10× stage slowdowns at
        # local[32]); generous direct-memory ceiling for the same reason.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "8m")
        .config("spark.driver.extraJavaOptions", "-XX:MaxDirectMemorySize=32g")
        # local-mode-only decode concurrency cap (see functions/audio.py
        # with_audio_metrics); a real cluster bounds this per executor instead
        .config("spark.doc_quality_check.decode.maxTasks", "12")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
