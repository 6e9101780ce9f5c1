"""Layered benchmark of the validation engine at local[nproc].

Usage (from the repository root)::

    python3 perfbench/run.py --workload suite_codec_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off: set-up (a
cold ``get_spark`` plus the first, untimed iteration), untimed warm-up
iterations (``workloads.WARMUP``), then a closed loop of one caller running
iterations for ``--seconds`` and at least three iterations, every output
checked, with the resident memory of the Python processes (driver, worker
daemon, workers) and of the driver JVM sampled apart. The JVM's peak moves by ±20% from run to
run with heap sizing alone, so it is a per-layer figure, not an end-to-end
one.
``--trace 1`` starts the session with the Spark event log on, runs two
warm-up iterations, then alternates untraced and traced iterations for
``--seconds`` and at least two of each, then the per-layer probes, and
reports the per-layer metrics plus the tracing overhead: the traced median
over the untraced one, both with the event log on. Spans and per-tag
event-log figures are written to ``perfbench/.work/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
carries the per-iteration walls and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MAX_CONSECUTIVE_FAILURES = 3
# A shared host has bursts that slow a single iteration, so wall_s is a
# median of at least 3 iterations, even when that takes longer than --seconds.
MIN_SAMPLES = 3


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _session(cores: int, extra: dict | None = None):
    from doc_quality_check_spark.session import get_spark

    spark = get_spark(
        "perfbench", cores=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false", **(extra or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Loop:
    """Set-up plus a closed loop of timed iterations of one workload."""

    def __init__(self, name: str, inp: dict, work: str):
        self.name, self.inp, self.work = name, inp, work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.intervals: list[tuple[float, float]] = []

    def one(self, spark, tracer) -> tuple[float, dict | None]:
        """Run, time and check one iteration; the output is ``None`` when it
        raised or failed its check."""
        from perfbench import workloads

        t0 = time.perf_counter()
        try:
            out = workloads.iterate(self.name, spark, self.inp, self.work, tracer)
        except Exception:  # a failed iteration is counted, not fatal
            self.record(traceback.format_exc())
            return time.perf_counter() - t0, None
        wall = time.perf_counter() - t0
        if not self.record(workloads.check(self.name, out, self.inp)):
            workloads.release(out)
            return wall, None
        return wall, out

    def record(self, error: str | None) -> bool:
        """Count one attempted operation and its failure, if ``error``."""
        self.attempted += 1
        if error is None:
            return True
        self.failed += 1
        self.errors.append(error)
        print(f"failed: {error}", file=sys.stderr)
        return False

    def timed(self, spark, tracer, seconds: float, min_samples: int,
              keep_last: bool = False):
        """Iterations until ``seconds`` have passed and ``min_samples`` have
        passed their checks. Returns the walls of those iterations and, with
        ``keep_last``, the last output, unreleased; ``self.intervals`` holds
        their (start, end) times."""
        from perfbench import workloads

        walls, last, streak = [], None, 0
        self.intervals = []
        start = time.perf_counter()
        while len(walls) < min_samples or time.perf_counter() - start < seconds:
            t0 = time.perf_counter()
            with tracer.span("e2e"):
                wall, out = self.one(spark, tracer)
            if out is None:
                streak += 1
                if streak >= MAX_CONSECUTIVE_FAILURES:
                    break
                continue
            streak = 0
            walls.append(wall)
            self.intervals.append((t0, time.perf_counter()))
            if last is not None:
                workloads.release(last)
            last = out
        if last is not None and not keep_last:
            workloads.release(last)
            last = None
        return walls, last


def _untimed(loop: Loop, spark, tracer) -> None:
    """One checked iteration whose wall and output are not kept."""
    from perfbench import workloads

    _, out = loop.one(spark, tracer)
    if out is not None:
        workloads.release(out)


def measure_untraced(loop: Loop, cores: int, seconds: float, min_samples: int):
    """Cold set-up and warm-up, then the timed loop with the process-tree
    RSS sampled.
    Returns the session, set-up seconds, iteration walls and the median
    per-iteration peak (Python, JVM) resident bytes."""
    from perfbench import workloads
    from perfbench.trace import NullTracer, RssSampler

    t0 = time.perf_counter()
    spark = _session(cores)
    _untimed(loop, spark, NullTracer())
    setup_s = time.perf_counter() - t0
    for _ in range(workloads.WARMUP[loop.name]):
        _untimed(loop, spark, NullTracer())
    sampler = RssSampler()
    sampler.start()
    try:
        walls, _ = loop.timed(spark, NullTracer(), seconds, min_samples)
    finally:
        sampler.stop()
    return spark, setup_s, walls, sampler.median_peaks(loop.intervals)


def end_to_end(name: str, inp: dict, work: str, cores: int, seconds: float):
    loop = Loop(name, inp, work)
    spark, setup_s, walls, rss = measure_untraced(loop, cores, seconds, MIN_SAMPLES)
    spark.stop()
    if not walls:
        raise RuntimeError("no iteration passed its checks:\n" + "\n".join(loop.errors))
    wall = statistics.median(walls)
    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "wall_s": _metric(wall, "s"),
        "clips_per_s": _metric(inp["n_rows"] / wall, "1/s"),
        "python_peak_rss_mb": _metric(rss[0] / 2**20, "MB"),
    }
    detail = {"walls_s": walls, "samples": len(walls), "setup_s": setup_s}
    return loop, metrics, detail


def traced(name: str, inp: dict, work: str, cores: int, seconds: float, seed: int):
    from perfbench import eventlog, layers, workloads
    from perfbench.trace import NullTracer, RssSampler, Tracer

    codec = layers.codec_layer(seed)

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = _session(cores, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = Tracer(spark.sparkContext)
    loop = Loop(name, inp, work)
    with tracer.span("warmup"):
        _untimed(loop, spark, tracer)
        _untimed(loop, spark, tracer)
    # Untraced and traced iterations alternate (ABBA...) in this one session:
    # the JVM keeps warming up for many iterations, and a second session
    # would start warmer and reuse the engine's cached UDFs, so untraced and
    # traced blocks in separate sessions differ by more than tracing costs.
    sides = {"untraced": NullTracer(), "traced": tracer}
    walls = {side: [] for side in sides}
    plain_intervals, last = [], None
    order = ("untraced", "traced")
    sampler = RssSampler()
    sampler.start()
    start = time.perf_counter()
    try:
        while len(walls["traced"]) < 2 or time.perf_counter() - start < seconds:
            for side in order:
                got, out = loop.timed(spark, sides[side], 0, 1, keep_last=True)
                if not got:
                    raise RuntimeError("no iteration passed its checks:\n"
                                       + "\n".join(loop.errors))
                walls[side] += got
                if side == "untraced":
                    plain_intervals += loop.intervals
                if last is not None:
                    workloads.release(last)
                last = out
            order = order[::-1]
    finally:
        sampler.stop()
    rss = sampler.median_peaks(plain_intervals)

    from doc_quality_check_spark.sources.clips import (
        load_baseline, load_catalog, load_clips,
    )

    suite = inp["suite"]
    with tracer.span("probe"):
        if name == "job_partitions":
            job, job_out = inp["job"], last
            table, _, catalog, baseline = workloads.job_tables(spark, job)
            layers.verdicts_probe(spark, tracer, suite, table, catalog, baseline)
        else:
            workloads.release(last)
            d = inp["data_dir"]
            table, catalog, baseline = (load_clips(spark, d), load_catalog(spark, d),
                                        load_baseline(spark, d))
            job = workloads.mix_job_inputs(inp, work, seed)
            job_out = workloads.job_iteration(spark, job, suite,
                                              os.path.join(work, "job_probe"), tracer)
        workloads.incremental_iteration(spark, job, job_out, tracer)
        loop.record(workloads.check_job(job_out, job, suite))
        probe = layers.spark_layers(spark, tracer, inp["data_dir"], suite,
                                    table, catalog, baseline)
        probe.update(layers.job_layers(spark, tracer, job_out, job, work))
        workloads.release(job_out)
    spark.stop()

    figures = eventlog.per_tag(eventlog.read_events(log_dir), tracer.spans)
    e2e = eventlog.rollup(figures, "e2e")
    decode_tag = "probe/audio.decode_stage"
    n_e2e = len(walls["traced"])
    traced_wall = statistics.median(walls["traced"])
    plain_wall = statistics.median(walls["untraced"])
    values = {
        **codec,
        **probe,
        "audio.decode_stage_s": tracer.median("audio.decode_stage"),
        "audio.decode_task_skew": figures[decode_tag]["heaviest_stage_skew"],
        "sources.scan_s": tracer.median("sources.scan"),
        "compiler.row_checks_s": tracer.median("compiler.row_checks"),
        "runner.verdicts_s": tracer.median("runner.verdicts"),
        "job.run_s": tracer.median("job.run"),
        "report.render_s": tracer.median("report.render"),
        "incremental.run_s": tracer.median("incremental.run"),
        "incremental.diff_s": tracer.median("incremental.diff"),
        "spark.jobs": e2e["jobs"] / n_e2e,
        "spark.shuffle_bytes": e2e["shuffle_write_bytes"] / n_e2e,
        "spark.gc_s": e2e["gc_s"] / n_e2e,
        "spark.deserialize_s": e2e["deserialize_s"] / n_e2e,
        "spark.task_p50_ms": e2e["task_p50_ms"],
        "spark.task_max_ms": e2e["task_max_ms"],
        "jvm.peak_rss_mb": rss[1] / 2**20,
        "trace.wall_s": traced_wall,
        "trace.overhead_pct": 100.0 * (traced_wall / plain_wall - 1.0),
    }
    for t in ("clip_id_unique", "transcript_in_catalog",
              "completeness_transcript", "sr_drift"):
        values[f"table.{t}_s"] = tracer.median(f"table.{t}")

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{name}-seed{seed}.json"),
                {"per_tag": figures, "metrics": values})
    detail = {"walls_s": walls["traced"], "samples": n_e2e,
              "untraced_walls_s": walls["untraced"]}
    return loop, values, detail


def _stop_jvm() -> None:
    """End the gateway JVM, which PySpark keeps alive across sessions until
    its stdin closes, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        # close the Python side first: a JVM that exits under open py4j
        # connections makes py4j log connection-reset tracebacks
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "doc_quality_check_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep the JVM, Spark and Python temporaries inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    try:
        t0 = time.perf_counter()
        inp = workloads.prepare(args.workload, work, args.seed)
        gen_s = time.perf_counter() - t0
        if args.trace:
            loop, values, detail = traced(args.workload, inp, work, cores,
                                          args.seconds, args.seed)
            units = per_layer_units()
            if set(values) != set(units):
                raise RuntimeError(
                    f"per-layer metrics differ from BENCHMARK.json: "
                    f"undeclared {sorted(set(values) - set(units))}, "
                    f"missing {sorted(set(units) - set(values))}")
            metrics = {k: _metric(values[k], units[k]) for k in units}
        else:
            loop, metrics, detail = end_to_end(args.workload, inp, work, cores,
                                               args.seconds)
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cores": cores, "n_rows": inp["n_rows"],
                      "inputs_s": gen_s, **detail}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
