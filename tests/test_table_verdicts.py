"""Table-check verdict contract: every table-check kind, at both
severities, reproduces pinned verdict rows (all six columns), and every
drift kind, global and per-partition, gives a verdict on an empty input
instead of failing the run.

The pinned rows live in ``golden_table_verdicts.json``: the verdict
tuples of the all-kinds suite below at error severity, the violation
count per constraint, and the fixture-input verdicts of each drift kind.
"""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.operators.aggregates import snapshot_histograms
from doc_quality_check_spark.sources.clips import (
    load_baseline,
    load_catalog,
    load_clips,
)
from doc_quality_check_spark.suite.runner import GLOBAL_PART, SuiteRunner
from doc_quality_check_spark.suite.spec import Check, CheckSuite

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "golden_table_verdicts.json")

# drift kind -> (column, bin width, threshold param, threshold)
DRIFT = {
    "drift_psi": ("sr_hz", None, "max_psi", 0.005),
    "drift_ks": ("sr_hz", None, "max_ks", 0.01),
    "drift_w1": ("sr_hz", None, "max_w1", 300.0),
    "drift_chi2": ("codec", None, "max_v", 0.012),
}
# the all-kinds suite scores continuous dur_ms for w1 and ks
ALL_KINDS_DRIFT = {
    "drift_psi": ("codec", None, "max_psi", 0.0005),
    "drift_ks": ("dur_ms", 100, "max_ks", 0.15),
    "drift_w1": ("dur_ms", 100, "max_w1", 110.0),
    "drift_chi2": ("codec", None, "max_v", 0.012),
}


def grouped_baseline(clips):
    """A per-partition snapshot of the long clips only: every column
    drifts a little against the full input, and some partitions more."""
    return snapshot_histograms(
        clips.filter(F.col("dur_ms") > 400), ["sr_hz", "codec", "dur_ms"],
        group_col="part_key", bin_width={"dur_ms": 100},
    )


def _drift(cid, kind, spec, per_partition, severity):
    col, bw, key, mx = spec
    params = {key: mx, "per_partition": per_partition, "severity": severity}
    if bw is not None:
        params["bin_width"] = bw
    return Check(cid, kind, col, params)


def all_kinds_suite(severity: str) -> CheckSuite:
    """One check of every table-check kind (completeness, quantile range
    and drift in each of their forms), passing and failing ones mixed,
    plus one row check so the partition verdicts join the union."""
    s = {"severity": severity}
    checks = [
        Check("id_nn", "not_null", "clip_id", dict(s), priority=1),
        Check("id_unique", "unique", "clip_id", {"salt_buckets": 8, **s}),
        Check("id_in_catalog", "referential", "clip_id", dict(s)),
        Check("transcript_complete", "completeness_min", "transcript",
              {"min_ratio": 0.99, **s}),
        Check("transcript_complete_pp", "completeness_min", "transcript",
              {"min_ratio": 0.997, "per_partition": True, **s}),
        Check("rows_min", "row_count_min", None, {"min_rows": 100, **s}),
        Check("codec_distinct", "distinct_range", "codec",
              {"min": 1, "max": 2, **s}),
        Check("dur_p90", "quantile_range", "dur_ms",
              {"q": 0.9, "min": 0, "max": 50000, **s}),
        Check("dur_median_td", "quantile_range", "dur_ms",
              {"q": 0.5, "method": "tdigest", "min": 0, "max": 500, **s}),
        Check("codec_entropy", "entropy_range", "codec",
              {"min": 1.0, "max": 4.0, **s}),
        Check("dur_sr_corr", "corr_range", "dur_ms",
              {"col2": "sr_hz", "min": 0.5, "max": 1.0, **s}),
        Check("payload_dups", "payload_neardup", "bytes",
              {"max_dup_rate": 0.0, **s}),
        Check("schema", "schema_match", None,
              {"columns": {"clip_id": "string", "sr_hz": "bigint"}, **s}),
    ]
    for kind, spec in ALL_KINDS_DRIFT.items():
        checks.append(_drift(kind, kind, spec, False, severity))
        checks.append(_drift(f"{kind}_pp", kind, spec, True, severity))
    return CheckSuite("all_table_kinds", checks, partition_by=["part_key"])


def verdict_rows(df) -> list[list]:
    return sorted([list(r) for r in df.collect()],
                  key=lambda r: (r[0], r[1]))


def assert_rows_equal(got, want):
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        # part_key, constraint_id, n_rows, n_violations, passed: exact
        assert g[:5] == w[:5], (g, w)
        assert math.isclose(g[5], w[5], rel_tol=1e-9, abs_tol=1e-12), (g, w)


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


@pytest.mark.parametrize("severity", ["error", "warn"])
def test_all_table_check_kinds_golden(spark, clips_dir, golden, severity):
    clips = load_clips(spark, clips_dir)
    suite = all_kinds_suite(severity)
    res = SuiteRunner(suite).run(
        clips, catalog=load_catalog(spark, clips_dir),
        baseline=grouped_baseline(clips))
    try:
        got = verdict_rows(res.verdicts)
        viols = {r["constraint_id"]: r["n"] for r in
                 res.violations.groupBy("constraint_id")
                 .agg(F.count("*").alias("n")).collect()}
        assert set(res.table_metrics) == {
            c.constraint_id for c in suite.table_checks()}
    finally:
        res.unpersist()
    want = golden["all_kinds"]
    if severity == "warn":
        # advisory checks keep their evidence and never fail
        want = [[*w[:4], True, w[5]] for w in want]
    assert_rows_equal(got, want)
    assert viols == golden["all_kinds_violations"]


@pytest.mark.parametrize("empty", [False, True], ids=["fixture", "empty"])
@pytest.mark.parametrize("kind", sorted(DRIFT))
def test_drift_global_and_per_partition(spark, clips_dir, golden, kind, empty):
    """The global form always gives exactly one verdict row; on an empty
    input it fails (no distribution to attest) and the per-partition form
    gives no rows. On the fixture input both forms keep their values."""
    clips = load_clips(spark, clips_dir).drop("bytes")
    inp = clips.filter(F.lit(False)) if empty else clips
    # the global check reads the fixture's flat snapshot, the
    # per-partition one a grouped snapshot
    rows = []
    for cid, per_partition, base in (
        ("global", False, load_baseline(spark, clips_dir)),
        ("per_partition", True, grouped_baseline(clips)),
    ):
        suite = CheckSuite("drift_forms", [
            _drift(cid, kind, DRIFT[kind], per_partition, "error"),
        ], partition_by=["part_key"])
        res = SuiteRunner(suite).run(inp, baseline=base, payload=False)
        rows += verdict_rows(res.verdicts)
        res.unpersist()
    rows.sort(key=lambda r: (r[0], r[1]))
    glob = [r for r in rows if r[1] == "global"]
    assert len(glob) == 1 and glob[0][0] == GLOBAL_PART
    if empty:
        assert glob[0][4] is False
        assert [r for r in rows if r[1] == "per_partition"] == []
    else:
        assert_rows_equal(rows, golden[kind])


def test_verdict_collect_reads_cached_table_checks(spark, clips_dir):
    """After run() returns, collecting the verdicts of a table-check-only
    suite is one single-stage job, a scan of the cached verdict frames: no
    table check's aggregate or join runs again."""
    clips = load_clips(spark, clips_dir)
    suite = all_kinds_suite("error")
    suite.checks = [c for c in suite.checks
                    if not c.is_row_level and c.kind != "payload_neardup"]
    res = SuiteRunner(suite).run(
        clips, catalog=load_catalog(spark, clips_dir),
        baseline=grouped_baseline(clips), payload=False)
    sc = spark.sparkContext
    sc.setJobGroup("verdict_collect", "collect cached table-check verdicts")
    try:
        rows = res.verdicts.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        res.unpersist()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("verdict_collect")
    # a job lists the stages behind its cached inputs too, as skipped
    ran = [s for j in jobs for s in tracker.getJobInfo(j).stageIds
           if tracker.getStageInfo(s).numCompletedTasks > 0]
    assert len(rows) == 14 + 5 * 8
    assert len(jobs) == 1 and len(ran) == 1, (jobs, ran)
