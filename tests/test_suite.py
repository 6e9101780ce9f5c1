"""Golden-suite test: full default suite over the synthetic clips table must
reproduce the exactly-derivable violation set (clip_id, constraint_id) and
per-partition verdicts (SURVEY.md §5 'Golden-suite test')."""

import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.sources.clips import (
    load_baseline,
    load_catalog,
    load_clips,
)
from doc_quality_check_spark.suite.runner import GLOBAL_PART, SuiteRunner
from doc_quality_check_spark.suite.spec import CheckSuite, default_suite


@pytest.fixture(scope="module")
def result(spark, clips_dir):
    runner = SuiteRunner(default_suite())
    res = runner.run(
        load_clips(spark, clips_dir),
        catalog=load_catalog(spark, clips_dir),
        baseline=load_baseline(spark, clips_dir),
    )
    yield res
    res.unpersist()


def test_exact_violation_set(spark, clips_dir, result):
    expected = {
        (r["clip_id"], r["constraint_id"])
        for r in spark.read.parquet(f"{clips_dir}/expected_violations.parquet").collect()
    }
    got = {(r["clip_id"], r["constraint_id"]) for r in result.violations.collect()}
    missing = expected - got
    spurious = got - expected
    assert not missing, f"missing {len(missing)}: {sorted(missing)[:10]}"
    assert not spurious, f"spurious {len(spurious)}: {sorted(spurious)[:10]}"


def test_partition_verdicts(result):
    rows = result.verdicts.collect()
    parts = {r["part_key"] for r in rows}
    assert GLOBAL_PART in parts and len(parts) == 9  # 8 data partitions + global
    # every partition has anomalies injected (i%200 buckets hit all i%8 parts)
    by_check = {}
    for r in rows:
        if r["part_key"] != GLOBAL_PART:
            by_check.setdefault(r["constraint_id"], []).append(r)
    assert any(not r["passed"] for r in by_check["clip_not_silent"])
    # n_violations sums match the violation table for a row-level check
    nv = sum(r["n_violations"] for r in by_check["sr_domain"])
    viol_cnt = result.violations.filter(F.col("constraint_id") == "sr_domain").count()
    assert nv == viol_cnt


def test_global_checks(result):
    g = {r["constraint_id"]: r for r in result.verdicts.collect() if r["part_key"] == GLOBAL_PART}
    assert not g["clip_id_unique"]["passed"]          # injected dups
    assert not g["transcript_in_catalog"]["passed"]   # injected missing ids
    assert g["completeness_transcript"]["passed"]     # only ~0.5% null
    assert not g["sr_drift"]["passed"] or g["sr_drift"]["metric_value"] >= 0
    # codec drift is injected in the baseline as shifted — sr is near-identical
    assert g["sr_drift"]["metric_value"] < 0.05


def test_first_failure_wins_reason(result):
    # silent rows: clip_not_silent (priority 2) outranks clip_decodable (3)
    rows = result.checked.filter(F.col("category") == "silent").select("reason").collect()
    assert rows and all(r["reason"] == "clip_not_silent" for r in rows)
    ok = result.checked.filter(F.col("category") == "valid").select("reason").collect()
    assert ok and all(r["reason"] == "OK" for r in ok)


def test_summary(result):
    s = result.summary.first()
    assert s["n_rows"] == 2400
    assert s["n_valid"] + s["n_invalid"] == 2400
    assert s["n_invalid"] > 0
    assert s["avg_decode_conf"] > 0


def test_suite_json_roundtrip():
    suite = default_suite()
    again = CheckSuite.from_json(suite.to_json())
    assert again.to_json() == suite.to_json()
    assert [c.constraint_id for c in again.checks] == [c.constraint_id for c in suite.checks]


def test_metadata_only_run_skips_decode(spark, clips_dir):
    """Column-pruning discipline: payload=False must not read/decode bytes."""
    res = SuiteRunner(default_suite()).run(
        load_clips(spark, clips_dir),
        catalog=load_catalog(spark, clips_dir),
        baseline=load_baseline(spark, clips_dir),
        payload=False,
    )
    assert "bytes" not in res.checked.columns
    assert "decode_conf" not in res.checked.columns
    cons = {r["constraint_id"] for r in res.violations.select("constraint_id").distinct().collect()}
    assert "clip_decodable" not in cons and "sr_domain" in cons
    res.unpersist()


def test_generic_check_on_metric_column_triggers_decode(spark, clips_dir):
    """A plain in_range check on a derived metric column (no payload_* kind)
    must still trigger the decode and a sufficient tier."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).limit(200)
    suite = CheckSuite(
        name="metric_range", partition_by=["part_key"],
        settings={"payload_mode": "superfast"},   # must be overridden to fast
        checks=[Check("loudness_range", "in_range", "rms_db",
                      {"min": -80.0, "max": 0.0})],
    )
    runner = SuiteRunner(suite)
    res = runner.run(clips)
    assert runner.effective_payload_mode == "fast"
    assert "rms_db" in res.checked.columns
    assert res.verdicts.count() > 0
    res.unpersist()

    # spectral-column reference forces the accurate tier
    suite2 = CheckSuite(
        name="flatness_range", partition_by=["part_key"],
        settings={"payload_mode": "fast"},
        checks=[Check("flat_range", "in_range", "spectral_flatness",
                      {"min": 0.0, "max": 1.0})],
    )
    runner2 = SuiteRunner(suite2)
    res2 = runner2.run(clips)
    assert runner2.effective_payload_mode == "accurate"
    assert res2.checked.filter(F.col("spectral_flatness").isNotNull()).count() > 0
    res2.unpersist()


def test_quantile_range_tdigest_method(spark, clips_dir):
    """quantile_range with method=tdigest runs the mergeable digest path and
    agrees with percentile_approx on the verdict."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).drop("bytes").limit(800)
    suite = CheckSuite(
        name="tdigest_q", partition_by=["part_key"],
        checks=[
            Check("dur_p50", "quantile_range", "dur_ms",
                  {"q": 0.5, "min": 1, "max": 120000, "method": "tdigest"}),
            Check("dur_p50_gk", "quantile_range", "dur_ms",
                  {"q": 0.5, "min": 1, "max": 120000}),
        ],
    )
    res = SuiteRunner(suite).run(clips, payload=False)
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()
            if r["constraint_id"].startswith("dur_p50")}
    assert rows["dur_p50"]["passed"] and rows["dur_p50_gk"]["passed"]
    # both medians within 5% of each other
    a, b = rows["dur_p50"]["metric_value"], rows["dur_p50_gk"]["metric_value"]
    assert abs(a - b) / max(a, b) < 0.05
    res.unpersist()


def test_table_check_on_metric_column_fresh_run(spark, clips_dir):
    """A fresh (non-resume) run whose only metric-column reference is a
    TABLE-level check still decodes — once, persisted — and a payload=False
    run skips generic metric row checks instead of crashing."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).limit(200)
    suite = CheckSuite(
        name="metric_table_check", partition_by=["part_key"],
        checks=[
            Check("id_ok", "not_null", "clip_id", priority=1),
            Check("rms_p50", "quantile_range", "rms_db",
                  {"q": 0.5, "min": -120.0, "max": 0.0, "method": "tdigest"}),
        ],
    )
    res = SuiteRunner(suite).run(clips)
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert rows["rms_p50"]["passed"]
    assert -120.0 < rows["rms_p50"]["metric_value"] < 0.0
    res.unpersist()

    # payload=False: the metric row check is skipped, not crashed
    suite2 = CheckSuite(
        name="metric_row_nopayload", partition_by=["part_key"],
        checks=[
            Check("id_ok", "not_null", "clip_id", priority=1),
            Check("loudness", "in_range", "rms_db", {"min": -80.0, "max": 0.0}),
        ],
    )
    res2 = SuiteRunner(suite2).run(clips.drop("bytes"), payload=False)
    cids = {r["constraint_id"] for r in res2.verdicts.collect()}
    assert "loudness" not in cids and "id_ok" in cids
    res2.unpersist()


def test_schema_match_check(spark, clips_dir):
    """schema_match validates the RAW input schema (names + Spark types),
    unaffected by decode-time column changes."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).limit(100)
    good = Check("schema_ok", "schema_match", None, {
        "columns": {"clip_id": "string", "bytes": "binary",
                    "sr_hz": "int", "dur_ms": "int", "transcript": "string"},
    })
    bad = Check("schema_bad", "schema_match", None, {
        "columns": {"clip_id": "bigint",          # wrong type
                    "missing_col": "string"},      # absent column
    })
    suite = CheckSuite(
        name="schema", partition_by=["part_key"],
        checks=[Check("id_ok", "not_null", "clip_id", priority=1), good, bad],
    )
    res = SuiteRunner(suite).run(clips, payload=True)  # bytes dropped post-decode
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert rows["schema_ok"]["passed"]                 # incl. bytes: binary
    assert not rows["schema_bad"]["passed"]
    assert rows["schema_bad"]["n_violations"] == 2
    res.unpersist()


def test_quantile_range_all_null_column_fails_cleanly(spark, clips_dir):
    """quantile_range over an all-NULL column must produce a FAILED verdict,
    not a TypeError crash (ADVICE r2: passed compared raw None)."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = (load_clips(spark, clips_dir).drop("bytes").limit(100)
             .withColumn("allnull", F.lit(None).cast("double")))
    suite = CheckSuite(
        name="allnull_q", partition_by=["part_key"],
        checks=[
            Check("id_ok", "not_null", "clip_id", priority=1),
            Check("null_p50", "quantile_range", "allnull",
                  {"q": 0.5, "min": 0.0, "max": 1.0}),
            Check("null_p50_td", "quantile_range", "allnull",
                  {"q": 0.5, "min": 0.0, "max": 1.0, "method": "tdigest"}),
        ],
    )
    res = SuiteRunner(suite).run(clips, payload=False)
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()}
    assert not rows["null_p50"]["passed"]
    assert not rows["null_p50_td"]["passed"]
    res.unpersist()


def test_unknown_payload_mode_falls_back(spark, clips_dir):
    """An unrecognized settings['payload_mode'] falls back to 'balanced'
    before the strength-floor comparison (ADVICE r2: KeyError) — and the
    metric-column floor still lifts it to 'fast'."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).limit(100)
    suite = CheckSuite(
        name="bad_mode", partition_by=["part_key"],
        settings={"payload_mode": "turbo"},
        checks=[Check("loudness", "in_range", "rms_db",
                      {"min": -120.0, "max": 0.0})],
    )
    runner = SuiteRunner(suite)
    res = runner.run(clips)
    assert runner.effective_payload_mode == "fast"
    assert res.checked.filter(F.col("rms_db").isNotNull()).count() > 0
    res.unpersist()


def test_table_check_lifts_payload_mode_floor(spark, clips_dir):
    """ADVICE r2: a TABLE-level check on spectral_flatness while the row
    checks request 'fast' must lift the decode tier to 'accurate' — the fast
    tier leaves the column present but NULL, silently voiding the verdict."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).limit(200)
    suite = CheckSuite(
        name="table_floor", partition_by=["part_key"],
        checks=[
            Check("decodable", "payload_decode", None,
                  {"mode": "fast", "min_conf": 1.0}, priority=1),
            Check("flat_p50", "quantile_range", "spectral_flatness",
                  {"q": 0.5, "min": 0.0, "max": 1.0}),
        ],
    )
    runner = SuiteRunner(suite)
    res = runner.run(clips)
    assert runner.effective_payload_mode == "accurate"
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()}
    # verdict computed from real values, not NULLs
    assert rows["flat_p50"]["passed"]
    assert 0.0 < rows["flat_p50"]["metric_value"] < 1.0
    res.unpersist()


def test_suggest_suite_profiles_and_passes(spark, clips_dir):
    """Constraint suggestion (Deequ-style): the suggested suite is
    JSON-round-trippable, its non-unique rules pass on the profiled data,
    and the near-key unique rule surfaces the fixture's planted duplicate
    clip_ids."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import CheckSuite
    from doc_quality_check_spark.suite.suggest import suggest_suite

    clips = load_clips(spark, clips_dir).drop("bytes")
    suite = suggest_suite(clips, partition_by=["part_key"])
    kinds = {c.constraint_id: c.kind for c in suite.checks}
    assert kinds.get("clip_id_not_null") == "not_null"
    assert kinds.get("dur_ms_range") == "in_range"
    assert kinds.get("codec_domain") == "isin"          # low-cardinality
    assert kinds.get("codec_entropy") == "entropy_range"  # distribution profile
    assert kinds.get("clip_id_unique") == "unique"      # near-key
    assert not any(c.column == "bytes" for c in suite.checks)
    # round-trips through the declarative JSON spec
    again = CheckSuite.from_json(suite.to_json())
    assert [c.constraint_id for c in again.checks] == list(kinds)

    res = SuiteRunner(suite).run(clips, payload=False)
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()}
    # every suggested rule passes on the profiled data except the
    # documented unique near-key, which surfaces the planted dups
    failing = {cid for cid, r in rows.items() if not r["passed"]}
    assert failing <= {"clip_id_unique"}
    assert "clip_id_unique" in failing
    res.unpersist()


def test_warn_severity_checks_are_advisory(spark, clips_dir):
    """severity='warn' checks report verdicts and violations but never flip
    a row's status/reason — the soft-threshold counterpart of hard checks."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).drop("bytes").limit(400)
    suite = CheckSuite(
        name="warns", partition_by=["part_key"],
        checks=[
            Check("id_ok", "not_null", "clip_id", priority=1),
            # fires on roughly half the fixture, but only advises
            Check("dur_soft_cap", "in_range", "dur_ms",
                  {"min": 1, "max": 800, "severity": "warn"}, priority=5),
        ],
    )
    res = SuiteRunner(suite).run(clips, payload=False)
    checked = res.checked
    warned = checked.filter(~F.col("passed__dur_soft_cap"))
    assert warned.count() > 0
    # warned rows stay Valid with reason OK (advisory only)
    assert warned.filter(F.col("status") != "Valid").count() == 0
    assert warned.filter(F.col("reason") != "OK").count() == 0
    # but the warn check still produces verdict rows and violation listings
    rows = {r["constraint_id"]: r for r in res.verdicts.collect()
            if r["part_key"] != "__global__" and r["constraint_id"] == "dur_soft_cap"}
    assert rows and any(r["n_violations"] > 0 for r in rows.values())
    v = res.violations.filter(F.col("constraint_id") == "dur_soft_cap").count()
    assert v == warned.count()
    res.unpersist()


def test_warn_severity_table_checks_and_validation(spark, clips_dir):
    """Advisory semantics extend to table-level checks (verdict keeps its
    violation evidence but never fails), severity is case-insensitive, and
    junk severities are rejected at spec construction."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.runner import GLOBAL_PART, SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    clips = load_clips(spark, clips_dir).drop("bytes")
    suite = CheckSuite(
        name="warn_table", partition_by=["part_key"],
        checks=[
            Check("id_ok", "not_null", "clip_id", priority=1),
            # the fixture HAS duplicate ids — as a warn, this must not fail
            Check("id_unique_soft", "unique", "clip_id",
                  {"severity": "WARN"}),            # case-insensitive
        ],
    )
    res = SuiteRunner(suite).run(clips, payload=False)
    g = {r["constraint_id"]: r for r in res.verdicts.collect()
         if r["part_key"] == GLOBAL_PART}
    assert g["id_unique_soft"]["passed"]            # advisory: never fails
    assert g["id_unique_soft"]["n_violations"] > 0  # evidence kept
    res.unpersist()

    with pytest.raises(ValueError, match="severity"):
        Check("bad", "not_null", "clip_id", {"severity": "fatal"})


def test_suggest_suite_warn_ranges(spark, clips_dir):
    """range_severity='warn' stamps the suggested numeric bounds advisory."""
    from doc_quality_check_spark.sources.clips import load_clips
    from doc_quality_check_spark.suite.suggest import suggest_suite

    clips = load_clips(spark, clips_dir).drop("bytes").limit(300)
    suite = suggest_suite(clips, range_severity="warn")
    # both auto-derived distribution bounds (numeric ranges + entropy) are
    # advisory under range_severity; structural rules stay hard
    soft = [c for c in suite.checks if c.kind in ("in_range", "entropy_range")]
    assert soft and all(c.severity == "warn" for c in soft)
    assert any(c.kind == "entropy_range" for c in soft)
    others = [c for c in suite.checks if c.kind not in ("in_range", "entropy_range")]
    assert all(c.severity == "error" for c in others)


def test_per_partition_verdicts_stay_distributed(spark):
    """Round-4 verdict order #4: per-partition table checks must return
    their verdict rows as a DataFrame (one grouped plan), never a
    per-check driver collect — at 10^6 part keys the round-trip is the
    scale wall. 10^4 part keys x two per-partition checks here: verdicts
    arrive complete and _run_table_check's raw return is a DataFrame."""
    from pyspark.sql import DataFrame

    from doc_quality_check_spark.operators.aggregates import snapshot_histograms
    from doc_quality_check_spark.suite.spec import Check

    n_parts = 10_000
    df = spark.range(0, n_parts * 3).select(
        F.col("id").cast("string").alias("clip_id"),
        (F.col("id") % n_parts).cast("string").alias("pk"),
        (F.col("id") % 7).cast("int").alias("sr_hz"),
    )
    baseline = snapshot_histograms(
        df.withColumn("part_key", F.col("pk")), ["sr_hz"], group_col="part_key"
    )
    suite = CheckSuite(
        name="high_card",
        partition_by=["pk"],
        checks=[
            Check("comp_pp", "completeness_min", "sr_hz",
                  {"min_ratio": 0.5, "per_partition": True}),
            Check("drift_pp", "drift_psi", "sr_hz",
                  {"max_psi": 0.2, "per_partition": True}),
        ],
    )
    runner = SuiteRunner(suite)
    res = runner.run(df, baseline=baseline, payload=False)
    # the raw check return is a lazy DataFrame — no driver round-trip
    for check in suite.checks:
        got, extra = runner._run_table_check(res.checked, check, None, baseline)
        assert isinstance(got, DataFrame), check.constraint_id
        assert extra is None
    counts = {
        r["constraint_id"]: r["n"]
        for r in res.verdicts.groupBy("constraint_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts["comp_pp"] == n_parts
    assert counts["drift_pp"] == n_parts
    # self-drift ~0 and full completeness: every partition passes
    n_passed = res.verdicts.filter("passed").count()
    assert n_passed == 2 * n_parts
    res.unpersist()


# verdict tuples of the scalar table checks on the test clips; per_partition
# does not change them, since only completeness over partition columns has a
# per-partition form
SCALAR_CHECKS = {
    "row_count_min": (None, {"min_rows": 10}, (2400, 0, True, 2400.0)),
    "distinct_range": ("codec", {"min": 1, "max": 5}, (None, 0, True, 4.0)),
    "quantile_range": ("dur_ms", {"q": 0.9, "min": 0, "max": 50000},
                       (None, 0, True, 1376.0)),
    "completeness_min": ("transcript", {"min_ratio": 0.99},
                         (2400, 0, True, 0.9975)),
}


@pytest.mark.parametrize("partition_by", [[], ["part_key"]])
@pytest.mark.parametrize("per_partition", [False, True])
def test_scalar_table_checks_ignore_per_partition(spark, clips_dir,
                                                 partition_by, per_partition):
    """row_count_min, distinct_range, percentile quantile_range and
    completeness_min without partition columns have one implementation, the
    fused scalar aggregate, whatever their per_partition flag says: one
    global verdict row each, the same tuple in every combination."""
    from doc_quality_check_spark.suite.spec import Check

    checks = [
        Check(kind, kind, col, {**params, "per_partition": per_partition})
        for kind, (col, params, _) in SCALAR_CHECKS.items()
        # completeness over partition columns is the grouped form
        if not (kind == "completeness_min" and partition_by)
    ]
    suite = CheckSuite("scalar", checks, partition_by=partition_by)
    res = SuiteRunner(suite).run(load_clips(spark, clips_dir), payload=False)
    rows = [tuple(r) for r in res.verdicts.collect()]
    res.unpersist()
    assert sorted(rows) == sorted(
        (GLOBAL_PART, c.kind, *SCALAR_CHECKS[c.kind][2]) for c in checks
    )


def test_errors_name_the_column_without_call_site_capture(spark, clips_dir):
    """get_spark turns off PySpark's DataFrame call-site capture; the errors
    a suite author sees must still name the offending column or check."""
    from pyspark.errors import AnalysisException

    from doc_quality_check_spark.suite.spec import Check

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    clips = load_clips(spark, clips_dir)
    missing = CheckSuite("missing", [Check("ghost_nn", "not_null", "ghost_col")])
    with pytest.raises(AnalysisException, match="ghost_col"):
        SuiteRunner(missing).run(clips, payload=False)
    corr = CheckSuite("corr", [Check("dur_corr", "corr_range", "dur_ms")])
    with pytest.raises(ValueError, match=r"dur_corr.*col2"):
        SuiteRunner(corr).run(clips, payload=False)
