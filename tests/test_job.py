"""ValidationJob: manifest lifecycle, reports, resume semantics."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.sources.clips import (
    load_baseline,
    load_catalog,
    load_clips,
)
from doc_quality_check_spark.suite.job import ValidationJob
from doc_quality_check_spark.suite.runner import GLOBAL_PART
from doc_quality_check_spark.suite.spec import Check, CheckSuite, default_suite


def _suite() -> CheckSuite:
    return CheckSuite(
        name="job_meta",
        partition_by=["part_key"],
        checks=[
            Check("clip_id_not_null", "not_null", "clip_id", priority=1),
            Check("dur_range", "in_range", "dur_ms", {"min": 1, "max": 120000}, priority=2),
            Check("clip_id_unique", "unique", "clip_id"),
        ],
    )


def test_job_end_to_end(spark, clips_dir, tmp_path):
    out = str(tmp_path / "job1")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(800)
    job = ValidationJob(_suite(), out)
    jr = job.run(clips, payload=False, input_files=["clips.parquet"])

    assert jr.manifest.run_id == 1
    assert jr.manifest.status == "complete"
    assert set(jr.report_paths) == {"txt", "html", "json"}
    for p in jr.report_paths.values():
        assert os.path.exists(p)
    with open(jr.report_paths["json"]) as fh:
        doc = json.load(fh)
    assert doc["verdicts"]
    # result tables written
    assert glob.glob(out + "/run_000001/verdicts/*.parquet")
    # manifest records every partition's checks
    mpath = glob.glob(out + "/manifests/run_*.json")
    assert len(mpath) == 1
    with open(mpath[0]) as fh:
        m = json.load(fh)
    assert m["constraint_versions"]["clip_id_unique"] == "1"
    assert any(pk != GLOBAL_PART for pk in m["partitions"])
    # F20: per-table-check wall seconds recorded alongside suite timing
    assert m["input_lineage"]["timing_sec"]["table_checks"]["clip_id_unique"] >= 0


def test_job_reports_match_dataframe_renderers(spark, clips_dir, tmp_path):
    """The job renders every report from one collect of its result tables;
    each report file is byte-identical to the renderer called on the
    result DataFrames themselves."""
    from doc_quality_check_spark.suite.report import (
        collect_violation_sample,
        export_json,
        render_html,
        render_txt,
    )

    clips = load_clips(spark, clips_dir).drop("bytes").limit(800)
    suite = default_suite()
    jr = ValidationJob(suite, str(tmp_path / "job_reports")).run(
        clips, payload=False)
    res, run_id = jr.result, jr.manifest.run_id
    sample = collect_violation_sample(res.violations)
    assert sample, "the input must produce violations to sample"
    want = {
        "txt": render_txt(res.verdicts, res.summary, sample, suite.name, run_id),
        "html": render_html(res.verdicts, res.summary, sample, suite.name, run_id),
        "json": export_json(res.verdicts, res.summary, suite.name, run_id),
    }
    for fmt, body in want.items():
        with open(jr.report_paths[fmt]) as fh:
            assert fh.read() == body, fmt
    res.unpersist()


def test_job_resume_skips_completed_partitions(spark, clips_dir, tmp_path):
    out = str(tmp_path / "job2")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(800)
    job = ValidationJob(_suite(), out)

    # run 1: simulate crash — manifest left 'running' with two partitions done
    jr1 = job.run(clips, payload=False)
    m1 = job.manifests.load(jr1.manifest.run_id)
    done = [pk for pk in m1.partitions if pk != GLOBAL_PART][:2]
    m1.partitions = {pk: m1.partitions[pk] for pk in done}
    m1.status = "running"
    job.manifests.save(m1)

    # run 2 resumes: completed partitions are NOT re-validated (their
    # verdicts carry forward from the prior run's verdict table), but the
    # final verdict table covers EVERY partition of the input — including
    # the skipped ones.
    jr2 = job.run(clips, payload=False, resume=True)
    assert jr2.manifest.run_id == m1.run_id + 1
    assert jr2.manifest.input_lineage["resumed_from_partitions"] == sorted(done)
    parts = {
        r["part_key"]
        for r in jr2.result.verdicts.select("part_key").distinct().collect()
    }
    all_parts = {
        str(r["part_key"])
        for r in clips.select("part_key").distinct().collect()
    }
    assert all_parts <= parts          # full coverage, merged prior verdicts
    assert set(done) <= parts
    # merged rows carry the prior run's verdict rows verbatim
    fields = ["part_key", "constraint_id", "n_rows", "n_violations",
              "passed", "metric_value"]

    def done_rows(df):
        return sorted(tuple(r) for r in
                      df.filter(F.col("part_key").isin(done)).select(fields).collect())

    prior = done_rows(spark.read.parquet(
        os.path.join(out, f"run_{m1.run_id:06d}", "verdicts")))
    assert prior and done_rows(jr2.result.verdicts) == prior
    # global table checks ran on the FULL input (not the pending remainder)
    uniq = [r for r in jr2.result.verdicts.collect()
            if r["part_key"] == GLOBAL_PART and r["constraint_id"] == "clip_id_unique"]
    assert len(uniq) == 1
    # prior run's VIOLATION rows for skipped partitions were merged (the
    # violations table must back every merged verdict)
    viol_parts = {r["part_key"] for r in
                  jr2.result.violations.select("part_key").distinct().collect()}
    merged_nv = {pk: sum(r[3] for r in prior if r[0] == pk) for pk in done}
    for pk, nv in merged_nv.items():
        if nv > 0:
            assert pk in viol_parts
            got = jr2.result.violations.filter(F.col("part_key") == pk).count()
            assert got == nv, (pk, got, nv)

    # run 3 after a COMPLETE run does not resume (full revalidation)
    jr3 = job.run(clips, payload=False, resume=True)
    assert "resumed_from_partitions" not in jr3.manifest.input_lineage


@pytest.mark.parametrize("leftover, error", [
    ("part-00000.snappy.parquet", "Py4JJavaError"),   # not parquet bytes
    ("_temporary/0/part-00000.snappy.parquet", "AnalysisException"),
])
def test_job_resume_skips_unreadable_prior_violations(
        spark, clips_dir, tmp_path, leftover, error):
    """A crashed prior run whose violations directory is unreadable (a
    non-parquet file, or only the uncommitted _temporary/ of a write cut
    short) still resumes to completion; the manifest records that the
    prior violation rows were not merged, and why."""
    import shutil

    out = str(tmp_path / "job_bad_prior")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(800)
    job = ValidationJob(_suite(), out)
    jr1 = job.run(clips, payload=False, formats=())
    m1 = job.manifests.load(jr1.manifest.run_id)
    done = [pk for pk in m1.partitions if pk != GLOBAL_PART][:2]
    m1.partitions = {pk: m1.partitions[pk] for pk in done}
    m1.status = "running"
    job.manifests.save(m1)
    viol = os.path.join(out, f"run_{m1.run_id:06d}", "violations")
    shutil.rmtree(viol)
    os.makedirs(os.path.dirname(os.path.join(viol, leftover)))
    with open(os.path.join(viol, leftover), "wb") as fh:
        fh.write(b"this is not a parquet file")

    jr2 = job.run(clips, payload=False, resume=True)
    assert jr2.manifest.status == "complete"
    lineage = jr2.manifest.input_lineage
    assert lineage["resumed_from_partitions"] == sorted(done)
    assert lineage["prior_violations_merge_skipped"] == {
        "run_id": m1.run_id, "error": error,
    }
    # the skipped partitions' verdicts still merged from the prior verdict
    # table; no violation row of theirs could be carried
    parts = {r["part_key"] for r in
             jr2.result.verdicts.select("part_key").distinct().collect()}
    assert set(done) <= parts
    assert jr2.result.violations.filter(F.col("part_key").isin(done)).count() == 0


@pytest.mark.parametrize("mode", ["resume", "incremental"])
@pytest.mark.parametrize("leftover", [
    "part-00000.snappy.parquet",                # not parquet bytes
    "_temporary/0/part-00000.snappy.parquet",   # a write cut short
])
def test_job_rejects_unreadable_prior_verdicts(
        spark, clips_dir, tmp_path, mode, leftover):
    """A resume or incremental run whose prior verdict table cannot be read
    would skip partitions it cannot carry: it falls back to a full run,
    records why, and re-validates every partition."""
    import shutil

    out = str(tmp_path / "job_bad_verdicts")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(800)
    job = ValidationJob(_suite(), out)
    jr1 = job.run(clips, payload=False, formats=())
    want = sorted(map(tuple, jr1.result.verdicts.collect()))
    if mode == "resume":
        m1 = job.manifests.load(jr1.manifest.run_id)
        done = [pk for pk in m1.partitions if pk != GLOBAL_PART][:2]
        m1.partitions = {pk: m1.partitions[pk] for pk in done}
        m1.status = "running"
        job.manifests.save(m1)
    verd = os.path.join(out, f"run_{jr1.manifest.run_id:06d}", "verdicts")
    shutil.rmtree(verd)
    os.makedirs(os.path.dirname(os.path.join(verd, leftover)))
    with open(os.path.join(verd, leftover), "wb") as fh:
        fh.write(b"this is not a parquet file")

    if mode == "resume":
        jr2 = job.run(clips, payload=False, resume=True)
    else:
        jr2 = job.run_incremental(clips, clips, payload=False)
    assert jr2.manifest.status == "complete"
    lineage = jr2.manifest.input_lineage
    assert lineage["resume_rejected"] == "prior_verdicts_unreadable"
    assert "resumed_from_partitions" not in lineage
    all_parts = {r["part_key"] for r in
                 clips.select("part_key").distinct().collect()}
    checked = {r["part_key"] for r in
               jr2.result.checked.select("part_key").distinct().collect()}
    assert checked == all_parts        # nothing skipped
    assert sorted(map(tuple, jr2.result.verdicts.collect())) == want


def test_job_manifest_holds_no_partition_metrics(spark, clips_dir, tmp_path):
    """The verdict parquet is the only store of per-partition metrics: no
    saved manifest entry but ``__global__`` has checks, and the manifest
    records the verdict table's path."""
    out = str(tmp_path / "job_shape")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(400)
    job = ValidationJob(_suite(), out)
    jr = job.run(clips, payload=False, formats=())
    with open(job.manifests.path_for(jr.manifest.run_id)) as fh:
        m = json.load(fh)
    parts = m["partitions"]
    assert len(parts) > 1
    assert [pk for pk, v in parts.items() if "checks" in v] == [GLOBAL_PART]
    assert set(parts[GLOBAL_PART]["checks"]) == {"clip_id_unique"}
    assert all(v == {"status": "complete"}
               for pk, v in parts.items() if pk != GLOBAL_PART)
    assert m["verdicts_path"] == os.path.join(out, "run_000001", "verdicts")
    assert spark.read.parquet(m["verdicts_path"]).count() \
        == jr.result.verdicts.count()


def test_metric_history_per_partition_from_verdict_tables(
        spark, clips_dir, tmp_path):
    """A per-partition trail from real runs: metric_history reads each
    run's verdict parquet, detect_anomaly flags the one degraded partition,
    and neither starts a Spark job."""
    from doc_quality_check_spark.suite.history import (
        detect_anomaly, load_manifests, metric_history,
    )

    out = str(tmp_path / "job_history")
    clips = load_clips(spark, clips_dir).drop("bytes")
    job = ValidationJob(_suite(), out)
    parts = sorted(r["part_key"] for r in
                   clips.select("part_key").distinct().collect())
    victim = parts[0]
    for run in range(4):
        batch = clips.filter(F.pmod(F.crc32("clip_id"), F.lit(4)) == run)
        if run == 3:   # the regression: one partition's durations 100x
            batch = batch.withColumn("dur_ms", F.when(
                F.col("part_key") == victim, F.col("dur_ms") * 100,
            ).otherwise(F.col("dur_ms")))
        job.run(batch, payload=False, resume=False, formats=())

    want = {}
    for man in load_manifests(job.manifests):
        for r in spark.read.parquet(man["verdicts_path"]).filter(
                F.col("constraint_id") == "dur_range").collect():
            want.setdefault(r["part_key"], []).append(
                (int(man["run_id"]), r["metric_value"]))
    assert set(want) == set(parts)

    sc = spark.sparkContext
    sc.setJobGroup("history-probe", "history-probe")
    try:
        trails = {pk: metric_history(job.manifests, "dur_range", part_key=pk)
                  for pk in parts}
        verdicts = {pk: detect_anomaly(job.manifests, "dur_range",
                                       part_key=pk, min_history=2)
                    for pk in parts}
        manifests = load_manifests(job.manifests)
        assert verdicts == {pk: detect_anomaly(
            job.manifests, "dur_range", part_key=pk, min_history=2,
            manifests=manifests) for pk in parts}
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup("history-probe")) == []

    assert trails == {pk: sorted(v) for pk, v in want.items()}
    assert all(len(t) == 4 for t in trails.values())
    assert {pk for pk, v in verdicts.items() if v.is_anomaly} == {victim}
    assert verdicts[victim].run_id == 4
    assert verdicts[victim].value > verdicts[victim].mean


def test_job_resume_global_checks_span_partitions(spark, clips_dir, tmp_path):
    """A duplicate clip_id spanning a completed and a pending partition must
    still be caught on resume, and NULL part_key rows must not be dropped."""
    out = str(tmp_path / "job_resume_global")
    base = load_clips(spark, clips_dir).drop("bytes").limit(600)
    parts = sorted(r["part_key"] for r in base.select("part_key").distinct().collect())
    p_done, p_pending = str(parts[0]), str(parts[1])
    # plant a cross-partition duplicate + a NULL-part_key row
    dup_id = base.filter(F.col("part_key") == p_done).select("clip_id").first()["clip_id"]
    planted = base.filter(F.col("part_key") == p_pending).limit(1) \
        .withColumn("clip_id", F.lit(dup_id))
    null_part = base.limit(1).withColumn("part_key", F.lit(None).cast(base.schema["part_key"].dataType)) \
        .withColumn("clip_id", F.lit("null-part-row"))
    clips = base.unionByName(planted).unionByName(null_part)

    job = ValidationJob(_suite(), out)
    jr1 = job.run(clips, payload=False)
    m1 = job.manifests.load(jr1.manifest.run_id)
    m1.partitions = {p_done: m1.partitions[p_done]}
    m1.status = "running"
    job.manifests.save(m1)

    jr2 = job.run(clips, payload=False, resume=True)
    rows = jr2.result.verdicts.collect()
    uniq = [r for r in rows if r["constraint_id"] == "clip_id_unique"][0]
    assert not uniq["passed"]          # cross-partition duplicate caught
    assert uniq["n_violations"] >= 1
    # the NULL-part_key row survives the resume filter (validated again)
    checked_ids = {r["clip_id"] for r in jr2.result.checked.select("clip_id").collect()}
    assert "null-part-row" in checked_ids


def test_job_prunes_checks_missing_side_tables(spark, clips_dir, tmp_path):
    out = str(tmp_path / "job3")
    clips = load_clips(spark, clips_dir).limit(400)
    job = ValidationJob(default_suite(), out)
    # no catalog/baseline → referential + drift checks pruned, run succeeds
    jr = job.run(clips, payload=True)
    cids = {r["constraint_id"] for r in jr.result.verdicts.collect()}
    assert "transcript_in_catalog" not in cids
    assert "sr_drift" not in cids
    assert "clip_id_unique" in cids
    jr.result.unpersist()


def test_job_deterministic_verdicts(spark, clips_dir, tmp_path):
    """Re-running the same input yields identical verdict rows (UDF
    determinism — SURVEY.md §7 hard parts)."""
    clips = load_clips(spark, clips_dir).limit(600)
    job_a = ValidationJob(_suite(), str(tmp_path / "a"))
    job_b = ValidationJob(_suite(), str(tmp_path / "b"))
    va = sorted(map(str, job_a.run(clips, payload=False).result.verdicts.collect()))
    vb = sorted(map(str, job_b.run(clips, payload=False).result.verdicts.collect()))
    assert va == vb


def test_job_resume_multicolumn_partition_key(spark, clips_dir, tmp_path):
    """Multi-column partition_by: the resume filter must use the same
    '/'-joined part_key expression as the verdict groupBy (round-1 latent
    bug: the filter matched only the first column)."""
    out = str(tmp_path / "job_multicol")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(600)
    suite = CheckSuite(
        name="multicol",
        partition_by=["part_key", "codec"],
        checks=[
            Check("clip_id_not_null", "not_null", "clip_id", priority=1),
            Check("dur_range", "in_range", "dur_ms", {"min": 1, "max": 120000}, priority=2),
        ],
    )
    job = ValidationJob(suite, out)
    jr1 = job.run(clips, payload=False)
    m1 = job.manifests.load(jr1.manifest.run_id)
    keys = [pk for pk in m1.partitions if pk != GLOBAL_PART]
    assert all("/" in pk for pk in keys)          # composite keys recorded
    done = sorted(keys)[:2]
    m1.partitions = {pk: m1.partitions[pk] for pk in done}
    m1.status = "running"
    job.manifests.save(m1)

    jr2 = job.run(clips, payload=False, resume=True)
    assert jr2.manifest.input_lineage["resumed_from_partitions"] == sorted(done)
    # skipped units were not re-validated: their rows are absent from checked
    from pyspark.sql import functions as F2
    pk_expr = F2.concat_ws("/", F2.col("part_key").cast("string"),
                           F2.col("codec").cast("string"))
    revalidated = {
        r["pk"] for r in
        jr2.result.checked.select(pk_expr.alias("pk")).distinct().collect()
    }
    assert revalidated.isdisjoint(set(done))
    # but the merged verdict table still covers them
    parts = {r["part_key"] for r in
             jr2.result.verdicts.select("part_key").distinct().collect()}
    assert set(done) <= parts


def test_job_records_source_lineage(spark, clips_dir, tmp_path):
    """snapshot_lineage → manifest: file-list lineage for parquet sources
    (snapshot id for Iceberg on clusters with the runtime)."""
    from doc_quality_check_spark.sources.iceberg import snapshot_lineage

    out = str(tmp_path / "job_lineage")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(200)
    lin = snapshot_lineage(spark, clips_dir)
    assert lin["kind"] == "parquet" and lin["n_files"] >= 1
    job = ValidationJob(_suite(), out)
    jr = job.run(clips, payload=False, lineage=lin)
    m = job.manifests.load(jr.manifest.run_id)
    assert m.input_lineage["source"]["kind"] == "parquet"
    assert m.input_lineage["source"]["n_files"] == lin["n_files"]


def test_job_resume_with_metric_table_check(spark, clips_dir, tmp_path):
    """Resume path where a table check references a derived metric column:
    the full input is re-decoded once (persisted) for the global check while
    row-level work still skips completed partitions."""
    out = str(tmp_path / "job_resume_metric")
    clips = load_clips(spark, clips_dir).limit(600)
    suite = CheckSuite(
        name="resume_metric", partition_by=["part_key"],
        checks=[
            Check("clip_decodable", "payload_decode", "bytes",
                  {"threshold": 15.0}, priority=1),
            Check("conf_p50", "quantile_range", "decode_conf",
                  {"q": 0.5, "min": 0.0, "max": 100.0}),
        ],
    )
    job = ValidationJob(suite, out)
    jr1 = job.run(clips, payload=True)
    m1 = job.manifests.load(jr1.manifest.run_id)
    done = [pk for pk in m1.partitions if pk != GLOBAL_PART][:1]
    m1.partitions = {pk: m1.partitions[pk] for pk in done}
    m1.status = "running"
    job.manifests.save(m1)

    jr2 = job.run(clips, payload=True, resume=True)
    rows = {r["constraint_id"]: r for r in jr2.result.verdicts.collect()
            if r["part_key"] == GLOBAL_PART}
    # the metric table check ran on the FULL input despite the resume filter
    assert rows["conf_p50"]["passed"]
    assert 0.0 <= rows["conf_p50"]["metric_value"] <= 100.0
    jr2.result.unpersist()


def test_metric_history_anomaly_detection(tmp_path):
    """Manifest trail → anomaly flags: a stable metric forms a band, the
    outlier run fires, young histories never fire (driver-side only, no
    Spark)."""
    import json
    import os

    from doc_quality_check_spark.suite.history import (
        GLOBAL_PART, detect_anomaly, metric_history,
    )
    from doc_quality_check_spark.suite.manifest import ManifestStore

    store = ManifestStore(str(tmp_path))
    values = [0.98, 0.975, 0.985, 0.98, 0.70]     # last run collapses
    for i, v in enumerate(values, start=1):
        m = {
            "run_id": i, "started_at": "t", "suite_name": "s",
            "constraint_versions": {}, "input_lineage": {}, "status": "complete",
            "partitions": {GLOBAL_PART: {"status": "complete", "checks": {
                "pass_rate": {"n_rows": 100, "n_violations": 2,
                              "passed": True, "metric_value": v},
            }}},
        }
        with open(os.path.join(str(tmp_path), f"run_{i:06d}.json"), "w") as f:
            json.dump(m, f)

    trail = metric_history(store, "pass_rate")
    assert [r for r, _ in trail] == [1, 2, 3, 4, 5]

    verdict = detect_anomaly(store, "pass_rate", k=3.0, min_history=3)
    assert verdict.is_anomaly and verdict.n_history == 4
    assert abs(verdict.mean - 0.98) < 0.01

    # young history: never an anomaly
    young = ManifestStore(str(tmp_path / "young"))
    with open(os.path.join(str(tmp_path / "young"), "run_000001.json"), "w") as f:
        json.dump({"run_id": 1, "partitions": {GLOBAL_PART: {"checks": {
            "pass_rate": {"metric_value": 0.1}}}}}, f)
    v2 = detect_anomaly(young, "pass_rate")
    assert not v2.is_anomaly and v2.reason == "insufficient history"

    # constant trail then a tiny move: zero-variance epsilon band fires
    const = ManifestStore(str(tmp_path / "const"))
    for i, v in enumerate([1.0, 1.0, 1.0, 1.0, 1.0001], start=1):
        with open(os.path.join(str(tmp_path / "const"), f"run_{i:06d}.json"), "w") as f:
            json.dump({"run_id": i, "partitions": {GLOBAL_PART: {"checks": {
                "m": {"metric_value": v}}}}}, f)
    assert detect_anomaly(const, "m").is_anomaly


def test_anomaly_latest_run_attribution(tmp_path):
    """The verdict names the run it judged; when the NEWEST manifest lacks
    the metric, no verdict is invented about a stale run."""
    import json
    import os

    from doc_quality_check_spark.suite.history import GLOBAL_PART, detect_anomaly
    from doc_quality_check_spark.suite.manifest import ManifestStore

    store = ManifestStore(str(tmp_path))
    for i, v in enumerate([0.9, 0.9, 0.9, 0.9, 0.2], start=1):
        m = {"run_id": i, "partitions": {GLOBAL_PART: {"checks": {
            "m": {"metric_value": v}}}}}
        if i == 5:
            m["partitions"] = {}          # run 5 dropped the constraint
        with open(os.path.join(str(tmp_path), f"run_{i:06d}.json"), "w") as f:
            json.dump(m, f)
    v = detect_anomaly(store, "m", min_history=2)
    assert not v.is_anomaly and v.run_id is None
    assert "absent from latest run (run 5" in v.reason

    # with run 5 carrying the metric, the verdict names run 5
    with open(os.path.join(str(tmp_path), "run_000005.json"), "w") as f:
        json.dump({"run_id": 5, "partitions": {GLOBAL_PART: {"checks": {
            "m": {"metric_value": 0.2}}}}}, f)
    v2 = detect_anomaly(store, "m", min_history=2)
    assert v2.is_anomaly and v2.run_id == 5


def test_job_schema_evolution_recorded(spark, clips_dir, tmp_path):
    """Each run records its input schema; a later run diffs against the
    last COMPLETE run and records added/removed/re-typed columns."""
    out = str(tmp_path / "job_schema")
    base = load_clips(spark, clips_dir).drop("bytes").limit(200)
    job = ValidationJob(_suite(), out)
    jr1 = job.run(base, payload=False, resume=False)
    assert jr1.manifest.input_lineage["schema"]["sr_hz"] == "int"
    assert "schema_evolution" not in jr1.manifest.input_lineage  # first run

    evolved = (
        base.drop("transcript")
        .withColumn("sr_hz", F.col("sr_hz").cast("long"))
        .withColumn("speaker", F.lit("spk0"))
    )
    jr2 = job.run(evolved, payload=False, resume=False)
    ev = jr2.manifest.input_lineage["schema_evolution"]
    assert ev["vs_run"] == jr1.manifest.run_id
    assert ev["added"] == ["speaker"]
    assert ev["removed"] == ["transcript"]
    assert ev["type_changed"] == {"sr_hz": ["int", "bigint"]}
    assert ev["drifted"] is True

    # identical schema -> recorded as not drifted
    jr3 = job.run(evolved, payload=False, resume=False)
    assert jr3.manifest.input_lineage["schema_evolution"]["drifted"] is False
    assert jr3.manifest.input_lineage["schema_evolution"]["vs_run"] == jr2.manifest.run_id


def test_job_resume_rejected_on_schema_change(spark, clips_dir, tmp_path):
    """Resuming a crashed run is only sound when the input is still the
    table that run validated: a schema change in between falls back to a
    full run (no stale merged verdicts) and records why."""
    out = str(tmp_path / "job_schema_resume")
    clips = load_clips(spark, clips_dir).drop("bytes").limit(400)
    job = ValidationJob(_suite(), out)
    jr1 = job.run(clips, payload=False)
    m1 = job.manifests.load(jr1.manifest.run_id)
    done = [pk for pk in m1.partitions if pk != GLOBAL_PART][:2]
    m1.partitions = {pk: m1.partitions[pk] for pk in done}
    m1.status = "running"
    job.manifests.save(m1)

    evolved = clips.withColumn("sr_hz", F.col("sr_hz").cast("long"))
    jr2 = job.run(evolved, payload=False, resume=True)
    assert "resumed_from_partitions" not in jr2.manifest.input_lineage
    assert jr2.manifest.input_lineage["resume_rejected"] \
        == "schema_changed_since_crashed_run"
    # every partition re-validated on the evolved input (n_rows all fresh)
    pks = {r["part_key"] for r in jr2.result.verdicts.collect()
           if r["constraint_id"] == "dur_range"}
    assert set(done) <= pks


def test_continuous_validation_example(spark, clips_dir, tmp_path):
    """examples/continuous_validation.py composes the ops lifecycle
    end-to-end: full run -> baseline -> incremental run -> per-partition
    drift localization + schema record (asserts internally)."""
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"))
    from continuous_validation import lifecycle

    lifecycle(spark, str(tmp_path / "continuous"), clips_dir)


def test_job_incremental_revalidates_only_touched_partitions(
    spark, clips_dir, tmp_path
):
    """run_incremental: partitions untouched by the snapshot diff carry
    their verdicts forward verbatim; partitions with changed OR removed
    rows re-validate in full on the new snapshot."""
    out = str(tmp_path / "job_inc")
    base = (
        load_clips(spark, clips_dir).drop("bytes").limit(800)
        .dropDuplicates(["clip_id"])          # diff keys must be unique
    )
    old_p = str(tmp_path / "snap_old")
    base.write.parquet(old_p)
    old = spark.read.parquet(old_p)

    parts = sorted(
        r["part_key"] for r in old.select("part_key").distinct().collect()
    )
    assert len(parts) >= 3
    mod_part, drop_part = parts[0], parts[1]
    victims = [
        r["clip_id"]
        for r in old.filter(F.col("part_key") == mod_part)
        .select("clip_id").limit(2).collect()
    ]
    drop_id = old.filter(F.col("part_key") == drop_part).select(
        F.min("clip_id").alias("i")
    ).collect()[0]["i"]
    new_df = old.filter(F.col("clip_id") != drop_id).withColumn(
        "dur_ms",
        F.when(F.col("clip_id").isin(victims), F.lit(-5)).otherwise(
            F.col("dur_ms")
        ),
    )
    new_p = str(tmp_path / "snap_new")
    new_df.write.parquet(new_p)
    new = spark.read.parquet(new_p)

    job = ValidationJob(_suite(), out)
    jr1 = job.run(old, payload=False, resume=False)
    assert jr1.manifest.status == "complete"
    jr2 = job.run_incremental(new, old, id_col="clip_id", payload=False)

    assert jr2.manifest.input_lineage["incremental_from_run"] == jr1.manifest.run_id
    v1 = {
        (r["part_key"], r["constraint_id"]): r
        for r in jr1.result.verdicts.collect()
    }
    v2 = {
        (r["part_key"], r["constraint_id"]): r
        for r in jr2.result.verdicts.collect()
    }
    # full coverage of the new snapshot
    assert {r["part_key"] for r in
            new.select("part_key").distinct().collect()} <= {
        k[0] for k in v2
    }
    # untouched partitions: metrics carried forward verbatim
    for (pk, cid), r in v2.items():
        if pk not in (mod_part, drop_part, GLOBAL_PART):
            assert r["n_violations"] == v1[(pk, cid)]["n_violations"]
            assert r["passed"] == v1[(pk, cid)]["passed"]
    # the modified partition re-validated against the corrupted rows
    assert v2[(mod_part, "dur_range")]["n_violations"] \
        == v1[(mod_part, "dur_range")]["n_violations"] + 2
    assert v2[(mod_part, "dur_range")]["passed"] is False
    # the partition that LOST a row re-validated (count shrank by one)
    assert v2[(drop_part, "dur_range")]["n_rows"] \
        == v1[(drop_part, "dur_range")]["n_rows"] - 1
    # violations table backs the new verdicts
    got = jr2.result.violations.filter(
        (F.col("part_key") == mod_part)
        & (F.col("constraint_id") == "dur_range")
    ).count()
    assert got == v2[(mod_part, "dur_range")]["n_violations"]

    # no prior complete run -> plain full run, no carry-forward lineage
    job2 = ValidationJob(_suite(), str(tmp_path / "job_inc2"))
    jr = job2.run_incremental(new, old, id_col="clip_id", payload=False)
    assert "incremental_from_run" not in jr.manifest.input_lineage


def test_job_incremental_constraint_version_revalidation(
    spark, clips_dir, tmp_path
):
    """Constraint-version-aware incremental: with the DATA unchanged, a
    version-bumped (tightened) check re-runs alone over every untouched
    partition; unchanged checks carry forward verbatim; a removed check's
    stale verdicts are dropped; lineage records what was revalidated."""
    out = str(tmp_path / "job_ver")
    base = (
        load_clips(spark, clips_dir).drop("bytes").limit(800)
        .dropDuplicates(["clip_id"])
    )
    snap_p = str(tmp_path / "snap_v")
    base.write.parquet(snap_p)
    snap = spark.read.parquet(snap_p)

    job = ValidationJob(_suite(), out)
    jr1 = job.run(snap, payload=False, resume=False)
    assert jr1.manifest.status == "complete"

    # v2 suite: dur_range tightened (version bumped), clip_id_unique
    # REMOVED, everything else identical
    max_dur = snap.agg(F.expr("max(dur_ms)")).collect()[0][0]
    tight = int(max_dur) - 1  # guarantees at least one new violation
    suite_v2 = CheckSuite(
        name="job_meta",
        partition_by=["part_key"],
        checks=[
            Check("clip_id_not_null", "not_null", "clip_id", priority=1),
            Check("dur_range", "in_range", "dur_ms",
                  {"min": 1, "max": tight}, version="2", priority=2),
        ],
    )
    job2 = ValidationJob(suite_v2, out)  # same manifest store
    jr2 = job2.run_incremental(snap, snap, id_col="clip_id", payload=False)

    lin = jr2.manifest.input_lineage
    assert lin["incremental_from_run"] == jr1.manifest.run_id
    # removed checks are dropped silently; only still-present changed
    # checks re-run
    assert lin["constraints_revalidated"]["cids"] == ["dur_range"]
    assert lin["constraints_revalidated"]["over_partitions"] >= 3

    v1 = {(r["part_key"], r["constraint_id"]): r
          for r in jr1.result.verdicts.collect()}
    v2 = {(r["part_key"], r["constraint_id"]): r
          for r in jr2.result.verdicts.collect()}
    # exactly one verdict per (part, cid): no double rows from the merge
    assert len(v2) == len(jr2.result.verdicts.collect())
    # the removed check's verdicts are gone
    assert not any(cid == "clip_id_unique" for _, cid in v2)
    # unchanged check carried forward verbatim on every partition
    for (pk, cid), r in v2.items():
        if cid == "clip_id_not_null" and pk != GLOBAL_PART:
            assert r["n_violations"] == v1[(pk, cid)]["n_violations"]
    # the bumped check was RECOMPUTED under the tightened bound: total
    # violations strictly exceed the v1 run's
    tot1 = sum(r["n_violations"] for (pk, cid), r in v1.items()
               if cid == "dur_range")
    tot2 = sum(r["n_violations"] for (pk, cid), r in v2.items()
               if cid == "dur_range")
    assert tot2 > tot1
    # full partition coverage for the recomputed check
    parts = {r["part_key"] for r in
             snap.select("part_key").distinct().collect()}
    assert parts <= {pk for (pk, cid) in v2 if cid == "dur_range"}
    # violations table backs the recomputed verdicts
    viol = jr2.result.violations.filter(
        F.col("constraint_id") == "dur_range").count()
    assert viol == tot2

    # same suite re-run (no version change, no data change): nothing
    # revalidates, everything carries forward
    jr3 = job2.run_incremental(snap, snap, id_col="clip_id", payload=False)
    assert "constraints_revalidated" not in jr3.manifest.input_lineage


def test_job_cli_main_with_baseline_and_catalog(spark, clips_dir, tmp_path):
    """The spark-submit CLI reaches the FULL suite: --baseline enables the
    drift checks and --catalog the referential check (both were previously
    library-only), --no-payload runs metadata-only, and the reports land."""
    import json as _json

    from doc_quality_check_spark.suite import job as jobmod

    suite_json = {
        "name": "cli_full",
        "partition_by": ["part_key"],
        "checks": [
            {"constraint_id": "id_nn", "kind": "not_null",
             "column": "clip_id", "priority": 1},
            {"constraint_id": "sr_drift", "kind": "drift_psi",
             "column": "sr_hz", "params": {"max_psi": 0.25}},
            {"constraint_id": "transcript_ref", "kind": "referential",
             "column": "clip_id", "params": {}},
        ],
    }
    spath = tmp_path / "suite.json"
    spath.write_text(_json.dumps(suite_json))
    out = str(tmp_path / "cli_out")

    jobmod.main([
        os.path.join(clips_dir, "clips.parquet"), out, str(spath),
        "--baseline", os.path.join(clips_dir, "baseline_snapshot.parquet"),
        "--catalog", os.path.join(clips_dir, "transcript_catalog.parquet"),
        "--no-payload", "--no-resume",
    ])
    verd = spark.read.parquet(os.path.join(out, "run_000001", "verdicts"))
    cids = {r["constraint_id"] for r in verd.collect()}
    # the side-table-dependent checks actually RAN (not pruned)
    assert {"id_nn", "sr_drift", "transcript_ref"} <= cids
    assert os.path.isdir(os.path.join(out, "reports"))

    # without the flags the same suite prunes drift + referential (the
    # library contract) instead of crashing
    out2 = str(tmp_path / "cli_out2")
    jobmod.main([
        os.path.join(clips_dir, "clips.parquet"), out2, str(spath),
        "--no-payload",
    ])
    verd2 = spark.read.parquet(os.path.join(out2, "run_000001", "verdicts"))
    cids2 = {r["constraint_id"] for r in verd2.collect()}
    assert "sr_drift" not in cids2 and "transcript_ref" not in cids2

    # flag errors are clean SystemExits, not tracebacks mid-Spark
    with pytest.raises(SystemExit):
        jobmod.main(["clips_only"])
    with pytest.raises(SystemExit):
        jobmod.main(["a", "b", "--baseline"])


def test_job_cli_main_default_suite(spark, clips_dir, tmp_path, capsys):
    """The spark-submit entry without a SUITE.json runs default_suite on a
    parquet directory and reports the run; argument errors exit with
    their message before any Spark work."""
    from doc_quality_check_spark.suite import job as jobmod

    src = str(tmp_path / "clips")
    load_clips(spark, clips_dir).drop("bytes").limit(300).write.parquet(src)
    out = str(tmp_path / "cli_default")
    jobmod.main([src, out, "--no-payload", "--no-resume"])
    assert "run 1 complete" in capsys.readouterr().out
    verd = spark.read.parquet(os.path.join(out, "run_000001", "verdicts"))
    assert verd.filter(F.col("constraint_id") == "clip_id_not_null").count() > 0

    with pytest.raises(SystemExit, match="requires a path argument"):
        jobmod.main([src, out, "--baseline"])
    with pytest.raises(SystemExit, match="usage: job.py CLIPS OUT_DIR"):
        jobmod.main([src])


def test_latest_green_baseline_promotion(spark, clips_dir, tmp_path):
    """Managed drift baselines (round-4 verdict order #6): a fully-green
    run auto-promotes its histogram snapshot into the manifest trail;
    baseline="latest-green" resolves it on the next run, drift scores
    against it (self-drift ~0), and the manifest records which baseline
    was used. A grouped (per-partition) snapshot also serves the flat
    drift check via the runner's collapse."""
    from doc_quality_check_spark.suite.spec import Check

    clips = load_clips(spark, clips_dir).drop("bytes")
    suite = CheckSuite(
        name="managed_baseline",
        partition_by=["part_key"],
        checks=[
            Check("id_nn", "not_null", "clip_id", priority=1),
            Check("sr_drift_pp", "drift_psi", "sr_hz",
                  {"max_psi": 0.2, "per_partition": True}),
            Check("sr_drift_flat", "drift_psi", "sr_hz", {"max_psi": 0.2}),
        ],
    )
    job = ValidationJob(suite, str(tmp_path / "mb_out"))

    # run 1: fresh trail — latest-green resolves to nothing, drift prunes,
    # the green run promotes its snapshot
    jr1 = job.run(clips, baseline="latest-green", payload=False, resume=False)
    lin1 = jr1.manifest.input_lineage
    assert lin1["baseline"] == {"source": "latest-green", "resolved": False}
    promo = lin1["baseline_promoted"]
    assert promo["columns"] == ["sr_hz"] and promo["grouped"] is True
    assert os.path.isdir(promo["path"])
    cids1 = {r["constraint_id"]
             for r in jr1.result.verdicts.select("constraint_id").collect()}
    assert "sr_drift_pp" not in cids1  # pruned: no baseline yet
    jr1.result.unpersist()

    # run 2: latest-green resolves run 1's snapshot; both drift shapes score
    jr2 = job.run(clips, baseline="latest-green", payload=False, resume=False)
    lin2 = jr2.manifest.input_lineage
    assert lin2["baseline"]["from_run"] == jr1.manifest.run_id
    assert lin2["baseline"]["path"] == promo["path"]
    rows = {(r["constraint_id"], r["part_key"]): r
            for r in jr2.result.verdicts.collect()}
    drift_rows = [v for (cid, _), v in rows.items() if cid == "sr_drift_pp"]
    assert drift_rows and all(v["passed"] for v in drift_rows)
    flat = [v for (cid, pk), v in rows.items()
            if cid == "sr_drift_flat" and pk == GLOBAL_PART]
    assert len(flat) == 1 and flat[0]["passed"] and flat[0]["metric_value"] < 1e-9
    # run 2 was green too -> it promotes its own snapshot, advancing the trail
    assert lin2["baseline_promoted"]["path"].endswith(
        f"run_{jr2.manifest.run_id:06d}/baseline_snapshot")
    jr2.result.unpersist()


def test_job_cli_suggest_drift(spark, clips_dir, tmp_path, capsys):
    """--suggest-drift profiles the input once and prints the bin-width
    spec + paste-ready drift-check JSON instead of running the suite."""
    import json as _json

    from doc_quality_check_spark.suite import job as jobmod

    out = str(tmp_path / "sd_out")
    jobmod.main([
        os.path.join(clips_dir, "clips.parquet"), out, "--suggest-drift",
    ])
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    spec = payload["bin_width"]
    # continuous column -> a 1-2-5 width; categorical string -> None
    assert isinstance(spec["dur_ms"], (int, float)) and spec["dur_ms"] > 0
    assert spec["codec"] is None
    # identifier-like / free-text columns must NOT become drift checks: a
    # pasted clip_id_drift would fail every run and block baseline
    # promotion forever (round-5 review finding)
    assert "clip_id" not in spec and "transcript" not in spec
    by_col = {c["column"]: c for c in payload["drift_checks"]}
    assert by_col["dur_ms"]["params"]["bin_width"] == spec["dur_ms"]
    assert "bin_width" not in by_col["codec"]["params"]
    assert "clip_id" not in by_col
    # no suite ran: no manifests / reports were written
    assert not os.path.isdir(os.path.join(out, "manifests"))


def test_quarantine_split_and_sink(spark, clips_dir, tmp_path):
    """split_quarantine partitions the input exactly: quarantined rows
    carry the sorted failed-constraint list matching the violations table,
    clean rows have zero violations, and --quarantine lands the
    reprocessing parquet with its manifest record."""
    from doc_quality_check_spark.suite.report import split_quarantine
    from doc_quality_check_spark.suite.spec import default_suite

    clips = load_clips(spark, clips_dir).drop("bytes")
    job = ValidationJob(default_suite(), str(tmp_path / "q_out"))
    jr = job.run(clips, payload=False, resume=False, quarantine=True)

    clean, bad = split_quarantine(clips, jr.result.violations)
    n_in, n_clean, n_bad = clips.count(), clean.count(), bad.count()
    assert n_in == n_clean + n_bad and n_bad > 0
    # quarantine lists match the violation table exactly
    from collections import defaultdict

    want = defaultdict(set)
    for r in jr.result.violations.select("clip_id", "constraint_id").collect():
        want[r["clip_id"]].add(r["constraint_id"])
    got = {r["clip_id"]: r["failed_constraints"] for r in bad.collect()}
    assert set(got) == set(want)
    for cid, fcs in got.items():
        assert fcs == sorted(want[cid])
    # clean rows really are violation-free
    assert clean.join(
        jr.result.violations.select("clip_id").distinct(), "clip_id", "inner"
    ).count() == 0
    # the sink landed and the manifest records it
    q = jr.manifest.input_lineage["quarantine"]
    assert q["n_rows"] == n_bad
    disk = spark.read.parquet(q["path"])
    assert disk.count() == n_bad and "failed_constraints" in disk.columns
    jr.result.unpersist()
