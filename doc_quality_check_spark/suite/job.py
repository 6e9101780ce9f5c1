"""ValidationJob — the deployable unit: suite + manifest + reports.

The Spark translation of the reference CLI's full lifecycle
(/root/reference/test_readability.py:887-1044: scan → per-file checks →
report folder with auto-increment run id → HTML/TXT reports → console
summary), extended with the north rule's checkpoint/resume semantics:

1. start a manifest run (auto-increment id, input lineage, constraint
   versions — suite/manifest.py);
2. skip partitions the latest complete-or-crashed run already validated
   (resume = anti-join on the manifest's completed partition set, which
   partition-prunes because part_key is the table's partition column);
3. run the SuiteRunner; record per-partition verdict metrics back into the
   manifest as they materialize;
4. write violation rows + verdict rows as parquet result tables and render
   the TXT/HTML/JSON reports with the reference's report_<id>_<ts> naming.

Deployment: ``spark-submit --py-files dist/dqcs.zip
doc_quality_check_spark/suite/job.py <clips_path_or_table> <out_dir>``
(build the zip with tools/make_pyfiles.py) — see __main__ at the bottom.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from doc_quality_check_spark.suite.manifest import (
    ManifestStore,
    RunManifest,
    schema_evolution_diff,
)
from doc_quality_check_spark.suite.report import (
    collect_results,
    collect_violation_sample,
    export_json,
    render_html,
    render_txt,
    write_report,
)
from doc_quality_check_spark.suite.runner import RunResult, SuiteRunner
from doc_quality_check_spark.suite.spec import CheckSuite, default_suite


@dataclass
class JobResult:
    manifest: RunManifest
    result: RunResult
    report_paths: dict[str, str]


class ValidationJob:
    def __init__(self, suite: CheckSuite, out_dir: str):
        self.suite = suite
        self.out_dir = out_dir
        self.manifests = ManifestStore(os.path.join(out_dir, "manifests"))

    # ------------------------------------------------------------------
    def run(
        self,
        clips: DataFrame,
        catalog: DataFrame | None = None,
        baseline: DataFrame | str | None = None,
        payload: bool = True,
        resume: bool = True,
        input_files: list[str] | None = None,
        lineage: dict | None = None,
        formats: tuple[str, ...] = ("txt", "html", "json"),
        quarantine: bool = False,
        _merge_prev: tuple[RunManifest, list[str]] | None = None,
        _revalidate_cids: set[str] | None = None,
    ) -> JobResult:
        # managed drift baselines: baseline="latest-green" resolves the most
        # recent fully-green run's promoted snapshot from the manifest trail
        # (see _promote_baseline below) — the reference's old-vs-new
        # comparison workflow (docs/THRESHOLD_ANALYSIS_REPORT.md:53-105)
        # implies a managed baseline rather than a hand-curated path
        baseline_lineage: dict | None = None
        if isinstance(baseline, str):
            baseline, baseline_lineage = self.resolve_baseline(
                clips.sparkSession, baseline
            )
        elif baseline is not None:
            baseline_lineage = {"source": "explicit"}
        # checks whose reference inputs are absent are pruned (never crash a
        # run for a missing side-table; the verdict simply isn't produced)
        effective = [
            c for c in self.suite.checks
            if not (c.kind == "referential" and catalog is None)
            and not (c.kind.startswith("drift_") and baseline is None)
        ]
        suite = self.suite
        if len(effective) != len(suite.checks):
            suite = CheckSuite(
                name=suite.name, checks=effective,
                partition_by=suite.partition_by, settings=suite.settings,
            )

        completed: list[str] = []
        prev = None
        resume_rejected: str | None = None
        if _merge_prev is not None:
            # run_incremental: skip the given partitions and carry their
            # verdicts/violations forward from the given COMPLETE run
            prev, completed = _merge_prev
        elif resume:
            prev = self.manifests.latest()
            if prev is not None and prev.status != "complete":
                completed = self.manifests.completed_partitions(prev)
                # resume is only sound if the input is STILL the table the
                # crashed run validated: a schema change in between means
                # the carried verdicts describe different data — fall back
                # to a full run rather than merge stale partitions
                prev_schema = prev.input_lineage.get("schema")
                cur_schema_chk = {
                    f.name: f.dataType.simpleString() for f in clips.schema.fields
                }
                if prev_schema is not None and prev_schema != cur_schema_chk:
                    completed = []
                    resume_rejected = "schema_changed_since_crashed_run"
        m = self.manifests.start_run(suite, input_files=input_files)
        if _merge_prev is not None and prev is not None:
            m.input_lineage["incremental_from_run"] = prev.run_id
        if lineage:
            # source lineage (Iceberg snapshot id / parquet file list) from
            # sources.iceberg.snapshot_lineage — the north rule's
            # per-run (snapshot-id, file list, constraint versions) record
            m.input_lineage["source"] = lineage
        if completed:
            m.input_lineage["resumed_from_partitions"] = sorted(completed)
        if resume_rejected:
            m.input_lineage["resume_rejected"] = resume_rejected
        if baseline_lineage is not None:
            # which baseline this run's drift checks scored against —
            # auditable from the trail, whether explicit or auto-resolved
            m.input_lineage["baseline"] = baseline_lineage

        # schema-evolution guard: record this run's input schema and diff it
        # against the last COMPLETE run's, so a snapshot that silently
        # gained/lost/re-typed a column shows in the manifest trail even when
        # every value-level check still passes (pure metadata, no Spark job)
        cur_schema = {f.name: f.dataType.simpleString() for f in clips.schema.fields}
        m.input_lineage["schema"] = cur_schema
        base_m = (
            prev if (prev is not None and prev.status == "complete")
            else self.manifests.latest_complete()
        )
        prev_schema = base_m.input_lineage.get("schema") if base_m else None
        if prev_schema is not None:
            m.input_lineage["schema_evolution"] = {
                "vs_run": base_m.run_id,
                **schema_evolution_diff(prev_schema, cur_schema),
            }
        # ONE write for every pre-run lineage field (each save rewrites the
        # whole manifest file; interleaved saves just add partially-populated
        # on-disk states to reason about after a crash)
        self.manifests.save(m)

        runner = SuiteRunner(suite)
        t_run = time.perf_counter()
        res = runner.run(
            clips,
            catalog=catalog,
            baseline=baseline,
            payload=payload,
            completed_partitions=completed or None,
        )

        # constraint-version-aware incremental (run_incremental): a check
        # whose VERSION changed since the prior run is stale on every
        # carried-forward partition — re-run JUST that check over the
        # untouched partitions (the touched ones re-validated in full above;
        # table-level checks always recompute globally) instead of
        # re-validating everything. The prior-run merge below excludes the
        # same cids, so the union is exactly one verdict per (part, cid).
        revalidate = set(_revalidate_cids or ())
        reval_checks = [
            c for c in suite.checks
            if c.constraint_id in revalidate and c.is_row_level
        ]
        sub_res = None
        if reval_checks and completed:
            from doc_quality_check_spark.suite.runner import part_key_col

            sub_suite = CheckSuite(
                name=f"{suite.name}__reval",
                checks=reval_checks,
                partition_by=suite.partition_by,
                settings=suite.settings,
            )
            pk = part_key_col(suite.partition_by)
            sub_res = SuiteRunner(sub_suite).run(
                clips.filter(pk.isin(list(completed))),
                payload=payload,
            )
            res.verdicts = res.verdicts.unionByName(sub_res.verdicts)
            res.violations = res.violations.unionByName(
                sub_res.violations.select(*res.violations.columns)
            )
            m.input_lineage["constraints_revalidated"] = {
                "cids": sorted(c.constraint_id for c in reval_checks),
                "over_partitions": len(completed),
            }
        run_sec = time.perf_counter() - t_run

        # Merge the prior (crashed) run's per-partition verdicts for the
        # partitions this run skipped, so a resumed run's verdict table has
        # FULL coverage of the input, not just the remainder. Global
        # ("__global__") verdicts are recomputed on the full input by the
        # runner and are never merged from the prior run.
        if completed and prev is not None:
            from doc_quality_check_spark.suite.runner import VERDICT_SCHEMA

            # table-level checks ALWAYS recompute on the full input — their
            # verdicts must not also merge from the prior run (per-partition
            # drift rows carry real part_keys and would duplicate otherwise).
            # From the UNPRUNED suite: a check pruned THIS run (no baseline/
            # catalog passed) must not sneak stale verdicts in via the merge.
            table_cids = {
                c.constraint_id for c in self.suite.checks if not c.is_row_level
            }
            prior_rows = []
            for pk in completed:
                for cid, v in prev.partitions.get(pk, {}).get("checks", {}).items():
                    # version-changed / added / removed constraints never
                    # carry forward: changed ones were just recomputed by the
                    # revalidation pass above, removed ones no longer exist
                    if cid in table_cids or cid in revalidate:
                        continue
                    prior_rows.append((
                        pk, cid,
                        None if v.get("n_rows") is None else int(v["n_rows"]),
                        None if v.get("n_violations") is None else int(v["n_violations"]),
                        v.get("passed"),
                        None if v.get("metric_value") is None else float(v["metric_value"]),
                    ))
            if prior_rows:
                prior_df = clips.sparkSession.createDataFrame(prior_rows, VERDICT_SCHEMA)
                res.verdicts = res.verdicts.unionByName(prior_df)
            # Merge the prior run's VIOLATION rows for the skipped partitions
            # too (violations carry part_key since round 2), so the resumed
            # run's violations table backs every merged verdict. If the prior
            # run crashed before its violations parquet was written, only the
            # manifest's verdict metrics survive — recorded, not invented.
            prev_viol = os.path.join(
                self.out_dir, f"run_{prev.run_id:06d}", "violations")
            if os.path.isdir(prev_viol):
                from py4j.protocol import Py4JJavaError
                from pyspark.errors import AnalysisException
                from pyspark.sql import functions as F

                try:
                    pv = clips.sparkSession.read.parquet(prev_viol)
                except (AnalysisException, Py4JJavaError) as exc:
                    # a write cut short leaves no data file (only
                    # _temporary/: AnalysisException, schema not inferable)
                    # or a file that is not parquet (the footer read fails:
                    # Py4JJavaError) — merge nothing and say so
                    m.input_lineage["prior_violations_merge_skipped"] = {
                        "run_id": prev.run_id,
                        "error": type(exc).__name__,
                    }
                else:
                    if "part_key" in pv.columns:
                        keep = pv.filter(F.col("part_key").isin(completed))
                        if revalidate:
                            # changed-version constraints' violation rows
                            # were recomputed by the revalidation pass
                            keep = keep.filter(
                                ~F.col("constraint_id").isin(list(revalidate))
                            )
                        res.violations = res.violations.unionByName(
                            keep.select(*res.violations.columns)
                        )

        # materialize result tables (violations first: triggers the cached
        # metrics pass), then record per-partition metrics in the manifest.
        # Each lazy plan is computed exactly once, by its write: from here on
        # the written parquet IS the result, and every later sink (verdict
        # rows, summary, violation sample, quarantine) reads it instead of
        # recomputing the verdict groupBy shuffle or the violation union
        viol_path = os.path.join(self.out_dir, f"run_{m.run_id:06d}", "violations")
        verd_path = os.path.join(self.out_dir, f"run_{m.run_id:06d}", "verdicts")
        spark = clips.sparkSession
        t_write = time.perf_counter()
        res.violations.write.mode("overwrite").parquet(viol_path)
        res.verdicts.write.mode("overwrite").parquet(verd_path)
        write_sec = time.perf_counter() - t_write
        res.violations = spark.read.parquet(viol_path)
        res.verdicts = spark.read.parquet(verd_path)
        # one collect feeds the manifest, baseline promotion and every report
        verdict_rows, summary = collect_results(
            res.verdicts, res.summary if formats else None)
        if sub_res is not None:
            # the revalidation sub-run's checked cache served its purpose
            # once the unions above are written — release it rather than
            # pinning a payload-decoded cache of the carried-forward
            # partitions for the application lifetime
            sub_res.unpersist()
        self.manifests.record_partitions(m, verdict_rows)
        # per-operator timing in the manifest — the reference returns wall
        # time with every metric (clarity_check.py:21,37; SURVEY.md F20)
        m.input_lineage["timing_sec"] = {
            "suite_run": round(run_sec, 3),
            "result_write": round(write_sec, 3),
            # per-table-check wall seconds (F20 parity: the reference returns
            # elapsed time with every metric)
            "table_checks": dict(res.table_metrics),
        }
        if runner.effective_payload_mode is not None:
            m.input_lineage["payload_mode"] = runner.effective_payload_mode
        self._promote_baseline(res, verdict_rows, m, bool(completed))
        self.manifests.save(m)

        ts = time.strftime("%Y%m%d_%H%M%S", time.gmtime())
        paths = {}
        rep_dir = os.path.join(self.out_dir, "reports")
        # sample once: both renderers consume the same collected rows
        # (collect_violation_sample passes a list straight through)
        vio_sample = None
        if {"txt", "html"} & set(formats):
            vio_sample = collect_violation_sample(res.violations)
        for fmt in formats:
            if fmt == "txt":
                content = render_txt(verdict_rows, summary, vio_sample,
                                     suite.name, m.run_id)
            elif fmt == "html":
                content = render_html(verdict_rows, summary, vio_sample,
                                      suite.name, m.run_id)
            else:
                content = export_json(verdict_rows, summary,
                                      suite.name, m.run_id)
            paths[fmt] = write_report(rep_dir, fmt, content, m.run_id, ts)

        if quarantine:
            # quarantined rows (+ their failed-constraint lists) land as a
            # reprocessing table next to the run's other result tables; the
            # clean complement stays a lazy view (split_quarantine) — at
            # scale rewriting every passing payload is the caller's choice,
            # not a default
            from doc_quality_check_spark.suite.report import split_quarantine

            _, bad = split_quarantine(clips, res.violations)
            q_path = os.path.join(
                self.out_dir, f"run_{m.run_id:06d}", "quarantine"
            )
            bad.write.mode("overwrite").parquet(q_path)
            m.input_lineage["quarantine"] = {
                "path": q_path,
                "n_rows": spark.read.parquet(q_path).count(),
            }
            self.manifests.save(m)
        self.manifests.finish_run(m, "complete")
        # every sink is materialized and the result tables already read
        # their written parquet: release the heavyweight extras (resume
        # re-decode, payload_neardup) NOW — a long-lived service looping
        # job.run() must not pin one full-table decode cache per run
        # (round-5 review finding; res.checked stays cached for the caller,
        # released by RunResult.unpersist())
        for cached in res.extra_caches:
            cached.unpersist()
        res.extra_caches = []
        return JobResult(manifest=m, result=res, report_paths=paths)

    # ------------------------------------------------------------------
    def resolve_baseline(self, spark, ref: str):
        """Resolve a symbolic baseline reference against the manifest trail.

        ``"latest-green"``: the newest COMPLETE run that promoted a baseline
        snapshot (every verdict passed — see :meth:`_promote_baseline`).
        Returns (DataFrame|None, lineage dict); no promoted baseline yet →
        (None, ...) and the drift checks prune exactly as with no baseline,
        so the first run of a fresh trail bootstraps itself."""
        if ref != "latest-green":
            raise ValueError(
                f"unknown baseline reference {ref!r} (supported: latest-green)"
            )
        from doc_quality_check_spark.suite.history import load_manifests

        for man in reversed(load_manifests(self.manifests)):
            promo = man.get("input_lineage", {}).get("baseline_promoted")
            if man.get("status") == "complete" and promo:
                df = spark.read.parquet(promo["path"])
                return df, {
                    "source": "latest-green",
                    "from_run": int(man["run_id"]),
                    "path": promo["path"],
                    "columns": promo.get("columns"),
                }
        return None, {"source": "latest-green", "resolved": False}

    def _promote_baseline(
        self, res: RunResult, verdict_rows: list[dict], m: RunManifest,
        resumed: bool,
    ) -> None:
        """Promote this run's histogram snapshot to a drift baseline when
        the run is FULLY green (every verdict passed) and covered the whole
        input (not a resume/incremental merge — a partial run's snapshot
        would describe a partial table). The snapshot covers exactly the
        suite's drift-checked columns with their declared bin widths, in the
        grouped (part_key) layout when any drift check is per-partition, and
        lands next to the run's result tables; the manifest records its
        lineage so ``baseline="latest-green"`` can resolve it."""
        from doc_quality_check_spark.suite.runner import _param_bool

        drift_checks = [
            c for c in self.suite.checks
            if c.kind.startswith("drift_") and c.column
        ]
        if not drift_checks or resumed:
            return
        if not verdict_rows or not all(bool(r["passed"]) for r in verdict_rows):
            return
        cols = sorted(
            {c.column for c in drift_checks if c.column in res.checked.columns}
        )
        if not cols:
            return
        from doc_quality_check_spark.operators.aggregates import (
            snapshot_histograms,
        )

        # conflicting widths on one column can never score both checks
        # against one snapshot (bucket labels wouldn't align — every bucket
        # would look added/removed, spurious max drift): keep such columns
        # OUT of the promoted snapshot and record why, rather than silently
        # promoting whichever check iterated last (round-5 review finding)
        widths: dict[str, set] = {}
        for c in drift_checks:
            if c.params.get("bin_width") is not None:
                widths.setdefault(c.column, set()).add(
                    float(c.params["bin_width"])
                )
        conflicted = sorted(col for col, ws in widths.items() if len(ws) > 1)
        if conflicted:
            cols = [c for c in cols if c not in conflicted]
            if not cols:
                m.input_lineage["baseline_promotion_skipped"] = {
                    "bin_width_conflicts": conflicted
                }
                return
        bin_width = {
            col: next(iter(ws))
            for col, ws in widths.items()
            if len(ws) == 1 and col in cols
        }
        per_part = bool(self.suite.partition_by) and any(
            _param_bool(c.params.get("per_partition", False))
            for c in drift_checks
        )
        src = res.checked
        if per_part and "part_key" not in src.columns:
            from doc_quality_check_spark.suite.runner import part_key_col

            src = src.withColumn(
                "part_key", part_key_col(self.suite.partition_by)
            )
        snap = snapshot_histograms(
            src, cols,
            group_col="part_key" if per_part else None,
            bin_width=bin_width or None,
        )
        path = os.path.join(
            self.out_dir, f"run_{m.run_id:06d}", "baseline_snapshot"
        )
        snap.write.mode("overwrite").parquet(path)
        m.input_lineage["baseline_promoted"] = {
            "path": path,
            "columns": cols,
            "bin_width": bin_width,
            "grouped": per_part,
            **(
                {"bin_width_conflicts_skipped": conflicted}
                if conflicted else {}
            ),
        }

    # ------------------------------------------------------------------
    def run_incremental(
        self,
        clips: DataFrame,
        prev_clips: DataFrame,
        id_col: str = "clip_id",
        compare_cols: list[str] | None = None,
        **run_kwargs,
    ) -> JobResult:
        """Incremental re-validation between two snapshots: diff ``clips``
        (the new snapshot) against ``prev_clips`` (the snapshot the latest
        COMPLETE run validated) with :func:`operators.joins.snapshot_diff`,
        re-validate IN FULL only the partitions touched by added, changed,
        or removed rows, and carry every untouched partition's verdicts and
        violation rows forward from that run. At 10^12 rows a daily
        snapshot touches a few partitions; the full-table re-run this
        replaces is the dominant cost of continuous validation.

        PARTITION granularity, not row granularity: every row check's
        verdict aggregates per partition, so a partially re-validated
        partition could not merge with its prior verdict. A partition that
        lost rows (removed) is re-validated too — its counts changed even
        though no surviving row did. Table-level (__global__) checks always
        recompute on the full input, exactly as in resume. Falls back to a
        plain full run when there is no prior complete run or the suite is
        unpartitioned (the whole table is then one work unit).

        ``compare_cols`` defaults to every column the snapshots share
        except ``id_col`` (binary payloads compare by equality); prune it
        to the checked subset to narrow the diff shuffle.

        CONSTRAINT versions are diffed too (the manifest records the
        constraint_id→version map every run): a check whose ``version``
        changed — or a brand-new check — cannot carry its verdicts forward,
        so it alone is re-run over the untouched partitions while everything
        else still skips them; a removed check's stale verdicts are dropped.
        The manifest lineage records ``constraints_revalidated``. Bump
        ``Check.version`` when you change a threshold/params — the version
        string IS the change signal (params are not content-hashed)."""
        from doc_quality_check_spark.operators.joins import snapshot_diff
        from doc_quality_check_spark.suite.runner import part_key_col

        prev_m = self.manifests.latest_complete()
        part_cols = self.suite.partition_by
        if prev_m is None or not part_cols:
            return self.run(clips, resume=False, **run_kwargs)
        # same soundness rule as crash-resume: carried verdicts describe the
        # table the prior run validated — if the schema changed since (a
        # re-typed column coerces through snapshot_diff's NULL-safe compare,
        # an added column is excluded from compare_cols entirely), fall back
        # to a full run; the manifest's schema_evolution block records why
        prev_schema = prev_m.input_lineage.get("schema")
        cur_schema = {f.name: f.dataType.simpleString() for f in clips.schema.fields}
        if prev_schema is not None and prev_schema != cur_schema:
            return self.run(clips, resume=False, **run_kwargs)
        if compare_cols is None:
            shared = set(prev_clips.columns) & set(clips.columns)
            compare_cols = sorted(shared - {id_col})
        else:
            # the partition columns are never optional in the diff: a row
            # whose ONLY change is its partition value moves between
            # partitions, and if the pruned compare set misses that, neither
            # the old nor the new partition is marked touched and both keep
            # stale verdicts — so union them in rather than trusting callers
            missing = [
                c
                for c in part_cols
                if c not in compare_cols and c in clips.columns
            ]
            compare_cols = list(compare_cols) + missing
        # persist: the diff is ONE full-outer shuffle of both snapshots (the
        # feature's dominant cost) and both semi-joins below consume it —
        # uncached it would be computed twice
        ids = (
            snapshot_diff(prev_clips, clips, [id_col], compare_cols)
            .select(id_col)
            .persist()
        )
        pk = part_key_col(part_cols).alias("part_key")
        touched = {
            r["part_key"]
            for r in (
                clips.join(ids, id_col, "left_semi").select(pk)
                .union(prev_clips.join(ids, id_col, "left_semi").select(pk))
                .distinct()
                .collect()
            )
        }
        ids.unpersist()
        unchanged = [
            p
            for p in self.manifests.completed_partitions(prev_m)
            if p not in touched
        ]
        # changed/added versions re-run over the unchanged partitions;
        # removed cids are simply never merged (their verdicts describe a
        # constraint that no longer exists)
        prev_versions = prev_m.constraint_versions or {}
        cur_versions = self.suite.versions()
        stale_cids = {
            cid
            for cid, ver in cur_versions.items()
            if prev_versions.get(cid) != ver
        } | (set(prev_versions) - set(cur_versions))
        return self.run(
            clips,
            resume=False,
            _merge_prev=(prev_m, unchanged),
            _revalidate_cids=stale_cids or None,
            **run_kwargs,
        )


def main(argv: list[str]) -> None:
    """spark-submit entry: validate a clips table (Iceberg identifier or
    parquet path).

    Usage::

        spark-submit --py-files dist/dqcs.zip \\
            doc_quality_check_spark/suite/job.py CLIPS OUT_DIR [SUITE.json]
            [--baseline PATH|latest-green] [--catalog PATH]
            [--no-payload] [--no-resume] [--suggest-drift] [--quarantine]

    ``--baseline``: histogram snapshot table (snapshot_histograms layout)
    enabling the suite's drift checks, or the literal ``latest-green`` to
    resolve the newest fully-green run's auto-promoted snapshot from this
    OUT_DIR's manifest trail; ``--catalog``: reference transcript catalog
    enabling referential checks — without them those checks are pruned
    (the library contract), so this is what makes the FULL suite reachable
    from the command line. ``--no-payload``: metadata-only run.
    ``--suggest-drift``: profile the input once and print the recommended
    ``{column: bin_width}`` drift spec plus ready-to-paste drift-check JSON
    (suite/suggest.suggest_drift_spec) instead of running the suite.
    ``--quarantine``: also write the violating rows + their
    failed-constraint lists as run_<id>/quarantine parquet (the
    reprocessing table; suite/report.split_quarantine).
    SUITE.json defaults to the built-in default_suite."""
    from doc_quality_check_spark.sources.iceberg import (
        load_clips_table,
        snapshot_lineage,
    )
    from doc_quality_check_spark.suite.spec import CheckSuite

    flags = {"--baseline": None, "--catalog": None}
    payload, resume, suggest_drift, quarantine = True, True, False, False
    pos: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a in flags:
            if i + 1 >= len(argv):
                raise SystemExit(f"{a} requires a path argument")
            flags[a] = argv[i + 1]
            i += 2
        elif a == "--no-payload":
            payload = False
            i += 1
        elif a == "--no-resume":
            resume = False
            i += 1
        elif a == "--suggest-drift":
            suggest_drift = True
            i += 1
        elif a == "--quarantine":
            quarantine = True
            i += 1
        else:
            pos.append(a)
            i += 1
    if len(pos) < 2:
        raise SystemExit("usage: job.py CLIPS OUT_DIR [SUITE.json] [options]")
    clips_src, out_dir = pos[0], pos[1]
    if len(pos) > 2:
        with open(pos[2]) as fh:
            suite = CheckSuite.from_json(fh.read())
    else:
        suite = default_suite()
    spark = SparkSession.builder.appName("dqcs-validate").getOrCreate()
    clips = load_clips_table(spark, clips_src)
    if suggest_drift:
        # one profiling pass -> the bin-width spec + paste-ready drift
        # checks; no suite run (the workflow: suggest, snapshot with these
        # widths, add the checks, then validate with --baseline)
        import json as _json

        from doc_quality_check_spark.suite.suggest import suggest_drift_spec

        spec = suggest_drift_spec(clips)
        checks = [
            {
                "constraint_id": f"{col}_drift",
                "kind": "drift_psi",
                "column": col,
                "params": (
                    {"max_psi": 0.2, "bin_width": bw}
                    if bw is not None else {"max_psi": 0.2}
                ),
            }
            for col, bw in spec.items()
        ]
        print(_json.dumps({"bin_width": spec, "drift_checks": checks}))
        return
    baseline = (
        flags["--baseline"]
        if flags["--baseline"] == "latest-green"
        else load_clips_table(spark, flags["--baseline"])
        if flags["--baseline"] else None
    )
    catalog = (
        load_clips_table(spark, flags["--catalog"])
        if flags["--catalog"] else None
    )
    job = ValidationJob(suite, out_dir)
    jr = job.run(
        clips,
        catalog=catalog,
        baseline=baseline,
        payload=payload,
        resume=resume,
        input_files=[clips_src],
        lineage=snapshot_lineage(spark, clips_src),
        quarantine=quarantine,
    )
    print(f"run {jr.manifest.run_id} complete; reports: {jr.report_paths}")


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
