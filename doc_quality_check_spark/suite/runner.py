"""Suite runner — the engine's execution spine.

Physical plan (the Spark translation of the reference's CLI lifecycle,
/root/reference/test_readability.py:887-1044, SURVEY.md §3.1): the per-file
``for`` loop disappears — the table is the loop.

  clips ── one decode pass per demanded modality (``_MODALITIES``, in
           table order: audio, image, video; each a vectorized pass that
           drops its payload column)
        ── with_row_checks (pure Catalyst predicates + reason/status)
        ── persist  (decode-once cache: the reference's session_state reuse,
                     app.py:317-320; verdicts re-project cheaply)
        ├─ row violations        (filter + explode, one pass)
        ├─ per-partition verdicts (single groupBy(part_key) w/ conditional
        │                          sums, unpivoted to long form)
        ├─ table-level checks    (uniqueness / referential / completeness /
        │                         drift / ... — each its own small aggregate,
        │                         the scalar ones fused into one)
        └─ global summary        (one agg)

Table checks run in one thread pool after a barrier count of the cache.
Every task returns one shape, a verdict frame (VERDICT_COLS; one global row,
or one row per part_key) plus an optional violations frame; the pool
persists and counts each verdict frame once, so ``table_metrics`` times the
check's execution and the verdict union reads only cached frames. Global
drift runs in the per-partition drift branch as the no-group case of the
same statistic, whose one-row aggregate needs no group. The warn-severity
rule is one Column rewrite over the final verdict union. Lifecycle: the
resume re-decode is released when the pool ends; the verdict frames and
payload_neardup's redundant set are released with the result
(``RunResult.unpersist``).

A check demands a modality's decode when its kind is one of that
modality's row kinds or it references one of its metric columns
(``_demands``); a metric column the raw table already carries is the raw
column, not a decode trigger. The audio pass keeps its F5 mode dispatch
(``with_payload_metrics``) and always decodes ``bytes``; image and video
decode the one payload column their row kinds name. ``bytes`` is dropped
before the first pass unless a pass consumes it, so the audio payload
never crosses another modality's pass. On resume, table checks re-run
the full decode of each modality whose metric columns they read, through
the same loop.

Shuffles: exactly one for the partition verdicts, one per table-level
aggregate/join — nothing shuffles the binary payload (dropped before any
wide operation).
"""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from doc_quality_check_spark.functions.audio import with_audio_metrics, with_payload_metrics
from doc_quality_check_spark.functions.media import (
    IMAGE_METRIC_COLUMNS,
    VIDEO_METRIC_COLUMNS,
    with_image_metrics,
    with_video_metrics,
)
from doc_quality_check_spark.operators.aggregates import (
    bucket_col,
    drift_chi2,
    drift_chi2_by_group,
    drift_ks,
    drift_ks_by_group,
    drift_psi,
    drift_psi_by_group,
    drift_w1,
    drift_w1_by_group,
)
from doc_quality_check_spark.operators.joins import duplicate_keys, referential_violations
from doc_quality_check_spark.suite.compiler import PASS_PREFIX, row_violations, with_row_checks
from doc_quality_check_spark.suite.spec import (
    AUDIO_ROW_KINDS,
    IMAGE_ROW_KINDS,
    VIDEO_ROW_KINDS,
    Check,
    CheckSuite,
)

GLOBAL_PART = "__global__"

# decode-output columns that can trigger a payload decode when a generic
# check references them. Deliberately EXCLUDES names a raw table might
# plausibly carry itself (error, decode_ok, header_sr, n_samples) — for
# those the raw column always wins.
DERIVED_METRIC_COLUMNS = {
    "energy_ratio", "spectral_flatness", "zcr", "decode_conf",
    "decoded_dur_ms", "rms_db", "peak_db", "clip_fraction",
    "lead_silence_ms", "trail_silence_ms",
}

# table-check kinds that lower to scalar aggregates — fused into one agg job
_SIMPLE_AGG_KINDS = {"completeness_min", "row_count_min", "distinct_range", "quantile_range"}

# drift kind -> (global and grouped statistic, its column, threshold
# param, default)
_DRIFT = {
    "drift_psi": (drift_psi, drift_psi_by_group, "psi", "max_psi", 0.2),
    "drift_ks": (drift_ks, drift_ks_by_group, "ks", "max_ks", 0.1),
    "drift_w1": (drift_w1, drift_w1_by_group, "w1", "max_w1", 1.0),
    "drift_chi2": (drift_chi2, drift_chi2_by_group, "cramers_v", "max_v", 0.1),
}

VERDICT_COLS = ["part_key", "constraint_id", "n_rows", "n_violations", "passed", "metric_value"]

VERDICT_SCHEMA = StructType(
    [
        StructField("part_key", StringType()),
        StructField("constraint_id", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_violations", LongType()),
        StructField("passed", BooleanType()),
        StructField("metric_value", DoubleType()),
    ]
)


NULL_PART = "__null__"


def _param_bool(v) -> bool:
    """Check-param boolean that survives JSON string authoring: the strings
    'false'/'no'/'0'/'' parse as False (plain bool('false') would be True)."""
    if isinstance(v, str):
        return v.strip().lower() not in ("false", "no", "0", "")
    return bool(v)


def _verdict_frame(spark, rows: list[tuple]) -> DataFrame:
    """Driver-side verdict rows as a JVM-local relation: an Arrow table with
    the explicit schema. A plain Python list would become a Python RDD,
    whose every evaluation starts Python workers to carry a handful of rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist([dict(zip(VERDICT_COLS, r)) for r in rows],
                                 schema=to_arrow_schema(VERDICT_SCHEMA))
    return spark.createDataFrame(table, VERDICT_SCHEMA)


def _verdict_cols(cid: str, n_rows, n_violations, passed, metric,
                  part_key=None) -> list:
    """The VERDICT_COLS of one table check as Column expressions (values
    or Columns; ``part_key`` defaults to the global key)."""
    return [
        (F.lit(GLOBAL_PART) if part_key is None else part_key).alias("part_key"),
        F.lit(cid).alias("constraint_id"),
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(n_violations).cast("long").alias("n_violations"),
        passed.alias("passed"),
        metric.cast("double").alias("metric_value"),
    ]


def part_key_col(part_cols: list[str]):
    """The canonical part_key expression — shared by the verdict groupBy and
    the resume filter so multi-column partition keys resume correctly. NULL
    partition values map to the '__null__' sentinel: they form their own
    verdict/resume unit instead of producing NULL keys (which would break
    manifest JSON keys and make the resume isin() filter drop the rows)."""
    if not part_cols:
        return F.lit(GLOBAL_PART)
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(NULL_PART)) for c in part_cols]
    return parts[0] if len(parts) == 1 else F.concat_ws("/", *parts)


@dataclass
class RunResult:
    """All result tables of one suite run (lazy DataFrames)."""

    checked: DataFrame            # row-level: clips + metrics + passed__* + reason/status
    violations: DataFrame         # (clip_id, constraint_id)
    verdicts: DataFrame           # per-partition + global verdicts (VERDICT_COLS)
    summary: DataFrame            # one-row global summary
    # constraint_id -> wall seconds for each table-level check (F20: the
    # reference returns elapsed time with every metric, clarity_check.py:21)
    table_metrics: dict[str, float] = field(default_factory=dict)
    # DataFrames persisted by table checks: every verdict frame, and
    # payload_neardup's redundant set that backs lazy `violations` rows —
    # released with the result, not before, so the verdict and violation
    # unions stay cache-served until the caller is done materializing them
    extra_caches: list = field(default_factory=list)

    def unpersist(self) -> None:
        self.checked.unpersist()
        for df in self.extra_caches:
            df.unpersist()


@dataclass(frozen=True)
class _Modality:
    """One payload modality: the row kinds and metric columns that demand
    its decode, and its full-decode pass ``decode(df, payload_col=...)``
    (one vectorized pass that drops the payload column)."""

    name: str
    kinds: set[str]
    metric_cols: set[str]
    decode: Callable[..., DataFrame]
    # a fixed payload column; None = the one named by the row kinds' checks
    payload_col: str | None = None

    def payload_column(self, checks: list[Check]) -> str:
        if self.payload_col:
            return self.payload_col
        cols = {c.column or "bytes" for c in checks if c.kind in self.kinds}
        if len(cols) > 1:
            raise ValueError(
                f"{self.name} checks must share one payload column, "
                f"got {sorted(cols)}"
            )
        return cols.pop() if cols else "bytes"


# in decode order: audio runs first and always consumes 'bytes'
_MODALITIES = (
    _Modality("audio", AUDIO_ROW_KINDS, DERIVED_METRIC_COLUMNS,
              with_audio_metrics, payload_col="bytes"),
    _Modality("image", IMAGE_ROW_KINDS, set(IMAGE_METRIC_COLUMNS),
              with_image_metrics),
    _Modality("video", VIDEO_ROW_KINDS, set(VIDEO_METRIC_COLUMNS),
              with_video_metrics),
)


def _demands(check: Check, kinds: set[str], cols: set[str]) -> bool:
    """Whether ``check`` needs the decode of the modality with row kinds
    ``kinds`` and undecoded metric columns ``cols``: by kind, by its
    column, or (expr checks) by naming a metric column in the text."""
    if check.kind in kinds or check.column in cols:
        return True
    if check.kind == "expr":
        expr = str(check.params.get("expr", ""))
        return any(re.search(rf"\b{m}\b", expr) for m in cols)
    return False


def _demanded(check: Check, columns) -> list[_Modality]:
    """The modalities whose decode ``check`` needs over a table with
    ``columns``. A metric column the table already carries is the raw
    column: it never triggers a decode (no silent shadowing)."""
    return [
        m for m in _MODALITIES
        if _demands(check, m.kinds, m.metric_cols - set(columns))
    ]


def _decode(df: DataFrame, passes) -> DataFrame:
    """Run ``(modality, payload column, decode)`` passes in order. ``bytes``
    is dropped first unless a pass consumes it. A payload column that is
    missing, or consumed by an earlier pass, raises one ValueError."""
    if all(col != "bytes" for _, col, _ in passes):
        df = df.drop("bytes")
    consumed: dict[str, str] = {}
    for m, col, decode in passes:
        if col not in df.columns:
            raise ValueError(
                f"{m.name} checks reference missing payload column {col!r}"
                + (
                    f" (consumed by the {consumed[col]} decode; each "
                    "modality needs its own payload column)"
                    if col in consumed
                    else ""
                )
            )
        consumed[col] = m.name
        df = decode(df, payload_col=col)
    return df


class SuiteRunner:
    def __init__(self, suite: CheckSuite):
        self.suite = suite
        # set by run() when payload checks execute: which F5 mode actually ran
        self.effective_payload_mode: str | None = None
        # set by run() before table checks: the pre-decode input, for table
        # checks that consume the raw payload (payload_neardup)
        self._raw_clips: DataFrame | None = None

    # ------------------------------------------------------------------
    def run(
        self,
        clips: DataFrame,
        catalog: DataFrame | None = None,
        baseline: DataFrame | None = None,
        payload: bool = True,
        completed_partitions: list[str] | None = None,
    ) -> RunResult:
        """Execute the suite. ``completed_partitions`` (from a prior run's
        manifest) are skipped for the ROW-LEVEL path only — the resume filter
        is partition-pruned because ``part_key`` is the table's partition
        column. Table-level checks (uniqueness, referential, completeness,
        drift, …) always see the FULL input: a duplicate key spanning a
        completed and a pending partition must still be caught, and
        row_count_min must not falsely fail on the resumed subset."""
        suite = self.suite
        part_cols = suite.partition_by
        full_clips = clips
        self._run_caches: list[DataFrame] = []
        resuming = bool(completed_partitions and part_cols)
        if resuming:
            pk = part_key_col(part_cols)
            # NULL part keys make isin() NULL → the row would be silently
            # dropped; coalesce keeps them (they were never marked complete)
            clips = clips.filter(
                F.coalesce(~pk.isin(list(completed_partitions)), F.lit(True))
            )

        row_checks = suite.row_checks()
        # table-level checks (e.g. quantile_range on spectral_flatness) also
        # demand decode and count toward the mode floor — otherwise they'd
        # silently compute their verdict over an all-NULL column
        table_checks = suite.table_checks()
        if not payload:
            # payload=False is the metadata-only contract: no decode runs,
            # so row checks demanding one are skipped, and so is
            # payload_neardup (it decodes+fingerprints the bytes column)
            row_checks = [c for c in row_checks if not _demanded(c, clips.columns)]
            table_checks = [c for c in table_checks if c.kind != "payload_neardup"]
        checks = [*row_checks, *table_checks]
        demanded = (
            {m.name for c in checks for m in _demanded(c, clips.columns)}
            if payload
            else set()
        )
        # the row pass decodes audio through its mode dispatch, not the
        # full decode the table-check re-decode uses
        row_pass = {"audio": self._audio_row_pass(checks, clips.columns)}
        df = _decode(clips, [
            (m, m.payload_column(checks), row_pass.get(m.name, m.decode))
            for m in _MODALITIES
            if m.name in demanded
        ])
        df = with_row_checks(df, row_checks).persist()

        id_col = "clip_id"
        viols = row_violations(df, row_checks, id_col=id_col, part_cols=part_cols)
        verdicts = self._partition_verdicts(df, row_checks, part_cols)

        # table-check verdict frames, each cached: schema_match rows first
        # (the RAW input schema, pure metadata, no Spark job), then one
        # frame per pool task
        verdict_frames: list[DataFrame] = []
        check_timings: dict[str, float] = {}
        schema_checks = [c for c in table_checks if c.kind == "schema_match"]
        table_checks = [c for c in table_checks if c.kind != "schema_match"]
        if schema_checks:
            verdict_frames.append(_verdict_frame(df.sparkSession, [
                self._run_schema_check(full_clips, c) for c in schema_checks]))
            check_timings.update({c.constraint_id: 0.0 for c in schema_checks})
        if table_checks:
            # materialize the decode/row-check cache ONCE (a single barrier
            # job), then evaluate table checks CONCURRENTLY — each is a small
            # independent Spark job, and serializing them is pure Amdahl loss
            # on a warm cache. Scalar aggregates are fused into one job that
            # runs in the same pool.
            df.count()
            # On resume, table checks run on the FULL input, not the pending
            # subset. On either path, a table check referencing a derived
            # metric column absent from table_df forces a full decode —
            # persisted + materialized ONCE before the concurrent check pool
            # (otherwise every worker thread triggers its own decode pass,
            # the single most expensive stage). Accurate-tier metrics
            # deliberately: table-check thresholds assume full metrics.
            table_df = full_clips.drop("bytes") if resuming else df
            resume_cache = None
            # payload_neardup fingerprints the RAW payload (its own single
            # decode pass) — hand it the pre-decode input; its column is
            # excluded from the derived-metric 'needed' analysis below
            # because 'bytes' is deliberately absent from table_df
            self._raw_clips = full_clips
            needed = {
                c.column
                for c in table_checks
                if c.column and c.kind != "payload_neardup"
            }
            # corr_range reads a SECOND column from params: validate it
            # upfront (clean error, not a worker-thread AnalysisException)
            # and let it force the decode exactly like a .column reference
            for c in table_checks:
                if c.kind == "corr_range":
                    if not c.params.get("col2"):
                        raise ValueError(
                            f"check {c.constraint_id}: corr_range requires "
                            "params['col2'] (the second column)"
                        )
                    needed.add(c.params["col2"])
            missing = needed - set(table_df.columns)
            # re-run the full decode of every modality whose metric columns
            # the table checks read (the resume path's table_df lost them)
            redo = [m for m in _MODALITIES if payload and missing & m.metric_cols]
            if redo:
                src = full_clips if resuming else clips
                resume_cache = _decode(src, [
                    (m, m.payload_column(checks), m.decode) for m in redo
                ]).persist()
                resume_cache.count()
                table_df = resume_cache
            elif missing:
                raise ValueError(
                    f"table checks reference missing columns: {sorted(missing)}"
                    + ("" if payload else " (payload=False, decode disabled)")
                )
            def _is_simple(c):
                # quantile_range with method=tdigest runs its own two-level
                # digest job; completeness_min with per_partition over a
                # partitioned suite is a GROUPED aggregate emitting one
                # verdict row per part_key — neither fuses with scalars
                if c.kind == "quantile_range" and c.params.get("method") == "tdigest":
                    return False
                if (c.kind == "completeness_min" and self.suite.partition_by
                        and _param_bool(c.params.get("per_partition", False))):
                    return False
                return c.kind in _SIMPLE_AGG_KINDS

            simple = [c for c in table_checks if _is_simple(c)]
            # ONE pool runs the fused scalar job next to every other check;
            # each task returns (verdict frame, extra violations | None)
            tasks = [
                (simple, lambda: (self._run_simple_aggs(table_df, simple), None))
            ] if simple else []
            tasks += [
                ([c], partial(self._run_table_check, table_df, c, catalog, baseline))
                for c in table_checks if not _is_simple(c)
            ]

            def timed(task):
                # the check's execution is its cached frame's one count: the
                # verdict union then reads the cache, never the check's plan
                t0 = time.perf_counter()
                vdf, extra = task[1]()
                vdf = vdf.persist()
                vdf.count()
                return task[0], vdf, extra, time.perf_counter() - t0

            with ThreadPoolExecutor(max_workers=min(4, len(tasks))) as ex:
                for done, vdf, extra, dt in ex.map(timed, tasks):
                    # ONE fused job serves every simple check — attribute
                    # each an equal share so the per-check timings still SUM
                    # to real wall (the full wall N times would over-count)
                    for c in done:
                        check_timings[c.constraint_id] = round(dt / len(done), 3)
                    self._run_caches.append(vdf)
                    verdict_frames.append(vdf)
                    if extra is not None:
                        viols = viols.unionByName(extra)
            if resume_cache is not None:
                # every frame computed over the re-decode is cached by now
                resume_cache.unpersist()

        for vdf in verdict_frames:
            verdicts = verdicts.unionByName(vdf)
        # advisory (severity='warn') checks, row- or table-level, never flip
        # a verdict's passed flag — failures stay visible through
        # n_violations/metric_value
        warn_ids = [c.constraint_id for c in suite.enabled_checks()
                    if c.severity == "warn"]
        if warn_ids:
            verdicts = verdicts.withColumn(
                "passed", F.col("passed") | F.col("constraint_id").isin(warn_ids))

        summary = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("status") == "Valid", 1).otherwise(0)).alias("n_valid"),
            F.sum(F.when(F.col("status") == "Invalid", 1).otherwise(0)).alias("n_invalid"),
            *(
                [F.avg("decode_conf").alias("avg_decode_conf")]
                if "decode_conf" in df.columns else []
            ),
            *(
                [F.avg("energy_ratio").alias("avg_energy_ratio")]
                if "energy_ratio" in df.columns else []
            ),
            F.approx_count_distinct(id_col).alias("n_distinct_ids"),
        )
        return RunResult(checked=df, violations=viols, verdicts=verdicts,
                         summary=summary, table_metrics=check_timings,
                         extra_caches=self._run_caches)

    def _audio_row_pass(self, checks: list[Check], columns):
        """The audio row pass: F5 mode dispatch through with_payload_metrics.
        Per-check params["mode"] values win over the suite-wide
        settings["payload_mode"]; when checks disagree, the STRONGEST
        requested tier runs (metrics are computed once for all checks — an
        'accurate' check must never be evaluated against a cheaper tier's
        confidence). Default 'accurate'. Generic checks (row or table
        level) on a derived metric column force a tier that produces it:
        full decode at least, 'accurate' for the spectral column. An
        unknown mode ranks below every tier; with_payload_metrics owns its
        fallback."""
        strength = {"superfast": 0, "balanced": 1, "fast": 2, "accurate": 3}
        audio_checks = [c for c in checks if c.kind in AUDIO_ROW_KINDS]
        requested = [
            c.params["mode"] for c in audio_checks
            if c.params.get("mode") in strength
        ]
        if requested:
            mode = max(requested, key=strength.__getitem__)
        else:
            mode = self.suite.settings.get("payload_mode", "accurate")
        generic_metric = {
            c.column for c in checks if c.kind not in AUDIO_ROW_KINDS
        } & (DERIVED_METRIC_COLUMNS - set(columns))
        if generic_metric:
            floor = "accurate" if "spectral_flatness" in generic_metric else "fast"
            mode = max((mode, floor), key=lambda m: strength.get(m, -1))
        escalate_below = float(self.suite.settings.get("escalate_below", 15.0))

        def decode(df, payload_col):
            df, self.effective_payload_mode = with_payload_metrics(
                df, checks=audio_checks, mode=mode, payload_col=payload_col,
                escalate_below=escalate_below,
            )
            return df

        return decode

    # ------------------------------------------------------------------
    def _partition_verdicts(self, df, row_checks: list[Check], part_cols: list[str]):
        """ONE groupBy produces every (partition × constraint) verdict:
        conditional sums per check, then stack() to long form — partial
        aggregation map-side, a single shuffle total. Multi-column partition
        keys collapse into one '/'-joined part_key string."""
        if not row_checks:
            return _verdict_frame(df.sparkSession, [])
        part = part_key_col(part_cols)
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(F.when(~F.col(PASS_PREFIX + c.constraint_id), 1).otherwise(0))
            .alias("nv__" + c.constraint_id)
            for c in row_checks
        ]
        wide = df.groupBy(part.alias("part_key")).agg(*aggs)
        stack_args = ", ".join(
            f"'{c.constraint_id}', nv__{c.constraint_id}" for c in row_checks
        )
        long = wide.selectExpr(
            "part_key",
            "n_rows",
            f"stack({len(row_checks)}, {stack_args}) as (constraint_id, n_violations)",
        )
        return long.select(
            "part_key",
            "constraint_id",
            F.col("n_rows").cast("long"),
            F.col("n_violations").cast("long"),
            (F.col("n_violations") == 0).alias("passed"),
            F.try_divide(F.col("n_violations"), F.col("n_rows")).cast("double").alias("metric_value"),
        )

    # ------------------------------------------------------------------
    def _run_simple_aggs(self, df, checks: list[Check]) -> DataFrame:
        """Fuse every scalar-aggregate table check (completeness, row count,
        distinct range, quantile range) into ONE agg job — the suite
        planner's 'fuse same-granularity aggregates' rule (SURVEY.md §4.5).
        Returns one verdict frame stacking a global row per check."""
        n = F.count(F.lit(1))
        rows = []
        for c in checks:
            p = c.params
            n_rows = None
            if c.kind == "completeness_min":
                # no rows: nothing is missing
                metric = F.coalesce(F.try_divide(F.count(c.column), n), F.lit(1.0))
                passed, n_rows = metric >= float(p.get("min_ratio", 1.0)), n
            elif c.kind == "row_count_min":
                metric = n.cast("double")
                passed, n_rows = metric >= int(p["min_rows"]), n
            elif c.kind == "distinct_range":
                metric = F.approx_count_distinct(c.column).cast("double")
                passed = metric.between(p.get("min", 0), p.get("max", float("inf")))
            else:
                q = F.expr(
                    f"percentile_approx({c.column}, {float(p.get('q', 0.5))})"
                ).cast("double")
                metric = F.coalesce(q, F.lit(0.0))
                # quantile over an all-NULL column is NULL: no value can
                # attest the bound — fail
                passed = q.isNotNull() & q.between(
                    p.get("min", float("-inf")), p.get("max", float("inf")))
            rows.append(F.struct(*_verdict_cols(c.constraint_id, n_rows, 0,
                                                passed, metric)))
        return df.agg(F.array(*rows).alias("v")).select(F.inline("v"))

    def _run_schema_check(self, raw_df, check: Check) -> tuple:
        """schema_match (the north rule's 'schema + constraint' engine):
        every expected column must exist on the RAW input with the expected
        Spark simpleString type; pure metadata — no Spark job runs.
        params: {"columns": {"clip_id": "string", "sr_hz": "int", ...},
                 "allow_extra": bool (default True)}."""
        p = check.params
        # case-insensitive on BOTH sides: simpleString() preserves nested
        # field-name case (struct<Lang:string>), which must not fail a match
        expected = {k: str(v).lower() for k, v in p.get("columns", {}).items()}
        actual = {
            f.name: f.dataType.simpleString().lower() for f in raw_df.schema.fields
        }
        mismatches = [c for c, typ in expected.items() if actual.get(c) != typ]
        if not _param_bool(p.get("allow_extra", True)):
            mismatches += [c for c in actual if c not in expected]
        return (GLOBAL_PART, check.constraint_id, None, len(mismatches),
                not mismatches, float(len(mismatches)))

    def _run_table_check(self, df, check: Check, catalog, baseline):
        """One table-level check as a lazy plan. Returns (verdict frame,
        extra violations frame | None); the verdict frame holds one global
        row, or one row per part_key for the per-partition forms."""
        cid, p = check.constraint_id, check.params
        if check.kind in ("unique", "referential"):
            if check.kind == "unique":
                bad = duplicate_keys(df, check.column, int(p.get("salt_buckets", 0)))
            else:
                if catalog is None:
                    raise ValueError(f"check {cid} needs a reference catalog DataFrame")
                bad = referential_violations(
                    df.select(check.column), catalog, check.column,
                    p.get("ref_column", check.column),
                    # catalogs at 10^12-row scale cannot broadcast — the knob
                    # switches to sort-merge + AQE skew handling. String-safe:
                    # JSON-authored "false"/"no"/"0" must not coerce to True.
                    broadcast_ref=_param_bool(p.get("broadcast_catalog", True)),
                )
            # cached: the verdict count and the violation rows read one
            # evaluation
            bad = bad.persist()
            # table-level violations are global facts (a dup key or a
            # missing reference can span partitions) → part_key = __global__
            extra = bad.select(
                F.col(check.column).alias("clip_id"),
                F.lit(cid).alias("constraint_id"),
                F.lit(GLOBAL_PART).alias("part_key"),
            )
            if check.kind == "referential":
                extra = extra.dropDuplicates()
            n_bad = F.count(F.lit(1))
            return bad.agg(*_verdict_cols(cid, None, n_bad, n_bad == 0, n_bad)), extra
        if check.kind == "completeness_min":
            # only the per-partition form lands here (the global one fuses
            # into _run_simple_aggs): one verdict row per part_key from ONE
            # grouped aggregate — completeness localized the same way
            # per-partition drift is
            r = F.col("r")
            grouped = df.groupBy(
                part_key_col(self.suite.partition_by).alias("grp")
            ).agg(
                F.try_divide(F.count(check.column), F.count(F.lit(1))).alias("r"),
                F.count(F.lit(1)).alias("n"),
            )
            return grouped.select(*_verdict_cols(
                cid, F.col("n"), 0,
                r.isNotNull() & (r >= F.lit(float(p.get("min_ratio", 1.0)))),
                F.coalesce(r, F.lit(0.0)), part_key=F.col("grp"),
            )), None
        if check.kind == "quantile_range":
            # method=tdigest only (percentile_approx fuses into
            # _run_simple_aggs): a two-level digest job of its own, whose
            # quantile arrives on the driver
            from doc_quality_check_spark.operators.aggregates import (
                tdigest_quantiles,
            )

            q = float(p.get("q", 0.5))
            val = tdigest_quantiles(
                df, check.column, [q], int(p.get("delta", 100))
            )[q]
            # all-null column: no quantile exists, the bound cannot be
            # attested — fail rather than compare against None (TypeError)
            passed = (
                val is not None
                and p.get("min", float("-inf")) <= val <= p.get("max", float("inf"))
            )
            return _verdict_frame(df.sparkSession, [(
                GLOBAL_PART, cid, None, 0, bool(passed),
                float(val) if val is not None else 0.0,
            )]), None
        if check.kind == "entropy_range":
            # Shannon entropy (bits) of the column's NON-NULL value
            # distribution — a profiling gate: ~0 flags a degenerate/
            # near-constant column, log2(k) a uniform one. NULLs are a
            # completeness concern, not a distribution bucket (and
            # suggest_suite derives its bounds from non-null counts).
            # Grouped count + broadcast total only — histogram-sized data.
            cnt = (
                df.filter(F.col(check.column).isNotNull())
                .groupBy(F.col(check.column).cast("string").alias("b"))
                .agg(F.count("*").alias("c"))
            )
            tot = cnt.agg(F.sum("c").alias("tot"))
            pcol = F.try_divide(F.col("c"), F.col("tot"))
            h = F.col("h")
            return (
                cnt.crossJoin(F.broadcast(tot))
                .select((-(pcol) * F.log2(pcol)).alias("t"))
                .agg(F.sum("t").alias("h"))
                .select(*_verdict_cols(
                    cid, None, 0,
                    # empty input -> no distribution, the bound cannot be
                    # attested
                    h.isNotNull() & h.between(
                        p.get("min", 0.0), p.get("max", float("inf"))),
                    F.coalesce(h, F.lit(0.0)),
                ))
            ), None
        if check.kind == "payload_neardup":
            # near-duplicate-rate bound over the AUDIO payload: spectral
            # fingerprints + pigeonhole Hamming LSH (operators/audio_dedup),
            # clustered by connected components; every cluster member except
            # the keeper (min id — the keep-first retention rule) is a
            # violation row. metric = redundant clips / total clips.
            # Runs on the RAW input (self._raw_clips): the checked df has
            # the bytes column dropped by design.
            from doc_quality_check_spark.operators.audio_dedup import (
                audio_neardup_pairs,
            )
            from doc_quality_check_spark.operators.dedup import (
                connected_components,
            )

            pairs = audio_neardup_pairs(
                self._raw_clips,
                id_col=p.get("id_col", "clip_id"),
                bytes_col=check.column or "bytes",
                codec_col=p.get("codec_col", "codec"),
                max_hamming=int(p.get("max_hamming", 7)),
            )
            redundant = (
                connected_components(
                    pairs, algorithm=str(p.get("algorithm", "label"))
                )
                .filter(F.col("id") != F.col("comp"))
                .select(F.col("id").alias("clip_id"))
                .persist()
            )
            # released by RunResult.unpersist(), not here: the violations
            # union below is lazy and must stay cache-served
            self._run_caches.append(redundant)
            extra = redundant.select(
                "clip_id",
                F.lit(cid).alias("constraint_id"),
                # a near-dup cluster can span partitions → global fact
                F.lit(GLOBAL_PART).alias("part_key"),
            )
            nv = F.col("nv")
            rate = F.coalesce(F.try_divide(nv, F.col("n")), F.lit(0.0))
            return df.agg(F.count(F.lit(1)).alias("n")).crossJoin(
                redundant.agg(F.count(F.lit(1)).alias("nv"))
            ).select(*_verdict_cols(
                cid, F.col("n"), nv,
                rate <= F.lit(float(p.get("max_dup_rate", 0.0))), rate,
            )), extra
        if check.kind == "corr_range":
            # Pearson correlation between check.column and params["col2"]
            # (Deequ correlation-analyzer shape) — one grouped aggregate;
            # NULL corr (constant column / n<2) cannot attest the bound
            from doc_quality_check_spark.operators.aggregates import (
                pearson_corr,
            )

            corr = pearson_corr(
                df, check.column, p["col2"],
                exact_integers=_param_bool(p.get("exact_integers", False)),
            )
            stat = df.agg(F.count(F.lit(1)).alias("n")).crossJoin(
                corr.select(F.col("corr").alias("stat")))
            return stat.select(*_verdict_cols(
                cid, F.col("n"), 0,
                F.col("stat").isNotNull() & F.col("stat").between(
                    float(p.get("min", -1.0)), float(p.get("max", 1.0))),
                F.col("stat"),
            )), None
        if check.kind in _DRIFT:
            return self._drift_verdicts(df, check, baseline), None
        raise ValueError(f"unknown table-level check: {check.kind}")

    def _drift_verdicts(self, df, check: Check, baseline) -> DataFrame:
        """drift_psi / drift_ks / drift_w1 / drift_chi2 as one verdict
        frame. With ``per_partition``: one row per current part_key from ONE
        grouped plan (drift_*_by_group). Else the global statistic, the
        no-group case of the same implementation: its global aggregate
        gives exactly one row, also over no rows, and its bucket groupBy
        sums a grouped (per-partition) snapshot to the flat layout, so one
        promoted baseline serves both shapes."""
        cid, p = check.constraint_id, check.params
        if baseline is None:
            raise ValueError(f"check {cid} needs a baseline snapshot DataFrame")
        glob, grouped, stat_col, mx_key, mx_default = _DRIFT[check.kind]
        # params["bin_width"]: equi-width bins for continuous columns —
        # keeps the histogram tiny at scale; the baseline must be written
        # with the same width
        bucket = bucket_col(check.column, p.get("bin_width")).alias("bucket")
        base = baseline.filter(F.col("metric") == check.column)
        part_key = None
        if _param_bool(p.get("per_partition", False)):
            if not self.suite.partition_by:
                raise ValueError(
                    f"check {cid}: per_partition drift needs suite.partition_by"
                )
            if "part_key" not in baseline.columns:
                raise ValueError(
                    f"check {cid}: per_partition drift needs a baseline with a "
                    "part_key column — write it with "
                    "snapshot_histograms(df_with_part_key, cols, group_col='part_key')"
                )
            cur_g = (
                df.select(part_key_col(self.suite.partition_by).alias("grp"), bucket)
                .groupBy("grp", "bucket")
                .agg(F.count("*").alias("count"))
            )
            base_g = base.select(
                # the current side's part keys go through part_key_col's
                # '__null__' sentinel — normalize the baseline the same way
                # or NULL partitions never match and spuriously drift
                F.coalesce(F.col("part_key").cast("string"),
                           F.lit(NULL_PART)).alias("grp"),
                "bucket",
                "count",
            )
            # verdicts for EXACTLY the partitions present in the CURRENT
            # input: a baseline-only partition must not enter the verdict
            # table (record_partitions would mark a nonexistent partition
            # complete, corrupting the resume/incremental skip set), and a
            # current partition the statistic couldn't score (w1 with no
            # numeric support drops the group) gets a NULL stat -> failed
            # verdict, not a silently missing row
            scored = cur_g.select("grp").distinct().join(
                grouped(cur_g, base_g, "grp"), "grp", "left")
            part_key = F.col("grp")
        else:
            scored = glob(df.groupBy(bucket).agg(F.count("*").alias("count")),
                          base.select("bucket", "count"))
        stat = F.col(stat_col)
        return scored.select(*_verdict_cols(
            cid, None, 0,
            stat.isNotNull() & (stat <= F.lit(float(p.get(mx_key, mx_default)))),
            F.coalesce(stat, F.lit(0.0)), part_key=part_key,
        ))
