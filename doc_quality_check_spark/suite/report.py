"""Report sinks: grouped text/HTML reports + JSON result export.

Reference parity:
- S6 HTML report (/root/reference/test_readability.py:276-752,
  write_html_output): global stat header (:299-306), legend, per-folder/
  per-file sections, per-page status rows.
- S7 TXT report (test_readability.py:755-884, write_txt_output): same
  content fixed-width, plus 'UNREADABLE PAGES' / 'EMPTY PAGES' violation
  listings (:856-879) — here generalized to a per-constraint violation
  listing.
- S9 JSON export (app.py:948-962).

Scale discipline: renderers consume ONLY the already-aggregated result
tables (verdicts, summary) plus a bounded sample of violation rows —
``toPandas()`` happens strictly after aggregation, never on the fact table
(SURVEY.md §1.2 'pandas only at the final, already-aggregated sink').
Collect once: every renderer also accepts the already-collected verdict
rows (a list, ordered by part_key, constraint_id), summary (a dict) and
violation sample (a list), and then starts no Spark job. A caller
rendering several formats collects each input once and passes the
results to all of them; ValidationJob collects from the written result
parquet, never from the lazy verdict plan (a groupBy shuffle per action).
"""

from __future__ import annotations

import html as _html
import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def collect_violation_sample(violations, max_violations: int = 100) -> list[dict]:
    """Deterministic STRATIFIED violation sample as collected dicts: a bare
    limit() at 10^12 rows returns an arbitrary slice dominated by one
    constraint; this caps per constraint_id and orders BREADTH-FIRST (all
    constraints' first examples before anyone's second) so every failing
    constraint surfaces even when their count exceeds the row budget.
    Accepts an already-collected list (pass-through) so callers rendering
    several formats pay the sampling jobs once."""
    if isinstance(violations, list):
        return violations[: max_violations]
    per_c = max(1, max_violations // max(1, _n_constraints(violations)))
    w = Window.partitionBy("constraint_id").orderBy("clip_id")
    return [r.asDict() for r in (
        violations.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_c)
        .orderBy("_rn", "constraint_id", "clip_id")
        .limit(max_violations)
        .drop("_rn")
        .collect()
    )]


def collect_results(verdicts, summary) -> tuple[list[dict], dict]:
    """The verdict rows as dicts ordered by (part_key, constraint_id) and
    the one-row summary as a dict (``{}`` for ``None``): what every
    renderer formats. A list of rows (already in that order) and a dict
    pass straight through, so a caller rendering several formats collects
    once."""
    if not isinstance(verdicts, list):
        verdicts = [r.asDict() for r in
                    verdicts.orderBy("part_key", "constraint_id").collect()]
    if summary is None:
        summary = {}
    elif not isinstance(summary, dict):
        summary = summary.first().asDict()
    return verdicts, summary


def _n_constraints(violations: DataFrame) -> int:
    # tiny distinct over the (already small) constraint-id domain
    return violations.select("constraint_id").distinct().count()


def render_txt(verdicts, summary, violations,
               suite_name: str, run_id: int, max_violations: int = 100) -> str:
    vs, sm = collect_results(verdicts, summary)
    vio = collect_violation_sample(violations, max_violations)
    lines = [
        "=" * 72,
        f"VALIDATION REPORT — suite={suite_name} run={run_id}",
        "=" * 72,
        "",
        "SUMMARY",
        "-" * 72,
    ]
    for k, v in sm.items():
        lines.append(f"  {k:24s} {v}")
    lines += ["", "PER-PARTITION VERDICTS", "-" * 72,
              f"  {'partition':12s} {'constraint':28s} {'rows':>8s} {'viol':>8s} passed"]
    for r in vs:
        lines.append(
            f"  {str(r['part_key']):12s} {r['constraint_id']:28s} "
            f"{str(r['n_rows'] if r['n_rows'] is not None else '-'):>8s} "
            f"{r['n_violations']:>8d} {'PASS' if r['passed'] else 'FAIL'}"
        )
    lines += ["", f"VIOLATION SAMPLES (per constraint, <={max_violations} total)",
              "-" * 72]
    for r in vio:
        lines.append(f"  {r['clip_id']}: {r['constraint_id']}")
    if not vio:
        lines.append("  (none)")
    return "\n".join(lines) + "\n"


def render_html(verdicts, summary, violations,
                suite_name: str, run_id: int, max_violations: int = 100) -> str:
    vs, sm = collect_results(verdicts, summary)
    vio = collect_violation_sample(violations, max_violations)
    e = _html.escape

    def chip(ok: bool) -> str:
        color = "#2e7d32" if ok else "#c62828"
        label = "PASS" if ok else "FAIL"
        return f'<span style="color:{color};font-weight:bold">{label}</span>'

    # per-partition sections — the reference's per-folder/per-file grouping
    # (test_readability.py:289-297) applied to partitions
    by_part: dict[str, list[dict]] = {}
    for r in vs:
        by_part.setdefault(str(r["part_key"]), []).append(r)
    sections = []
    for pk in sorted(by_part):
        rows = "\n".join(
            f"<tr><td>{e(r['constraint_id'])}</td>"
            f"<td>{r['n_rows'] if r['n_rows'] is not None else '-'}</td>"
            f"<td>{r['n_violations']}</td><td>{chip(r['passed'])}</td></tr>"
            for r in by_part[pk]
        )
        n_fail = sum(1 for r in by_part[pk] if not r["passed"])
        badge = chip(n_fail == 0)
        sections.append(
            f"<h3>partition <code>{e(pk)}</code> — {badge}"
            f" ({n_fail} failing constraint{'s' if n_fail != 1 else ''})</h3>\n"
            f'<table border="1" cellpadding="4" cellspacing="0">\n'
            f"<tr><th>constraint</th><th>rows</th><th>violations</th><th>status</th></tr>\n"
            f"{rows}\n</table>"
        )
    rows = "\n".join(sections)
    stats = "\n".join(
        f"<li><b>{e(str(k))}</b>: {e(str(v))}</li>" for k, v in sm.items()
    )
    vio_rows = "\n".join(
        f"<li><code>{e(str(r['clip_id']))}</code> — {e(r['constraint_id'])}</li>"
        for r in vio
    ) or "<li>(none)</li>"
    return f"""<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{e(suite_name)} run {run_id}</title></head>
<body>
<h1>Validation report — {e(suite_name)} (run {run_id})</h1>
<h2>Summary</h2><ul>{stats}</ul>
<h2>Per-partition verdicts</h2>
{rows}
<h2>Violation samples (per constraint, &le;{max_violations} total)</h2><ul>{vio_rows}</ul>
</body></html>
"""


def export_json(verdicts, summary, suite_name: str, run_id: int) -> str:
    """S9: machine-readable run result (verdicts + summary) as one JSON doc."""
    vs, sm = collect_results(verdicts, summary)
    return json.dumps(
        {"suite": suite_name, "run_id": run_id, "summary": sm, "verdicts": vs},
        indent=2, sort_keys=True, default=str,
    )


def write_report(out_dir: str, fmt: str, content: str, run_id: int,
                 timestamp: str) -> str:
    """report_<id>_<ts>.<fmt> naming (the reference's report-folder scheme,
    test_readability.py:963-1004)."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"report_{run_id}_{timestamp}.{fmt}")
    with open(path, "w") as fh:
        fh.write(content)
    return path


def split_quarantine(
    clips: DataFrame, violations: DataFrame, id_col: str = "clip_id"
) -> tuple[DataFrame, DataFrame]:
    """Partition the validated input into (clean, quarantined) — the
    training-pipeline follow-through of a validation run: clean rows feed
    the next stage; quarantined rows carry ``failed_constraints`` (sorted
    distinct constraint ids) for targeted reprocessing/repair.

    Reference analog: the CLI harness separates readable from unreadable
    pages into distinct report sections for manual follow-up
    (/root/reference/test_readability.py:976-1004); at pipeline scale the
    follow-up is a TABLE, not a listing.

    Plan shape: one groupBy on the (already small relative to the input)
    violation set + one equi-join and one anti-join on the row id — no
    payload column ever enters the aggregate side, and AQE handles skew if
    one clip collects many constraint ids."""
    per_row = violations.groupBy(F.col(id_col)).agg(
        F.sort_array(F.collect_set("constraint_id")).alias(
            "failed_constraints"
        )
    )
    quarantined = clips.join(per_row, id_col, "inner")
    clean = clips.join(per_row.select(id_col), id_col, "left_anti")
    return clean, quarantined
