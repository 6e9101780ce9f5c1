"""Compile declarative :class:`Check` objects into Spark ``Column`` predicates.

This is the engine's expression layer — the analog of the reference's
threshold predicates and verdict construction:
- emptiness predicate ``ink_ratio_pct < 0.5`` (/root/reference/
  test_readability.py:218-221, app.py:355-356)
- readability predicate ``ocr_conf >= 15`` (test_readability.py:216)
- first-failure-wins reason chain Empty → Low readability → OK
  (app.py:369-380)

All predicates are pure Catalyst expressions (whole-stage codegen); payload
checks read the pre-computed metric columns from
:func:`doc_quality_check_spark.functions.audio.with_audio_metrics` so the
binary column is decoded exactly once.

Null/gating semantics (documented, deliberate):
- domain/range/regex checks PASS on null input — nullness is flagged only by
  the dedicated ``not_null`` check (no double counting).
- payload consistency checks PASS when the payload didn't decode — a failed
  decode is flagged only by ``payload_decode`` (the reference's in-band error
  row has exactly one reason, test_readability.py:262-271).
- duration consistency additionally requires a *trusted* sample rate
  (header_sr == sr_hz); decoded duration is meaningless under an sr mismatch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from doc_quality_check_spark.suite.spec import Check

PASS_PREFIX = "passed__"


def _null_passes(pred: Column) -> Column:
    return F.coalesce(pred, F.lit(True))


def compile_check(check: Check) -> Column:
    """Lower one row-level check to a boolean Column (True = pass)."""
    p = check.params
    col = F.col(check.column) if check.column else None
    kind = check.kind

    if kind == "not_null":
        pred = col.isNotNull()
        if p.get("treat_empty_as_null"):
            pred = pred & (F.trim(col) != F.lit(""))
        return F.coalesce(pred, F.lit(False))
    if kind == "min":
        return _null_passes(col >= F.lit(p["value"]))
    if kind == "max":
        return _null_passes(col <= F.lit(p["value"]))
    if kind == "in_range":
        return _null_passes((col >= F.lit(p["min"])) & (col <= F.lit(p["max"])))
    if kind == "isin":
        return _null_passes(col.isin(*p["values"]))
    if kind == "regex_match":
        return _null_passes(col.rlike(p["pattern"]))
    if kind == "regex_not_match":
        return _null_passes(~col.rlike(p["pattern"]))
    if kind == "expr":
        return F.expr(p["expr"])
    if kind == "payload_energy":
        # emptiness analog: ink_ratio*100 < threshold → empty
        # (test_readability.py:218-221); gated on decode success
        thr = float(p.get("threshold_pct", 0.5))
        return ~F.col("decode_ok") | (F.col("energy_ratio") * 100.0 >= F.lit(thr))
    if kind == "payload_decode":
        # readability analog: conf >= 15 (test_readability.py:216)
        thr = float(p.get("threshold", 15.0))
        return F.col("decode_conf") >= F.lit(thr)
    if kind == "payload_clipping":
        # audio-curation check: at most max_fraction of samples hard-clipped
        # (a clipped recording is damaged even if it decodes); gated on
        # decode success like the other payload checks
        thr = float(p.get("max_fraction", 0.01))
        return ~F.col("decode_ok") | (F.col("clip_fraction") <= F.lit(thr))
    if kind == "payload_sr_consistency":
        return (
            ~F.col("decode_ok")
            | (F.col("sr_hz") <= F.lit(0))
            | (F.col("header_sr") == F.col("sr_hz"))
        )
    if kind == "payload_dur_consistency":
        tol = float(p.get("tolerance_ms", 50))
        return (
            ~F.col("decode_ok")
            | (F.col("dur_ms") <= F.lit(0))
            | (F.col("header_sr") != F.col("sr_hz"))
            | (F.abs(F.col("decoded_dur_ms") - F.col("dur_ms")) <= F.lit(tol))
        )
    if kind == "transcript_match":
        other = p.get("canonical_column", "canonical_transcript")
        return _null_passes(F.col(other).isNull() | (col == F.col(other)))
    if kind == "payload_image_decode":
        # image analog of payload_decode: the column is produced by ONE
        # with_image_metrics pass (functions/media.py) — in-band decode
        # failures (bad container, truncated data, stubbed codecs) fail here
        # and ONLY here (the gating rule below keeps reasons single-sourced)
        return F.col("img_decode_ok")
    if kind == "image_luma_range":
        # mean-luma sanity bounds (all-black/all-white frames are the image
        # world's silence); gated on decode success like every payload check
        lo = float(p.get("min", 0.0))
        hi = float(p.get("max", 255.0))
        return ~F.col("img_decode_ok") | _null_passes(
            (F.col("img_luma_mean") >= F.lit(lo))
            & (F.col("img_luma_mean") <= F.lit(hi))
        )
    if kind == "payload_video_decode":
        # video analog of payload_image_decode: the column comes from ONE
        # with_video_metrics pass (Y4M + MJPEG-AVI decode for real;
        # inter-frame codecs/corrupt containers fail here and only here)
        return F.col("vid_decode_ok")
    if kind == "video_frame_rate":
        # fps sanity bounds from the container's own timing metadata
        lo = float(p.get("min", 1.0))
        hi = float(p.get("max", 120.0))
        return ~F.col("vid_decode_ok") | _null_passes(
            (F.col("vid_fps") >= F.lit(lo)) & (F.col("vid_fps") <= F.lit(hi))
        )
    if kind == "video_luma_range":
        # sampled-frame mean-luma bounds (all-black video is the video
        # world's silence); gated on decode success
        lo = float(p.get("min", 0.0))
        hi = float(p.get("max", 255.0))
        return ~F.col("vid_decode_ok") | _null_passes(
            (F.col("vid_luma_mean") >= F.lit(lo))
            & (F.col("vid_luma_mean") <= F.lit(hi))
        )
    raise ValueError(f"not a row-level check kind: {kind}")


def with_row_checks(df, checks: list[Check]):
    """Attach one boolean ``passed__<constraint_id>`` column per check, a
    first-failure-wins ``reason`` column (priority order, app.py:369-380) and
    a ``status`` column (Valid/Invalid — app.py:390).

    A check with ``params["severity"] == "warn"`` is advisory: its pass
    column, verdict rows, and violation listings are produced like any
    other check's, but it never flips ``status``/``reason`` — the soft
    counterpart of the reference's hard thresholds (a page can be flagged
    without being ruled Invalid)."""
    row_checks = [c for c in checks if c.is_row_level]
    df = df.withColumns({PASS_PREFIX + c.constraint_id: compile_check(c) for c in row_checks})
    hard = [c for c in row_checks if c.severity != "warn"]
    reason = F.lit("OK")
    for c in sorted(hard, key=lambda c: c.priority, reverse=True):
        reason = F.when(~F.col(PASS_PREFIX + c.constraint_id), F.lit(c.constraint_id)).otherwise(reason)
    return df.withColumns({
        "reason": reason,
        "status": F.when(reason == "OK", F.lit("Valid")).otherwise(F.lit("Invalid")),
    })


def row_violations(df, checks: list[Check], id_col: str = "clip_id",
                   part_cols: list[str] | None = None):
    """All (clip_id, constraint_id, part_key) failures in ONE pass: build an
    array of failed constraint ids per row, drop passing rows cheaply, then
    explode — the analog of the UNREADABLE/EMPTY PAGES listings
    (test_readability.py:856-879) generalized to every constraint. The
    part_key column lets a resumed run merge the prior run's violation rows
    for skipped partitions (suite/job.py)."""
    from doc_quality_check_spark.suite.runner import part_key_col

    part = part_key_col(part_cols or [])
    row_checks = [c for c in checks if c.is_row_level]
    if not row_checks:
        return (
            df.select(F.col(id_col).alias("clip_id"),
                      F.lit("").alias("constraint_id"),
                      part.alias("part_key"))
            .limit(0)
        )
    arr = F.array_compact(
        F.array(*[
            F.when(~F.col(PASS_PREFIX + c.constraint_id), F.lit(c.constraint_id))
            for c in row_checks
        ])
    )
    return (
        df.select(F.col(id_col).alias("clip_id"), part.alias("part_key"),
                  arr.alias("_failed"))
        .filter(F.size("_failed") > 0)
        .select("clip_id", F.explode("_failed").alias("constraint_id"), "part_key")
    )
