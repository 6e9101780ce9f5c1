"""Spark event-log parser: per-tag task figures for the traced run.

A job's tag is its ``spark.job.description``. Jobs started without one
(for example from the suite runner's table-check thread pool, whose threads
do not inherit the caller's local properties) take the path of the innermost
benchmark span open at their submission time, when spans are given.

Figures per tag: jobs; task run time p50 and max; executor deserialize and
JVM GC seconds; shuffle bytes written; and the skew (max / median task run
time) of the tag's heaviest stage, which for a decode probe is the decode
stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

UNTAGGED = "(untagged)"


def read_events(log_dir: str) -> list[dict]:
    """All events of every application log in ``log_dir`` (one uncompressed,
    non-rolling file per application)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _tag_for(submit_ms: float, spans: list[dict]) -> str:
    inside = [s for s in spans
              if s["wall_start"] * 1000 <= submit_ms <= s["wall_end"] * 1000]
    if not inside:
        return UNTAGGED
    return max(inside, key=lambda s: s["path"].count("/"))["path"]


def per_tag(events: list[dict], spans: list[dict] | None = None) -> dict[str, dict]:
    stage_tag: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        tag = (e.get("Properties") or {}).get("spark.job.description")
        if not tag:
            tag = _tag_for(e.get("Submission Time", 0), spans or [])
        jobs[tag] = jobs.get(tag, 0) + 1
        for sid in e.get("Stage IDs", []):
            stage_tag[sid] = tag

    tasks: dict[str, dict[int, list[dict]]] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        m = e.get("Task Metrics") or {}
        sid = e["Stage ID"]
        tag = stage_tag.get(sid, UNTAGGED)
        tasks.setdefault(tag, {}).setdefault(sid, []).append(m)

    out = {}
    for tag in sorted(set(jobs) | set(tasks)):
        stages = tasks.get(tag, {})
        flat = [m for ms in stages.values() for m in ms]
        run_ms = [m.get("Executor Run Time", 0) for m in flat]
        fig = {
            "jobs": jobs.get(tag, 0),
            "task_p50_ms": statistics.median(run_ms) if run_ms else 0.0,
            "task_max_ms": max(run_ms, default=0.0),
            "deserialize_s": sum(m.get("Executor Deserialize Time", 0) for m in flat) / 1000.0,
            "gc_s": sum(m.get("JVM GC Time", 0) for m in flat) / 1000.0,
            "shuffle_write_bytes": sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for m in flat),
            "heaviest_stage_skew": 1.0,
            "task_run_ms": run_ms,
        }
        if stages:
            heavy = max(stages.values(),
                        key=lambda ms: sum(m.get("Executor Run Time", 0) for m in ms))
            t = [m.get("Executor Run Time", 0) for m in heavy]
            med = statistics.median(t)
            fig["heaviest_stage_skew"] = max(t) / med if med > 0 else 1.0
        out[tag] = fig
    return out


def rollup(figures: dict[str, dict], prefix: str) -> dict:
    """Sum the additive figures of every tag equal to or under ``prefix``;
    task run time p50 and max over all their tasks."""
    keys = ("jobs", "deserialize_s", "gc_s", "shuffle_write_bytes")
    sel = [f for t, f in figures.items() if t == prefix or t.startswith(prefix + "/")]
    out = {k: sum(f[k] for f in sel) for k in keys}
    run_ms = [t for f in sel for t in f["task_run_ms"]]
    out["task_p50_ms"] = statistics.median(run_ms) if run_ms else 0.0
    out["task_max_ms"] = max(run_ms, default=0.0)
    return out
