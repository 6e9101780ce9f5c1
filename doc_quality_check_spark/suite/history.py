"""Metric history + anomaly detection across runs.

Drift checks (operators/aggregates.py drift_psi/drift_ks) compare against a
single curated baseline SNAPSHOT; a continuously-validated table also wants
the TEMPORAL view: "is this run's pass rate / row count / quantile metric
an outlier against the trail of previous runs?" — the validation-engine
pattern popularized by Deequ's anomaly detection on metric repositories.

The metric repository already exists: every run's verdict parquet holds
per-(partition, constraint) n_rows, n_violations, passed and metric_value,
and its manifest (suite/manifest.py) holds that path and the ``__global__``
rows. This module reads that trail and flags the newest run's metrics that
sit outside k·stddev (or a relative band) of the history — driver-side, no
Spark job: ``__global__`` metrics come from the JSON manifests, others from
a pyarrow read of each run's parquet filtered to one (partition, constraint).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

from doc_quality_check_spark.suite.manifest import ManifestStore

GLOBAL_PART = "__global__"


def load_manifests(store: ManifestStore) -> list[dict]:
    """Parse every run manifest once (oldest first). Callers probing many
    constraints over long trails should load once and pass the result to
    metric_history/detect_anomaly via ``manifests=`` rather than re-reading
    N files per constraint. Also the public way to enumerate partition keys
    (``manifests[-1]["partitions"]``; their metrics are in each run's
    ``verdicts_path``) without touching store internals."""
    out = []
    for path in store._paths():
        with open(path) as f:
            out.append(json.load(f))
    return sorted(out, key=lambda m: int(m.get("run_id", 0)))


def metric_history(
    store: ManifestStore,
    constraint_id: str,
    part_key: str = GLOBAL_PART,
    metric: str = "metric_value",
    manifests: list[dict] | None = None,
) -> list[tuple[int, float]]:
    """(run_id, value) trail for one (partition, constraint) metric, oldest
    first, skipping runs where the metric is absent/None (e.g. the
    constraint was added later — histories survive suite evolution)."""
    out: list[tuple[int, float]] = []
    for m in manifests if manifests is not None else load_manifests(store):
        v = _run_metric(m, constraint_id, part_key, metric)
        if v is not None:
            out.append((int(m["run_id"]), float(v)))
    return sorted(out)


def _run_metric(m: dict, constraint_id: str, part_key: str, metric: str):
    """One run's metric, or None. A manifest without a verdicts path
    (hand-written, or its run crashed first) is read for its own checks."""
    path = m.get("verdicts_path")
    if part_key == GLOBAL_PART or not path:
        checks = m.get("partitions", {}).get(part_key, {}).get("checks", {})
        return checks.get(constraint_id, {}).get(metric)
    import pyarrow.parquet as pq

    vals = pq.read_table(
        path, columns=[metric],
        filters=[("part_key", "=", part_key),
                 ("constraint_id", "=", constraint_id)],
    ).column(metric).to_pylist()
    return vals[0] if vals else None


@dataclass
class AnomalyVerdict:
    constraint_id: str
    part_key: str
    run_id: int | None    # the run whose metric was judged (None: no data)
    value: float          # that run's metric
    mean: float           # history mean (excluding the judged run)
    stddev: float
    n_history: int
    is_anomaly: bool
    reason: str


def detect_anomaly(
    store: ManifestStore,
    constraint_id: str,
    part_key: str = GLOBAL_PART,
    metric: str = "metric_value",
    k: float = 3.0,
    min_history: int = 3,
    max_relative_change: float | None = None,
    manifests: list[dict] | None = None,
) -> AnomalyVerdict:
    """Flag the LATEST run's metric against the prior trail.

    Two detectors (either firing flags the verdict):
    - stddev band: |value - mean(history)| > k · stddev(history); a
      zero-variance history uses an absolute epsilon, so a constant metric
      that suddenly moves at all is flagged;
    - relative band (optional): |value/mean - 1| > max_relative_change.

    Fewer than ``min_history`` prior points → never an anomaly (the trail
    is still forming); callers gate alerting on n_history. If the NEWEST
    manifest in the store does not carry the metric (constraint removed, or
    the run started but its partitions aren't recorded yet), no verdict is
    invented about a stale run: the result is non-anomalous with an
    explicit reason, and ``run_id`` always names the run actually judged.
    ``manifests`` reuses a :func:`load_manifests` result across calls."""
    if manifests is None:
        manifests = load_manifests(store)
    trail = metric_history(store, constraint_id, part_key, metric,
                           manifests=manifests)
    newest = int(manifests[-1]["run_id"]) if manifests else None
    if trail and newest is not None and trail[-1][0] != newest:
        return AnomalyVerdict(
            constraint_id, part_key, None, float("nan"), float("nan"),
            float("nan"), len(trail), False,
            f"metric absent from latest run (run {newest}; last seen in "
            f"run {trail[-1][0]})",
        )
    if len(trail) < min_history + 1:
        v = trail[-1][1] if trail else float("nan")
        return AnomalyVerdict(constraint_id, part_key,
                              trail[-1][0] if trail else None, v,
                              float("nan"),
                              float("nan"), max(len(trail) - 1, 0), False,
                              "insufficient history")
    *prior, (judged_run, value) = trail
    vals = [v for _, v in prior]
    mean = sum(vals) / len(vals)
    var = sum((v - mean) ** 2 for v in vals) / len(vals)
    std = math.sqrt(var)
    band = k * std if std > 0 else max(1e-9, abs(mean) * 1e-9)
    fired = abs(value - mean) > band
    reason = f"|{value} - mean {round(mean, 6)}| > {k}·σ ({round(std, 6)})" \
        if fired else "within stddev band"
    if not fired and max_relative_change is not None and mean != 0:
        rel = abs(value / mean - 1.0)
        if rel > max_relative_change:
            fired = True
            reason = f"relative change {round(rel, 4)} > {max_relative_change}"
    return AnomalyVerdict(constraint_id, part_key, judged_run, value, mean,
                          std, len(prior), fired, reason)
