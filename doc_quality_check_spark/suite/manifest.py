"""Checkpoint / run manifest with per-partition lineage and resume.

Reference parity: the reference's report-folder feature — auto-increment run
id by counting existing reports, local timestamp, ``report_<id>_<ts>.<fmt>``
naming (/root/reference/test_readability.py:963-1004,
docs/REPORT_FOLDER_FEATURE.md:11-34). The engine extends that into a real
checkpoint manifest (north rule): one JSON per run recording run_id,
timestamp, input lineage (snapshot id analog: the parquet/Iceberg file list
fingerprint), the constraint-id→version map, per-partition status, the
table-level ``__global__`` verdicts, and the path of the run's verdict
parquet — the only store of per-partition metrics — so a restarted run
anti-joins completed partitions and validates only the remainder.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field


def schema_evolution_diff(prev: dict[str, str], cur: dict[str, str]) -> dict:
    """Column-level diff between two recorded input schemas → {added,
    removed, type_changed, drifted}. Pure metadata (the recorded
    name→simpleString maps) — no Spark job. The job records this against
    the last COMPLETE run so a snapshot that silently gained, lost, or
    re-typed a column is visible in the manifest trail even when every
    value-level check still passes; hard-gate specific columns with a
    ``schema_match`` check."""
    added = [c for c in cur if c not in prev]
    removed = [c for c in prev if c not in cur]
    changed = {c: [prev[c], cur[c]] for c in cur if c in prev and prev[c] != cur[c]}
    return {
        "added": added,
        "removed": removed,
        "type_changed": changed,
        "drifted": bool(added or removed or changed),
    }


@dataclass
class RunManifest:
    run_id: int
    started_at: str
    suite_name: str
    constraint_versions: dict[str, str]
    input_lineage: dict = field(default_factory=dict)
    partitions: dict[str, dict] = field(default_factory=dict)  # part_key -> {status}
    status: str = "running"
    verdicts_path: str | None = None  # the run's verdict parquet, once written

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=2, sort_keys=True)


class ManifestStore:
    """Filesystem-backed manifest store (one JSON per run).

    At cluster scale the same layout lands on object storage / a Delta table;
    the logic (auto-increment id, completed-partition lookup) is identical.
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _paths(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.root, "run_*.json")))

    def next_run_id(self) -> int:
        # count-existing auto-increment, like test_readability.py:970-971
        return len(self._paths()) + 1

    def start_run(self, suite, input_files: list[str] | None = None) -> RunManifest:
        m = RunManifest(
            run_id=self.next_run_id(),
            started_at=time.strftime("%Y%m%d_%H%M%S", time.gmtime()),
            suite_name=suite.name,
            constraint_versions=suite.versions(),
            input_lineage={
                "files": sorted(input_files or []),
                "n_files": len(input_files or []),
            },
        )
        self.save(m)
        return m

    def path_for(self, run_id: int) -> str:
        return os.path.join(self.root, f"run_{run_id:06d}.json")

    def save(self, m: RunManifest) -> None:
        tmp = self.path_for(m.run_id) + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(m.to_json())
        os.replace(tmp, self.path_for(m.run_id))

    @staticmethod
    def _read(path: str) -> RunManifest:
        with open(path) as fh:
            return RunManifest(**json.load(fh))

    def load(self, run_id: int) -> RunManifest:
        return self._read(self.path_for(run_id))

    def latest(self) -> RunManifest | None:
        paths = self._paths()
        return self._read(paths[-1]) if paths else None

    def latest_complete(self) -> RunManifest | None:
        """Most recent run that finished — the carry-forward base for
        incremental re-validation (a crashed run's partial verdicts are
        resumed by run(), never diffed against)."""
        for path in reversed(self._paths()):
            m = self._read(path)
            if m.status == "complete":
                return m
        return None

    # ------------------------------------------------------------------
    def record_partitions(self, m: RunManifest, verdicts_rows: list[dict]) -> None:
        """Mark partitions complete; keep only the ``__global__`` verdicts'
        metrics (per-partition ones stay in ``m.verdicts_path``)."""
        for r in verdicts_rows:
            part = m.partitions.setdefault(r["part_key"], {"status": "complete"})
            if r["part_key"] == "__global__":
                part.setdefault("checks", {})[r["constraint_id"]] = {
                    k: r.get(k)
                    for k in ("n_rows", "n_violations", "passed", "metric_value")
                }
        self.save(m)

    def completed_partitions(self, m: RunManifest) -> list[str]:
        # "__global__" is the synthetic part_key of table-level verdicts,
        # not a data partition — it must never enter the resume skip set
        # (table checks always re-run on the full input).
        return [
            pk for pk, v in m.partitions.items()
            if v.get("status") == "complete" and pk != "__global__"
        ]

    def finish_run(self, m: RunManifest, status: str = "complete") -> None:
        m.status = status
        self.save(m)
