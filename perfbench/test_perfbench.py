"""Tests of the benchmark itself: seeded inputs are byte-deterministic, and
every metric it emits is declared in BENCHMARK.json.

Run from the repository root: ``python3 -m pytest perfbench -q``. The two
subprocess tests start Spark and take about two minutes together.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from doc_quality_check_spark.sources.clips import generate_clips  # noqa: E402
from perfbench import inputs, layers  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree_files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(p, f), d)
        for p, _, fs in os.walk(d) for f in fs
    )


def _same_tree(a: str, b: str) -> bool:
    files = _tree_files(a)
    return files == _tree_files(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files
    )


def test_codec_mix_is_byte_deterministic(tmp_path):
    def build(name, seed):
        return inputs.codec_mix_clips(str(tmp_path / name), 24, seed)

    assert _same_tree(build("a", 5), build("b", 5))
    assert not _same_tree(build("a", 5), build("c", 6))


def test_codec_mix_rows_follow_the_declared_mix():
    plan = inputs.codec_mix_rows(200, seed=3)
    assert len(plan["corrupt_ids"]) == 2
    assert sum(s[5] for s in plan["synth"]) == 2
    other = inputs.codec_mix_rows(200, seed=4)
    bounds = plan["file_bounds"]
    assert len(bounds) == inputs.MIX_FILES + 1
    for lo, hi in zip(bounds, bounds[1:]):
        # every file holds the declared mix
        labels = [s[3] for s in plan["synth"][lo:hi]]
        for codec, (share, _) in inputs.CODEC_MIX.items():
            assert labels.count(codec) == round(share * (hi - lo))
        # same per-file decode work for every seed: only the row order differs
        assert sorted(s[1:4] for s in plan["synth"][lo:hi]) == \
            sorted(s[1:4] for s in other["synth"][lo:hi])


def test_job_snapshots_are_byte_deterministic(tmp_path):
    src = generate_clips(str(tmp_path / "src"), 200, seed=9)
    a = inputs.build_job_snapshots(src, str(tmp_path / "a"), 3, 50, seed=9)
    b = inputs.build_job_snapshots(src, str(tmp_path / "b"), 3, 50, seed=9)
    c = inputs.build_job_snapshots(src, str(tmp_path / "c"), 3, 50, seed=10)
    for k in ("snap1", "snap2", "catalog"):
        assert filecmp.cmp(a[k], b[k], shallow=False)
    assert not filecmp.cmp(a["snap1"], c["snap1"], shallow=False)
    assert a["touched"] == b["touched"] and a["n_rows"] == 600
    assert 1 <= len(a["touched"]) <= 6  # 1% of 600 rows


def test_codec_layer_metrics_are_declared():
    names = {m["name"] for m in _declared()["per_layer"]}
    got = layers.codec_layer(seed=1, n_clips=1, reps=1)
    assert set(got) <= names
    assert got["audio.decode_ms.flac_native"] > got["audio.decode_ms.pcm_s16le"]


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace,section", [("0", "end_to_end"), ("1", "per_layer")])
def test_emitted_metrics_match_benchmark_json(trace, section):
    bench = _declared()
    wl = bench["workloads"][0]["name"]
    p = _run(["--workload", wl, "--seed", "3", "--seconds", "1",
              "--trace", trace], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    declared = {m["name"]: m["unit"] for m in bench[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(["--workload", "job_partitions", "--seed", "1", "--seconds", "1"],
             str(tmp_path))
    assert p.returncode != 0
    assert "correct" not in p.stdout
