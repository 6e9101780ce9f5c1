"""The Arrow-hardened DuckDB oracle gate as a pytest module.

Until round 4 this gate (tools/check_oracle.py) was a manually-run tool; a
regression in any driver query the per-round sampler happened to skip would
sail through ``pytest tests/`` green. This module runs the SAME compare —
row count, column-name set, order-insensitive value hash with the driver's
Decimal-tagging normalizer — for the queries the driver has NEVER sampled
in any round (the only correctness evidence they have), at sf0.01.

Full-registry runs stay with ``python tools/check_oracle.py`` (~86 queries,
minutes); this module pins the coverage holes in seconds-per-query CI.
"""

from __future__ import annotations

import os
import sys

import pytest

duckdb = pytest.importorskip("duckdb")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import table_hash  # the driver-replica normalizer

SF_DIR = "/root/testdata/sf0.01"

# never driver-sampled across CORRECTNESS_r01..r03 — their only gate is here.
# audio_neardup is rows-only by design (no SQL form for an FFT) and is
# covered by tests/test_audio_dedup.py instead.
NEVER_SAMPLED = [
    "asof_join",
    "column_corr",  # new in round 4 (exact-sum Pearson correlation)
    "column_entropy",
    "heavy_hitters_cms",
    "image_decode_metrics",  # new in round 4 (real PNG+JPEG codecs)
    # round 5: gained an oracle (self-checking epsilon-bound booleans) —
    # never sampled WITH an oracle before, so it pins here
    "percentiles_sketch",
    "range_join",
    "running_total",
    "sessionize",
    "token_budget",
    "upsample_groups",
    # round 5: brand-new driver-gated queries — no driver rows yet, pin
    # here (MJPEG-AVI + Y4M frame sampling with SQL-rederived fan-out;
    # the full audio codec matrix incl. G.711/ADPCM/native-FLAC with
    # SNR self-checks)
    "video_frame_metrics",
    "audio_decode_metrics",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as entrymod

    return entrymod


@pytest.fixture(scope="module")
def duck():
    from doc_quality_check_spark.queries import TABLES

    con = duckdb.connect()
    for tb in TABLES:
        path = os.path.join(SF_DIR, f"{tb}.parquet")
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def test_registry_covers_targets(entry):
    qs = entry.queries()
    oracles = entry.oracle_sql()
    missing = [n for n in NEVER_SAMPLED if n not in qs]
    assert not missing, f"queries() lost registry entries: {missing}"
    no_oracle = [n for n in NEVER_SAMPLED if n not in oracles]
    assert not no_oracle, f"oracle_sql() lost entries: {no_oracle}"


@pytest.mark.parametrize("name", NEVER_SAMPLED)
def test_oracle_parity(name, spark, entry, duck):
    sdf = entry.queries()[name](spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns

    # Arrow fetch, mirroring the driver: fetchall() coerces HUGEINT to
    # Python int and would hide decimal128-vs-int64 divergence
    atable = duck.execute(entry.oracle_sql()[name]).fetch_arrow_table()
    dcols = atable.column_names
    dcolumns = [atable.column(c).to_pylist() for c in dcols]
    drows = list(zip(*dcolumns)) if dcols else []
    if atable.num_rows and not drows:
        drows = [()] * atable.num_rows

    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} (spark) != {len(drows)} (oracle)"
    )
    assert sorted(scols) == sorted(dcols), (
        f"{name}: columns {sorted(scols)} != {sorted(dcols)}"
    )
    s_hash = table_hash(scols, [[r[c] for c in scols] for r in srows])
    d_hash = table_hash(dcols, drows)
    assert s_hash == d_hash, (
        f"{name}: value hash mismatch {s_hash[:12]} != {d_hash[:12]} "
        f"({len(srows)} rows)"
    )


def test_registry_rotates_by_staleness(entry):
    """queries()/oracle_sql() order by driver-confirmation staleness
    (never-sampled rank 0 first), extended automatically from any
    CORRECTNESS_r*.json records on disk — the prefix the driver samples
    always covers the least-recently-confirmed queries."""
    last = entry._last_driver_round()
    order = list(entry.queries())
    ranks = [last.get(n, 0) for n in order]
    assert ranks == sorted(ranks), "registry not in staleness order"
    # oracle_sql order is consistent with queries order
    osql = list(entry.oracle_sql())
    filtered = [n for n in order if n in set(osql)]
    assert filtered == osql


def test_rotation_ignores_failed_samples(entry, tmp_path, monkeypatch):
    """A driver record row with a mismatch/err is NOT a confirmation: the
    query keeps its old rank and stays in the sampled prefix (the r2
    sessionize hash-fail must never rotate out of sight). Odd-shaped or
    unreadable records degrade to the literal map instead of crashing."""
    import json
    import shutil

    src_dir = os.path.dirname(os.path.abspath(entry.__file__))
    shutil.copy(os.path.join(src_dir, "__spark_entry__.py"),
                tmp_path / "__spark_entry__.py")
    # fake r9 record: one green row, one hash-fail, one err row
    (tmp_path / "CORRECTNESS_r09.json").write_text(json.dumps({
        "upsample_groups": {"rows_match": True, "schema_match": True,
                            "hash_match": True, "err": None},
        "sessionize": {"rows_match": True, "schema_match": True,
                       "hash_match": False, "err": None},
        "asof_join": {"err": "boom"},
    }))
    # malformed top-level-array record must not crash the entrypoints
    (tmp_path / "CORRECTNESS_r10.json").write_text('[{"name": "range_join"}]')
    (tmp_path / "CORRECTNESS_r11.json").write_text("{not json")

    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_under_test", tmp_path / "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    last = mod._last_driver_round()
    assert last["upsample_groups"] == 9          # green row confirms
    assert last.get("sessionize") == 2           # hash-fail: rank unchanged
    assert last.get("asof_join", 0) == 0         # err row: still unconfirmed
    assert last.get("range_join", 0) == 10       # list-of-dicts shape parses
    order = list(mod.queries())                  # and nothing crashed
    assert order.index("asof_join") < order.index("upsample_groups")


def test_check_oracle_imports_the_package_beside_it(tmp_path):
    """tools/check_oracle.py puts its own checkout first on sys.path: run
    from a second copy of the repository (an A/B parent, a worktree), the
    package modules imported after it come from that copy."""
    import shutil
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    copy = tmp_path / "checkout"
    skip = shutil.ignore_patterns("__pycache__")
    for d in ("tools", "doc_quality_check_spark"):
        shutil.copytree(os.path.join(root, d), copy / d, ignore=skip)
    probe = ("import tools.check_oracle\n"
             "import doc_quality_check_spark.operators.aggregates as m\n"
             "print(m.__file__)")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", probe], cwd=copy, env=env,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == str(
        copy / "doc_quality_check_spark" / "operators" / "aggregates.py")
