"""Seeded benchmark inputs, built only with the repository's public generators.

Every input function is a pure function of ``seed``: the same seed gives
byte-identical parquet files. Three input sets exist:

- the stock fixture, ``sources.clips.generate_clips`` unchanged (about 92%
  PCM16), the source of the job snapshots;
- ``codec_mix``: a table of ``functions.audio.synth_clip_bytes`` payloads in
  the codec mix of :data:`CODEC_MIX` in every file, with sample rates and durations drawn
  from the stock distribution and about 1% corrupt rows at known ids.
- job snapshots (:func:`build_job_snapshots`): a metadata-only table re-keyed
  to a chosen number of ``part_key`` values, plus a second snapshot with
  about 1% of rows changed, for ``ValidationJob.run_incremental``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from doc_quality_check_spark.functions.audio import synth_clip_bytes
from doc_quality_check_spark.sources.clips import VALID_SR

# codec name given to synth_clip_bytes -> (share of rows, codec column label).
# Native FLAC is labelled 'flac': decode_payload tells it from the legacy
# fake container by its STREAMINFO block.
CODEC_MIX = {
    "flac_native": (0.4, "flac"),
    "adpcm_ima_wav": (0.1, "adpcm_ima_wav"),
    "mulaw": (0.1, "mulaw"),
    "pcm_s16le": (0.4, "pcm_s16le"),
}
# one parquet file, and so one scan task, per file; every file holds the mix
MIX_FILES = 4
# the stock generator's sample-rate distribution and duration range
SR_SHARES = dict(zip(VALID_SR, (0.35, 0.35, 0.1, 0.1, 0.1)))
DUR_MS_RANGE = (200, 1500)
CORRUPT_SHARE = 0.01
# share of job rows whose dur_ms differs in the second snapshot
CHANGE_SHARE = 0.01
MIX_PARTS = 8
VOCAB = "signal sample audio clip speech tone voice sound wave alpha bravo".split()

CLIPS_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ("category", pa.string()), ("part_key", pa.string()),
])


def _exact_counts(shares: dict, n: int) -> dict:
    """Split ``n`` by ``shares`` with largest remainders, so every seed gets
    the same per-codec and per-rate row counts (only their order varies)."""
    raw = {k: s * n for k, s in shares.items()}
    out = {k: int(v) for k, v in raw.items()}
    rest = sorted(raw, key=lambda k: raw[k] - out[k], reverse=True)
    for k in rest[: n - sum(out.values())]:
        out[k] += 1
    return out


def _file_plan(rng: np.random.Generator, n: int) -> list:
    """(codec, sr, dur_ms) rows of one file, shuffled. Codec counts follow
    CODEC_MIX exactly, and within each codec the sample rates follow
    SR_SHARES exactly and are paired in a fixed order with durations evenly
    spaced over DUR_MS_RANGE: the rows of a file, and so its decode work, are
    the same for every seed; only their order and payloads change."""
    shares = {codec: share for codec, (share, _) in CODEC_MIX.items()}
    rows = []
    for codec, count in _exact_counts(shares, n).items():
        srs = [sr for sr, c in _exact_counts(SR_SHARES, count).items() for _ in range(c)]
        durs = np.linspace(DUR_MS_RANGE[0], DUR_MS_RANGE[1] - 1, count).round()
        durs = np.random.default_rng(count).permutation(durs)  # seed-independent
        rows += zip([codec] * count, srs, durs)
    return [rows[i] for i in rng.permutation(len(rows))]


def codec_mix_rows(n_rows: int, seed: int) -> dict:
    """Row-wise plan of the codec-mix table (everything but the payloads);
    rows ``[k * n_rows // MIX_FILES, (k + 1) * n_rows // MIX_FILES)`` form
    file k."""
    rng = np.random.default_rng([seed, 0xC0DEC])
    bounds = [k * n_rows // MIX_FILES for k in range(MIX_FILES + 1)]
    plan = [row for k in range(MIX_FILES)
            for row in _file_plan(rng, bounds[k + 1] - bounds[k])]
    n_corrupt = max(1, round(CORRUPT_SHARE * n_rows))
    corrupt = set(int(i) for i in rng.choice(n_rows, size=n_corrupt, replace=False))
    words = rng.integers(0, len(VOCAB), size=(n_rows, 6))
    ids = [f"mix_{seed}_{i:06d}" for i in range(n_rows)]
    return {
        "clip_id": ids,
        "synth": [(seed * 7919 + i, int(sr), int(dur), codec, False, i in corrupt)
                  for i, (codec, sr, dur) in enumerate(plan)],
        "sr_hz": [int(sr) for _, sr, _ in plan],
        "dur_ms": [int(dur) for _, _, dur in plan],
        "codec": [CODEC_MIX[codec][1] for codec, _, _ in plan],
        "transcript": [" ".join(VOCAB[j] for j in row) for row in words],
        "category": ["corrupt" if i in corrupt else "valid" for i in range(n_rows)],
        "part_key": [f"p{i % MIX_PARTS:02d}" for i in range(n_rows)],
        "file_bounds": bounds,
        "corrupt_ids": sorted(ids[i] for i in corrupt),
    }


def codec_mix_clips(out_dir: str, n_rows: int, seed: int) -> str:
    """Write the codec-mix table as ``MIX_FILES`` parquet files under
    ``clips.parquet/`` (one scan task each), plus a catalog holding every id,
    a baseline histogram equal to the table's own, and ``corrupt_ids.json``."""
    os.makedirs(out_dir, exist_ok=True)
    plan = codec_mix_rows(n_rows, seed)
    payloads = [synth_clip_bytes(*args) for args in plan["synth"]]
    table = pa.table(
        [plan["clip_id"], payloads, plan["sr_hz"], plan["dur_ms"], plan["codec"],
         plan["transcript"], plan["category"], plan["part_key"]],
        schema=CLIPS_SCHEMA,
    )
    clips_dir = os.path.join(out_dir, "clips.parquet")
    os.makedirs(clips_dir, exist_ok=True)
    bounds = plan["file_bounds"]
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(clips_dir, f"part-{f:05d}.parquet"),
                       compression="NONE")
    pq.write_table(
        pa.table({"clip_id": plan["clip_id"],
                  "canonical_transcript": plan["transcript"],
                  "lang": ["en"] * n_rows}),
        os.path.join(out_dir, "transcript_catalog.parquet"),
    )
    sr_vals, sr_counts = np.unique(plan["sr_hz"], return_counts=True)
    pq.write_table(
        pa.table({
            "metric": ["sr_hz"] * len(sr_vals),
            "bucket": [str(int(v)) for v in sr_vals],
            "count": pa.array([int(c) for c in sr_counts], pa.int64()),
        }),
        os.path.join(out_dir, "baseline_snapshot.parquet"),
    )
    with open(os.path.join(out_dir, "corrupt_ids.json"), "w") as fh:
        json.dump(plan["corrupt_ids"], fh)
    return out_dir


def build_job_snapshots(src_dir: str, out_dir: str, tiles: int, n_parts: int,
                        seed: int) -> dict:
    """Metadata-only job input from a clips table at ``src_dir``.

    The table (without ``bytes``) is repeated ``tiles`` times, every row gets
    a unique ``clip_id`` (snapshot diffs need unique keys) and one of
    ``n_parts`` ``part_key`` values in equal shares. The catalog lists the new
    id of every row whose source id was catalogued; the baseline is the
    source's. ``snap2`` equals ``snap1`` except that ``dur_ms`` of about
    ``CHANGE_SHARE`` of the rows is one higher; the partitions holding those
    rows are the expected touched set. Returns the paths and expected counts.
    """
    os.makedirs(out_dir, exist_ok=True)
    src = pq.read_table(os.path.join(src_dir, "clips.parquet"),
                        columns=[f.name for f in CLIPS_SCHEMA if f.name != "bytes"])
    catalog_ids = set(
        pq.read_table(os.path.join(src_dir, "transcript_catalog.parquet"),
                      columns=["clip_id"])["clip_id"].to_pylist()
    )
    table = pa.concat_tables([src] * tiles)
    n = table.num_rows
    if n < n_parts:
        raise ValueError(f"{n} rows cannot fill {n_parts} partitions")
    rng = np.random.default_rng([seed, 0x70B])
    ids = [f"row_{i:08d}" for i in range(n)]
    parts = [f"k{int(p):05d}" for p in rng.permutation(n) % n_parts]
    table = table.set_column(table.schema.get_field_index("clip_id"), "clip_id",
                             pa.array(ids))
    table = table.set_column(table.schema.get_field_index("part_key"), "part_key",
                             pa.array(parts))
    in_catalog = [sid in catalog_ids for sid in src["clip_id"].to_pylist()] * tiles
    n_changed = max(1, round(CHANGE_SHARE * n))
    changed = np.sort(rng.choice(n, size=n_changed, replace=False))
    dur = table["dur_ms"].to_numpy(zero_copy_only=False).copy()
    dur[changed] += 1
    snap2 = table.set_column(table.schema.get_field_index("dur_ms"), "dur_ms",
                             pa.array(dur, pa.int32()))
    paths = {k: os.path.join(out_dir, f"{k}.parquet")
             for k in ("snap1", "snap2", "catalog")}
    pq.write_table(table, paths["snap1"])
    pq.write_table(snap2, paths["snap2"])
    pq.write_table(
        pa.table({
            "clip_id": [i for i, keep in zip(ids, in_catalog) if keep],
            "canonical_transcript": ["-"] * sum(in_catalog),
        }),
        paths["catalog"],
    )
    paths["baseline"] = os.path.join(src_dir, "baseline_snapshot.parquet")
    return {
        **paths,
        "n_rows": n,
        "n_parts": n_parts,
        "touched": sorted({parts[i] for i in changed}),
    }
