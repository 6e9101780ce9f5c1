"""Deterministic synthetic clips-table generator (FIXTURES.md §1-§3).

The Spark analog of the reference's category-labeled fixture corpus
(/root/reference/dataset/: valid-pdfs, unclear-pdfs, empty-pdfs, italian_ids,
big-pdf-but-readable — SURVEY.md §5.1): every row carries an intent
``category`` and anomalies are injected at known deterministic positions so
the golden violation set is exactly derivable.

Anomaly buckets (i % 200 → exactly one anomaly per row, disjoint by design):
  0 silent            → clip_not_silent + clip_decodable violations
  1 corrupt bytes     → clip_decodable violation (decode error row, in-band)
  2 invalid sr_hz     → sr_domain violation
  3 invalid dur_ms    → dur_range violation
  4 unknown codec     → codec_domain violation
  5 empty transcript  → transcript_not_empty violation
  6 artifact transcript → transcript_no_artifacts violation
  7 header sr mismatch → sr_consistent violation
  8 payload/dur mismatch → dur_consistent violation
  9 missing from catalog → transcript_in_catalog violation
  10 hot duplicate clip_id (all share one id → skew for salted agg)
  11+12 pairwise duplicate clip_ids within each 200-block
  13 long clip        → category 'long'
  14-16 keyworded transcript (catalog keyword hits, MRZ-style '<<<<<' runs)
  17 multi-line Key/Value transcript (F16 extraction on natural fixture data)
  else valid

Codec distribution is heavily skewed (>=90% pcm_s16le) per FIXTURES.md to
exercise AQE/salting paths.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from doc_quality_check_spark.functions.audio import synth_clip_bytes

VOCAB = (
    "signal sample audio clip speech noise tone voice sound wave "
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
).split()

# keyword catalogs — the analog of config.json:2-25 document-type keyword lists
KEYWORD_CATALOG = {
    "identity": ["identity", "document", "card", "registration"],
    "broadcast": ["broadcast", "radio", "station", "frequency"],
}
ARTIFACT_SNIPPETS = [
    "see https://example.com/page?id=1 for details",
    "stored at file:///tmp/cache/clip.bin",
    "recorded 12/31/2024 23:59 local time",
]

CODECS = ["pcm_s16le", "pcm_u8", "flac"]
VALID_SR = [8000, 16000, 22050, 44100, 48000]


def _transcript(rng: np.random.Generator, bucket: int) -> str:
    if bucket == 17:
        # natural multi-line Key/Value transcript (session-log style): both
        # separator forms, a duplicate key for the last-wins rule — the F16
        # extraction path runs on fixture data, no synthesized columns
        # (VERDICT r2 #9)
        n = int(rng.integers(0, 100))
        lang = str(rng.choice(["en", "de", "fr"]))
        return (
            f"Name: speaker {n}\nLang - {lang}\nSession: {n}\n"
            f"Lang - {lang.upper()}"
        )
    words = list(rng.choice(VOCAB, size=int(rng.integers(6, 18))))
    if bucket in (14, 15, 16):
        cat = "identity" if bucket != 15 else "broadcast"
        words += list(rng.choice(KEYWORD_CATALOG[cat], size=2))
        if bucket == 16:
            words.append("<<<<<<<<")
    if bucket == 6:
        words.append(ARTIFACT_SNIPPETS[int(rng.integers(0, len(ARTIFACT_SNIPPETS)))])
    return " ".join(str(w) for w in words)


def generate_clips(out_dir: str, n_rows: int = 4000, seed: int = 42) -> str:
    """Write clips.parquet, transcript_catalog.parquet, baseline_snapshot.parquet
    and expected_violations.parquet into ``out_dir``. Idempotent (cached via a
    marker file keyed on n_rows/seed)."""
    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, "_GENERATED.json")
    key = {"n_rows": n_rows, "seed": seed, "v": 9}
    if os.path.exists(marker):
        with open(marker) as fh:
            if json.load(fh) == key:
                return out_dir

    rng = np.random.default_rng(seed)
    clip_ids, payloads, srs, durs, codecs, transcripts, cats, parts = (
        [], [], [], [], [], [], [], [])
    violations: list[tuple[str, str]] = []
    catalog_ids: set[str] = set()

    for i in range(n_rows):
        b = i % 200
        row_rng = np.random.default_rng(seed * 1_000_003 + i)
        clip_id = f"clip_{i:08d}"
        sr = int(row_rng.choice(VALID_SR, p=[0.35, 0.35, 0.1, 0.1, 0.1]))
        dur = int(row_rng.integers(200, 1500))
        # skewed codec: ~92% pcm_s16le
        codec = str(row_rng.choice(CODECS, p=[0.92, 0.05, 0.03]))
        category = "valid"
        silent = corrupt = False
        header_override = None
        synth_dur = dur
        transcript = _transcript(row_rng, b)
        in_catalog = True

        if b == 0:
            silent, category = True, "silent"
            violations += [(clip_id, "clip_not_silent"), (clip_id, "clip_decodable")]
        elif b == 1:
            corrupt, category = True, "corrupt"
            violations += [(clip_id, "clip_decodable")]
        elif b == 2:
            sr = int(row_rng.choice([0, -1, 96001]))
            category = "anomaly"
            violations += [(clip_id, "sr_domain")]
            if sr <= 0:  # unrenderable: use tiny positive rate for synthesis
                header_override = 8000
                synth_dur = dur
        elif b == 3:
            dur = int(row_rng.choice([0, -5]))
            synth_dur = 300
            category = "anomaly"
            violations += [(clip_id, "dur_range")]
        elif b == 4:
            codec = "opus??"
            category = "anomaly"
            violations += [(clip_id, "codec_domain")]
        elif b == 5:
            transcript = "" if i % 400 == 5 else None
            category = "anomaly"
            violations += [(clip_id, "transcript_not_empty")]
        elif b == 6:
            category = "anomaly"
            violations += [(clip_id, "transcript_no_artifacts")]
        elif b == 7:
            header_override = 11025
            category = "anomaly"
            violations += [(clip_id, "sr_consistent")]
        elif b == 8:
            synth_dur = dur + 400  # payload longer than declared by >50ms
            category = "anomaly"
            violations += [(clip_id, "dur_consistent")]
        elif b == 9:
            in_catalog = False
            category = "anomaly"
            violations += [(clip_id, "transcript_in_catalog")]
        elif b == 10:
            clip_id = "clip_hot_00000000"  # hot duplicate key (skew)
            category = "dup"
        elif b in (11, 12):
            clip_id = f"clip_dup_{i // 200:08d}"  # pairwise duplicate
            category = "dup"
        elif b == 13:
            dur = int(row_rng.integers(6000, 10000))
            synth_dur = dur
            category = "long"
        elif b in (14, 15, 16):
            category = "keyworded"

        render_sr = sr if sr > 0 else (header_override or 8000)
        if sr <= 0:
            header_override = render_sr
        payload = synth_clip_bytes(
            seed * 7 + i, render_sr, max(synth_dur, 1), codec,
            silent=silent, corrupt=corrupt, header_sr_override=header_override,
        )
        clip_ids.append(clip_id)
        payloads.append(payload)
        srs.append(sr)
        durs.append(dur)
        codecs.append(codec)
        transcripts.append(transcript)
        cats.append(category)
        parts.append(f"p{i % 8:02d}")
        if in_catalog:
            catalog_ids.add(clip_id)

    schema = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
        ("category", pa.string()), ("part_key", pa.string()),
    ])
    # Small row groups (~1k rows ≈ 35MB of payload) so Spark's scan can split
    # the binary column across tasks — a single default-sized row group would
    # serialize the whole decode stage onto one core. Payloads are stored
    # UNCOMPRESSED: encoded audio is high-entropy, snappy gains ~2% size but
    # costs ~13× scan time in Spark's parquet reader (measured 20s → 1.5s for
    # 683MB) — the same reasoning applies to production media tables.
    # Written in CHUNKS: a single pyarrow binary array caps at 2GB (int32
    # offsets), so large fixture sizes must stream through a ParquetWriter.
    def _write_chunked(path: str, idx: list[int], chunk: int = 8192) -> None:
        with pq.ParquetWriter(path, schema, compression="NONE") as wr:
            for s in range(0, len(idx), chunk):
                sel = idx[s : s + chunk]
                wr.write_table(
                    pa.table(
                        [
                            [clip_ids[i] for i in sel],
                            [payloads[i] for i in sel],
                            [srs[i] for i in sel],
                            [durs[i] for i in sel],
                            [codecs[i] for i in sel],
                            [transcripts[i] for i in sel],
                            [cats[i] for i in sel],
                            [parts[i] for i in sel],
                        ],
                        schema=schema,
                    ),
                    row_group_size=1024,
                )

    _write_chunked(os.path.join(out_dir, "clips.parquet"), list(range(n_rows)))

    # partition-sharded copy (one file per part_key) — the per-Iceberg-
    # partition work-unit layout: each executor/work unit reads only its
    # partitions' files.
    parts_dir = os.path.join(out_dir, "clips_parts")
    os.makedirs(parts_dir, exist_ok=True)
    part_arr = np.array(parts)
    for pk in sorted(set(parts)):
        idx = np.nonzero(part_arr == pk)[0].tolist()
        _write_chunked(os.path.join(parts_dir, f"{pk}.parquet"), idx)

    # uniqueness violations: every clip_id that appears more than once
    ids_arr = np.array(clip_ids)
    uniq, counts = np.unique(ids_arr, return_counts=True)
    for cid in uniq[counts > 1]:
        violations.append((str(cid), "clip_id_unique"))

    cat_sorted = sorted(catalog_ids)
    cat_rng = np.random.default_rng(seed + 1)
    pq.write_table(
        pa.table({
            "clip_id": cat_sorted,
            "canonical_transcript": [f"canonical text {c}" for c in cat_sorted],
            "lang": list(cat_rng.choice(["en", "it", "hi"], size=len(cat_sorted))),
        }),
        os.path.join(out_dir, "transcript_catalog.parquet"),
    )

    # baseline snapshot: codec histogram intentionally *shifted* vs current
    # (more pcm_u8 mass) so PSI is known-nonzero; sr histogram ~identical.
    sr_vals, sr_counts = np.unique(np.array(srs)[np.array(srs) > 0], return_counts=True)
    base_rows = [("sr_hz", str(int(v)), int(c)) for v, c in zip(sr_vals, sr_counts)]
    n_valid = sum(1 for c in codecs if c in CODECS)
    base_rows += [("codec", "pcm_s16le", int(0.70 * n_valid)),
                  ("codec", "pcm_u8", int(0.25 * n_valid)),
                  ("codec", "flac", int(0.05 * n_valid))]
    pq.write_table(
        pa.table({
            "metric": [r[0] for r in base_rows],
            "bucket": [r[1] for r in base_rows],
            "count": pa.array([r[2] for r in base_rows], pa.int64()),
        }),
        os.path.join(out_dir, "baseline_snapshot.parquet"),
    )

    viol_sorted = sorted(set(violations))
    pq.write_table(
        pa.table({
            "clip_id": [v[0] for v in viol_sorted],
            "constraint_id": [v[1] for v in viol_sorted],
        }),
        os.path.join(out_dir, "expected_violations.parquet"),
    )
    with open(marker, "w") as fh:
        json.dump(key, fh)
    return out_dir


def load_clips(spark, data_dir: str):
    return spark.read.parquet(os.path.join(data_dir, "clips.parquet"))


def load_catalog(spark, data_dir: str):
    return spark.read.parquet(os.path.join(data_dir, "transcript_catalog.parquet"))


def load_baseline(spark, data_dir: str):
    return spark.read.parquet(os.path.join(data_dir, "baseline_snapshot.parquet"))
