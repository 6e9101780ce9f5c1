"""Audio near-duplicate detection via spectral fingerprints + banded LSH.

The audio analog of the text near-dup family (operators/dedup.py): a
Haitsma–Kalker-style 64-bit fingerprint — signs of time/frequency
band-energy differences — computed once per clip in an Arrow-batched
pandas UDF, then paired by the same pigeonhole block equi-join that
:func:`doc_quality_check_spark.operators.dedup.simhash_pairs` uses, with
an exact Hamming verify (`bit_count(a XOR b)`) on candidates only.

Reference analog: none (beyond-parity LLM-pipeline component) — the
reference dedupes documents by content heuristics only; a training-data
pipeline over audio needs payload-level near-dup (same recording,
re-encoded / re-leveled / lightly noised) that metadata equality misses.

Why this survives 100 TB:
- the fingerprint pass is the SAME single decode the suite already pays
  (one pandas-UDF scan, Arrow-batched, numpy per clip — one rfft over the
  frame-stacked matrix per clip, no per-sample Python);
- pairing never self-joins the corpus: candidates come from an equi-join
  on (block_idx, block_value) — with ``max_hamming+1`` blocks, pigeonhole
  guarantees every qualifying pair shares an identical block — and the
  Hamming verify runs JVM-side on the candidate set only;
- the fingerprint is amplitude-invariant (global gain scales every band
  energy by the same factor; difference SIGNS are unchanged), so
  re-leveled copies collide exactly.

Degenerate payloads: silence (and any spectrally-flat-enough clip whose
band differences are all ~0) fingerprints to 0, so all-silent clips pair
with each other — the desired curation outcome (silence is fungible).
Undecodable payloads fingerprint to NULL and are excluded from pairing
(the suite's payload_decode check already reports them).

Conditioning caveat: the HK bits are signs of TEMPORAL band-energy
differences, well-conditioned exactly when the spectrum moves over time —
which real speech/music does. A perfectly STATIONARY signal (a steady
test tone) makes every difference ~0 and the bits float32-coin-flips;
such content should be deduped by the exact-hash path instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from doc_quality_check_spark.functions.audio import _hann, decode_payload
from doc_quality_check_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET_SIZE,
    auto_hamming_blocks,
    banded_pairs,
    hamming_block_keys,
)

# 9 time frames x 9 log-spaced bands -> (9-1) x (9-1) = 64 difference bits
AFP_FRAMES = 9
AFP_BANDS = 9
AFP_BITS = (AFP_FRAMES - 1) * (AFP_BANDS - 1)
AFP_F_LO = 100.0
AFP_F_HI = 4000.0


def audio_fingerprint_pcm(
    pcm: np.ndarray, sr: int, frames: int = AFP_FRAMES, bands: int = AFP_BANDS
) -> int | None:
    """64-bit spectral fingerprint of one decoded clip, or None when the
    clip is too short to frame (< 2 samples per frame) or sr is unusable.

    bit(f,b) = sign of the time-difference of the frequency-difference of
    log-band energies: E(f,b)−E(f,b+1) − (E(f−1,b)−E(f−1,b+1)) > 0 — the
    Haitsma–Kalker (ISMIR 2002) robust-hash bit, invariant to global gain
    and robust to low-level additive noise."""
    if sr <= 0 or pcm.size < 2 * frames:
        return None
    flen = pcm.size // frames
    x = pcm[: flen * frames].astype(np.float64).reshape(frames, flen)
    x = x * _hann(flen)
    spec = np.abs(np.fft.rfft(x, axis=1)) ** 2
    freqs = np.fft.rfftfreq(flen, 1.0 / sr)
    f_hi = min(AFP_F_HI, sr / 2.0)
    f_lo = min(AFP_F_LO, f_hi / 4.0)
    edges = np.geomspace(f_lo, f_hi, bands + 1)
    idx = np.searchsorted(freqs, edges)
    e = np.zeros((frames, bands))
    for b in range(bands):
        if idx[b] < idx[b + 1]:
            e[:, b] = spec[:, idx[b] : idx[b + 1]].sum(axis=1)
    d = e[:, :-1] - e[:, 1:]          # frequency difference
    bits = (d[1:] - d[:-1]) > 0       # time difference of that, sign
    val = 0
    for bit in bits.ravel():
        val = (val << 1) | int(bit)
    if val >= 1 << 63:                # wrap into a signed Spark long
        val -= 1 << 64
    return val


def audio_fingerprints(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    frames: int = AFP_FRAMES,
    bands: int = AFP_BANDS,
) -> DataFrame:
    """(id, afp) — one Arrow-batched decode+fingerprint pass. afp is NULL
    for undecodable / too-short payloads (in-band, never a job failure —
    the same error discipline as the metrics UDF, functions/audio.py)."""

    @F.pandas_udf(LongType())
    def _afp(payloads: pd.Series, codecs: pd.Series) -> pd.Series:
        out: list[int | None] = []
        for buf, codec in zip(payloads, codecs):
            try:
                sr, pcm = decode_payload(buf, codec or "")
                out.append(audio_fingerprint_pcm(pcm, sr, frames, bands))
            except Exception:
                out.append(None)
        return pd.Series(pd.array(out, dtype="Int64"))

    return df.select(
        F.col(id_col), _afp(F.col(bytes_col), F.col(codec_col)).alias("afp")
    )


def audio_neardup_pairs(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    max_hamming: int = 7,
    frames: int = AFP_FRAMES,
    bands: int = AFP_BANDS,
    materialize: bool = True,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-duplicate clip pairs; may MISS pairs at scale: a block bucket
    over ``max_bucket_size`` members star-reduces and drops true pairs
    between non-representative members. ``max_bucket_size=None`` gives
    exact pairs.

    Output (id_a, id_b, hamming), fingerprint Hamming distance <=
    max_hamming.

    Candidates come from an equi-join on ``max_hamming + 1`` bit blocks of
    the fingerprint: if hamming(a,b) <= max_hamming, at most max_hamming
    blocks differ, so at least one of the max_hamming+1 blocks is identical
    (pigeonhole) — the block join proposes every qualifying pair without an
    all-pairs scan, exactly as :func:`dedup.simhash_pairs` does for text.

    ``materialize`` (default ON, unlike the text LSH pair finders): the
    fingerprint subtree is a decode+FFT pandas-UDF pass — by far the most
    expensive stage — and the self-join consumes it TWICE; an eager
    localCheckpoint halves the decode work. Measured at the bench point
    (sf0.1 events-synthesized corpus, ~1.5k clips): 28.8s → ~4s. The text
    finders default OFF because their signature pass is one cheap
    aggregation; this one is the hot path itself."""
    # n_blocks=None AUTO-SIZES the key from the corpus count
    # (dedup.auto_hamming_blocks): the classic max_hamming+1 blocks for
    # small corpora, wider combination keys (e.g. 10 blocks → C(10,3)=120
    # keys of ~19 bits) once 8-bit buckets would fill by volume — where
    # the hot-bucket guard would otherwise star-reduce true pairs away.
    # The exact bit_count post-filter keeps the pair set identical for
    # every adequate n_blocks choice.
    fp = audio_fingerprints(df, id_col, bytes_col, codec_col, frames, bands)
    fp = fp.filter(F.col("afp").isNotNull())
    # auto stops at 10 blocks (C(10,3)=120 keys ≈ 26M-fingerprint capacity
    # at the default cap) — combination count grows combinatorially past
    # that, so larger corpora should pass an explicit n_blocks tuned to
    # their scale rather than inherit a 1000+-key explode
    nb = n_blocks if n_blocks is not None else auto_hamming_blocks(
        df.count(), 64, max_hamming, max_bucket_size,
        choices=tuple(b for b in (max_hamming + 1, 10) if b > max_hamming),
    )
    if materialize:
        fp = fp.localCheckpoint(eager=True)
    keys = hamming_block_keys(F.col("afp"), 64, nb, max_hamming)
    long = fp.select(
        F.col(id_col), "afp", F.explode(F.array(*keys)).alias("e")
    ).select(
        F.col(id_col), "afp", F.col("e.blk").alias("blk"), F.col("e.val").alias("val")
    )
    # shared pairing stage with the text LSH finders: exhaustive candidate
    # enumeration below max_bucket_size, star-reduced (bucket-min, member)
    # edges above it — a corpus of near-identical clips puts every
    # fingerprint in one (blk, val) bucket, and without the guard that
    # bucket's self-join output is quadratic (dedup.banded_pairs)
    cand = banded_pairs(
        long, id_col, ["blk", "val"], payload_cols=["afp"],
        max_bucket_size=max_bucket_size,
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("afp_a").bitwiseXOR(F.col("afp_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= F.lit(max_hamming))
