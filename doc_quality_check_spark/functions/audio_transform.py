"""Audio payload TRANSFORMS — bytes → bytes, Arrow-batched, fully real.

The validation engine's decode path (functions/audio.py) is read-only; a
curation pipeline also REWRITES payloads: loudness-normalize to a target
dBFS, trim the lead/trail silence the curation metrics measured, resample
to a uniform training rate. Each transform here decodes with the same
parsers the checks use, operates on float PCM in numpy, and re-encodes in
the clip's ORIGINAL codec, updating the metadata columns (`sr_hz`,
`dur_ms`) to match the new payload — so a transformed table still passes
the sr/dur consistency checks.

Execution shape: ONE ``mapInPandas`` pass per transform chain (decode once,
apply every requested step, encode once), same Arrow batch-size discipline
as the metrics UDFs. Decode failures keep the original payload untouched
and carry an in-band ``transform_error`` string (the engine-wide error-row
rule — never drop a row, never fail the job).

Reference analog: the payload resize/decimate step
(/root/reference/utils/content_extraction.py:15-44) is the reference's only
payload TRANSFORM; these operators are its audio generalization.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from doc_quality_check_spark.functions.audio import (
    _SILENCE_THR,
    decode_payload,
    encode_wav_pcm16,
    encode_wav_pcmu8,
)
from doc_quality_check_spark.functions.flac import encode_flac

AUDIT_FIELDS = [
    StructField("gain_db", DoubleType()),
    StructField("trimmed_ms", DoubleType()),
    StructField("transform_error", StringType()),
]


def _encode(pcm: np.ndarray, sr: int, codec: str) -> bytes:
    if codec == "pcm_u8":
        return encode_wav_pcmu8(pcm, sr)
    if codec in ("flac", "flac_native"):
        return encode_flac(pcm, sr)
    return encode_wav_pcm16(pcm, sr)


def _resample(pcm: np.ndarray, sr: int, target_sr: int) -> np.ndarray:
    """Linear-interpolation resample (stdlib-free, deterministic). Good
    enough for rate unification; swap in a polyphase filter where aliasing
    matters."""
    if sr == target_sr or pcm.size == 0:
        return pcm
    n_out = max(1, int(round(pcm.size * target_sr / sr)))
    x_out = np.arange(n_out, dtype=np.float64) * (pcm.size - 1) / max(n_out - 1, 1)
    return np.interp(x_out, np.arange(pcm.size, dtype=np.float64), pcm).astype(
        np.float32
    )


def transform_clips(
    df: DataFrame,
    target_dbfs: float | None = None,
    trim_keep_ms: float | None = None,
    target_sr: int | None = None,
    payload_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """Apply the enabled transforms (in order: trim → resample → gain) in a
    single decode-encode pass. Returns the input schema with ``payload_col``
    /``sr_col``/``dur_col`` rewritten plus audit columns (gain_db applied,
    trimmed_ms removed, transform_error)."""
    # idempotent audit columns: a chained transform_clips(transform_clips(..))
    # call, or an input already carrying audit columns, must not produce
    # duplicate names — prior audit columns are REPLACED by this pass's
    audit_names = {f.name for f in AUDIT_FIELDS}
    in_fields = [f for f in df.schema.fields if f.name not in audit_names]
    out_schema = StructType(in_fields + AUDIT_FIELDS)
    col_names = [f.name for f in in_fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gains, trims, errs = [], [], []
            new_payloads, new_srs, new_durs = [], [], []
            for buf, codec, sr_meta, dur_meta in zip(
                pdf[payload_col], pdf[codec_col], pdf[sr_col], pdf[dur_col]
            ):
                # None (→ SQL NULL), not NaN: downstream completeness /
                # is-null checks must distinguish 'transform not applied or
                # decode failed' from a real measured value — matching the
                # engine's in-band NULL error-row convention
                gain_db = trimmed = None
                err = None
                out_buf, out_sr, out_dur = buf, sr_meta, dur_meta
                try:
                    sr, pcm = decode_payload(buf, str(codec))
                    if sr <= 0 or pcm.size == 0:
                        raise ValueError("undecodable payload")
                    if trim_keep_ms is not None:
                        keep = int(sr * trim_keep_ms / 1000)
                        voiced = np.flatnonzero(np.abs(pcm) > _SILENCE_THR)
                        if voiced.size:
                            lo = max(0, int(voiced[0]) - keep)
                            hi = min(pcm.size, int(voiced[-1]) + 1 + keep)
                            trimmed = 1000.0 * (pcm.size - (hi - lo)) / sr
                            pcm = pcm[lo:hi]
                        else:
                            trimmed = 0.0  # all-silent: nothing voiced to anchor
                    if target_sr is not None and target_sr > 0:
                        pcm = _resample(pcm, sr, target_sr)
                        sr = target_sr
                    if target_dbfs is not None:
                        rms = float(
                            np.sqrt(np.mean(np.square(pcm, dtype=np.float64)))
                        )
                        if rms > 1e-6:
                            gain = 10.0 ** ((target_dbfs - 20.0 * np.log10(rms)) / 20.0)
                            # cap so the hottest sample hits full scale, not
                            # beyond (clipping a quiet clip to reach the
                            # target would defeat the normalization)
                            peak = float(np.max(np.abs(pcm)))
                            if peak > 0:
                                gain = min(gain, 1.0 / peak)
                            pcm = (pcm * gain).astype(np.float32)
                            gain_db = round(20.0 * np.log10(gain), 4)
                        else:
                            gain_db = 0.0  # silent: nothing to normalize
                    out_buf = bytearray(_encode(pcm, int(sr), str(codec)))
                    out_sr = int(sr)
                    out_dur = int(round(1000.0 * pcm.size / sr))
                except Exception as exc:  # in-band error row, original kept
                    err = str(exc)
                    # NULL int metadata arrives as pandas NaN in a float
                    # column; passing NaN into the IntegerType output would
                    # fail the Arrow cast — keep it an explicit NULL
                    out_sr = None if pd.isna(sr_meta) else int(sr_meta)
                    out_dur = None if pd.isna(dur_meta) else int(dur_meta)
                new_payloads.append(out_buf)
                new_srs.append(out_sr)
                new_durs.append(out_dur)
                gains.append(gain_db)
                trims.append(trimmed)
                errs.append(err)
            out = pdf.copy()
            out[payload_col] = new_payloads
            out[sr_col] = new_srs
            out[dur_col] = new_durs
            # nullable Float64 keeps None as NULL through the Arrow cast (a
            # plain float64 series would silently coerce None back to NaN)
            out["gain_db"] = pd.array(gains, dtype="Float64")
            out["trimmed_ms"] = pd.array(trims, dtype="Float64")
            out["transform_error"] = errs
            yield out[col_names + [f.name for f in AUDIT_FIELDS]]

    return df.mapInPandas(gen, out_schema)
