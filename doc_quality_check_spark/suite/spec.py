"""Declarative check-suite specification.

Reference parity: the reference drives everything from ``config.json``
(/root/reference/config.json:1-108 — document types, keyword catalogs,
thresholds, scoring weights, boost parameters) accessed through a singleton
loader (/root/reference/modules/config_loader.py:10-19,247-267). The engine's
analog is a JSON-able :class:`CheckSuite` of :class:`Check` entries; no
thresholds are hardcoded in operator code ("no hardcoded values",
reference README.md:209-211).

Check kinds
-----------
Row-level (compile to a boolean ``Column``; failures become violation rows):
  ``not_null | min | max | in_range | isin | regex_match | regex_not_match |
  expr | payload_energy | payload_decode | payload_sr_consistency |
  payload_dur_consistency | payload_clipping | transcript_match |
  payload_image_decode | image_luma_range |
  payload_video_decode | video_frame_rate | video_luma_range``
(the image kinds validate an image-bytes column via one
``with_image_metrics`` decode pass, the video kinds a video-bytes column
via one ``with_video_metrics`` pass — functions/media.py)
Table-level (evaluated by the runner as aggregates / joins; schema_match
is pure metadata — no job):
  ``unique | referential | row_count_min | completeness_min | drift_psi |
  drift_ks | drift_w1 | drift_chi2 | distinct_range | quantile_range |
  entropy_range | schema_match | payload_neardup | corr_range``
(``corr_range`` bounds the Pearson correlation between ``column`` and
``params["col2"]`` — the Deequ correlation-analyzer shape,
operators/aggregates.pearson_corr)
(``payload_neardup`` bounds the audio near-duplicate rate — spectral
fingerprints + pigeonhole LSH + connected components,
operators/audio_dedup.py; violations list every non-kept cluster member)

Default thresholds mirror the reference: readability threshold 15
(/root/reference/test_readability.py:15), emptiness threshold 0.5%
(/root/reference/test_readability.py:22).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, asdict
from typing import Any

ROW_LEVEL_KINDS = {
    "not_null",
    "min",
    "max",
    "in_range",
    "isin",
    "regex_match",
    "regex_not_match",
    "expr",
    "payload_energy",
    "payload_decode",
    "payload_sr_consistency",
    "payload_dur_consistency",
    "payload_clipping",
    "transcript_match",
    "payload_image_decode",
    "image_luma_range",
    "payload_video_decode",
    "video_frame_rate",
    "video_luma_range",
}

# row-level kinds that require an AUDIO payload decode (with_payload_metrics)
AUDIO_ROW_KINDS = {
    "payload_energy",
    "payload_decode",
    "payload_sr_consistency",
    "payload_dur_consistency",
    "payload_clipping",
}

# row-level kinds that require an IMAGE payload decode (media.py)
IMAGE_ROW_KINDS = {"payload_image_decode", "image_luma_range"}

# row-level kinds that require a VIDEO payload decode (with_video_metrics)
VIDEO_ROW_KINDS = {
    "payload_video_decode",
    "video_frame_rate",
    "video_luma_range",
}

TABLE_LEVEL_KINDS = {
    "unique",
    "referential",
    "row_count_min",
    "completeness_min",
    "drift_psi",
    "drift_ks",
    "drift_w1",
    "drift_chi2",
    "distinct_range",
    "quantile_range",
    "entropy_range",
    "schema_match",
    "payload_neardup",
    "corr_range",
}


@dataclass
class Check:
    """One declarative constraint.

    ``constraint_id`` is the stable identifier carried on violation rows
    (the analog of the reference's Reason strings — app.py:369-380
    'Empty page' / 'Low readability' / 'OK').
    """

    constraint_id: str
    kind: str
    column: str | None = None
    params: dict[str, Any] = field(default_factory=dict)
    enabled: bool = True
    version: str = "1"
    # lower number = higher priority in the first-failure-wins reason chain
    priority: int = 100

    def __post_init__(self) -> None:
        if self.kind not in ROW_LEVEL_KINDS | TABLE_LEVEL_KINDS:
            raise ValueError(f"unknown check kind: {self.kind!r}")
        if str(self.params.get("severity", "error")).lower() not in (
            "error", "warn",
        ):
            raise ValueError(
                f"check {self.constraint_id!r}: severity must be 'error' or "
                f"'warn', got {self.params['severity']!r}"
            )

    @property
    def severity(self) -> str:
        """'error' (default) or 'warn' — advisory checks report verdicts and
        violations but never flip a row's status or a verdict's passed flag.
        Case-insensitive in the spec; normalized here."""
        return str(self.params.get("severity", "error")).lower()

    @property
    def is_row_level(self) -> bool:
        return self.kind in ROW_LEVEL_KINDS


@dataclass
class CheckSuite:
    """An ordered collection of checks plus suite-wide settings."""

    name: str
    checks: list[Check] = field(default_factory=list)
    # partition columns used for per-partition verdicts / resume units
    partition_by: list[str] = field(default_factory=list)
    settings: dict[str, Any] = field(default_factory=dict)

    def enabled_checks(self) -> list[Check]:
        return [c for c in self.checks if c.enabled]

    def row_checks(self) -> list[Check]:
        return [c for c in self.enabled_checks() if c.is_row_level]

    def table_checks(self) -> list[Check]:
        return [c for c in self.enabled_checks() if not c.is_row_level]

    def to_json(self) -> str:
        return json.dumps(
            {
                "name": self.name,
                "partition_by": self.partition_by,
                "settings": self.settings,
                "checks": [asdict(c) for c in self.checks],
            },
            indent=2,
            sort_keys=True,
        )

    @classmethod
    def from_json(cls, text: str) -> "CheckSuite":
        obj = json.loads(text)
        return cls(
            name=obj["name"],
            partition_by=list(obj.get("partition_by", [])),
            settings=dict(obj.get("settings", {})),
            checks=[Check(**c) for c in obj["checks"]],
        )

    def versions(self) -> dict[str, str]:
        """constraint_id -> version map, recorded in the run manifest."""
        return {c.constraint_id: c.version for c in self.enabled_checks()}


def default_suite() -> CheckSuite:
    """The engine's flagship suite over the clips table.

    Mirrors the reference's default check set: emptiness (ink-ratio < 0.5%,
    test_readability.py:218-221), readability (ocr conf >= 15,
    test_readability.py:216), decode-error rows kept in-band
    (test_readability.py:262-271), plus schema/domain/uniqueness/referential
    checks from the north rule.
    """
    return CheckSuite(
        name="audio_clip_quality_v1",
        partition_by=["part_key"],
        settings={
            "emptiness_threshold_pct": 0.5,
            "readability_threshold": 15.0,
        },
        checks=[
            # --- metadata checks (never touch the bytes column) ---
            Check("clip_id_not_null", "not_null", "clip_id", priority=1),
            Check("sr_domain", "isin", "sr_hz",
                  {"values": [8000, 16000, 22050, 24000, 44100, 48000]}, priority=10),
            Check("dur_range", "in_range", "dur_ms",
                  {"min": 1, "max": 120_000}, priority=11),
            Check("codec_domain", "isin", "codec",
                  {"values": ["pcm_s16le", "pcm_u8", "flac"]}, priority=12),
            Check("transcript_not_empty", "not_null", "transcript",
                  {"treat_empty_as_null": True}, priority=20),
            Check("transcript_no_artifacts", "regex_not_match", "transcript",
                  {"pattern": r"(https?://\S+|file:///\S+|\d{2}/\d{2}/\d{4}\s+\d{1,2}:\d{2})"},
                  priority=21),
            # --- payload checks (pandas-UDF metrics; cf. clarity_check.py:11-38
            #     ink ratio, confidence_check.py:178-261 confidence) ---
            Check("clip_not_silent", "payload_energy", "bytes",
                  {"threshold_pct": 0.5}, priority=2),
            Check("clip_decodable", "payload_decode", "bytes",
                  {"threshold": 15.0}, priority=3),
            Check("sr_consistent", "payload_sr_consistency", "bytes", priority=4),
            Check("dur_consistent", "payload_dur_consistency", "bytes",
                  {"tolerance_ms": 50}, priority=5),
            # --- table-level ---
            Check("clip_id_unique", "unique", "clip_id", {"salt_buckets": 64}),
            Check("transcript_in_catalog", "referential", "clip_id",
                  {"ref_table": "transcript_catalog", "ref_column": "clip_id"}),
            Check("completeness_transcript", "completeness_min", "transcript",
                  {"min_ratio": 0.95}),
            Check("sr_drift", "drift_psi", "sr_hz",
                  {"baseline_table": "baseline_snapshot", "max_psi": 0.2}),
        ],
    )
