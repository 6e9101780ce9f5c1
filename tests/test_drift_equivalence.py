"""The global drift statistics against their cross-join formulations.

``drift_psi``, ``drift_ks``, ``drift_w1`` and ``drift_chi2`` take the two
histogram totals from an un-partitioned window; ``tests/drift_crossjoin.py``
keeps the original forms, which joined a separate total aggregate back with
``crossJoin(F.broadcast(tot))``. Every output column must agree on generated
histogram pairs, edge cases included: NULL where the oracle is NULL, and
otherwise within 1e-12 relative (a changed summation order may move the last
bits of a sum of doubles; the integer and max-based outputs are exact).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

import drift_crossjoin as old
from doc_quality_check_spark.operators import aggregates as new
from doc_quality_check_spark.operators.aggregates import histogram

STATS = ("drift_psi", "drift_ks", "drift_w1", "drift_chi2")
HIST = "bucket string, count long"


def _random_pair(seed: int) -> tuple[list, list]:
    rng = np.random.default_rng(seed)
    support = [str(v) for v in rng.choice(200, size=40, replace=False) * 5]
    cur = [(b, int(c)) for b, c in zip(support, rng.integers(1, 10_000, 40))
           if rng.random() < 0.8]
    base = [(b, int(c)) for b, c in zip(support, rng.integers(1, 10_000, 40))
            if rng.random() < 0.8]
    # a repeated bucket row: the histogram pair sums it before comparing
    return cur + cur[:3], base


CASES = {
    "disjoint buckets": ([("1", 5), ("2", 7)], [("3", 4), ("4", 9)]),
    "current empty": ([], [("1", 5), ("2", 7)]),
    "baseline empty": ([("1", 5), ("2", 7)], []),
    "both empty": ([], []),
    "one bucket": ([("16000", 40)], [("16000", 25)]),
    "one bucket each side": ([("8000", 40)], [("16000", 25)]),
    "categorical buckets": ([("flac", 30), ("pcm_s16le", 50), ("pcm_u8", 3)],
                            [("flac", 20), ("pcm_s16le", 70), ("mulaw", 9)]),
    "no numeric support": ([("flac", 3), ("pcm_u8", 4)], [("flac", 5)]),
    "mixed numeric and categorical": ([("10", 3), ("x", 4), ("2.5", 6)],
                                      [("10", 1), ("y", 2), ("7", 3)]),
    "NULL bucket": ([(None, 4), ("1", 6)], [(None, 1), ("1", 9), ("2", 2)]),
    **{f"random seed {s}": _random_pair(s) for s in (1, 2, 3)},
}


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _agree(a, b) -> bool:
    if a is None or b is None or not isinstance(a, float):
        return a == b
    return a == b or math.isclose(a, b, rel_tol=1e-12, abs_tol=0.0)


def _compare(cur, base) -> list[str]:
    """The names of the statistics whose outputs differ beyond 1e-12."""
    bad = []
    for name in STATS:
        got = _rows(getattr(new, name)(cur, base))
        want = _rows(getattr(old, name)(cur, base))
        same = len(got) == len(want) and all(
            len(g) == len(w) and all(map(_agree, g, w)) for g, w in zip(got, want)
        )
        if not same:
            bad.append(f"{name}: {got} != {want}")
    return bad


@pytest.mark.parametrize("case", list(CASES))
def test_global_drift_matches_crossjoin_form(spark, case):
    cur, base = CASES[case]
    bad = _compare(spark.createDataFrame(cur, HIST),
                   spark.createDataFrame(base, HIST))
    assert not bad, "; ".join(bad)


def test_global_drift_matches_crossjoin_form_binned(spark):
    """Equi-width-binned histograms (``bin_width``), the shape a drift check
    on a continuous column compares."""
    rng = np.random.default_rng(11)
    cur = spark.createDataFrame(
        [(float(v),) for v in rng.normal(500, 80, 600)], "x double")
    base = spark.createDataFrame(
        [(float(v),) for v in rng.normal(540, 60, 400)], "x double")
    bad = _compare(histogram(cur, "x", bin_width=25),
                   histogram(base, "x", bin_width=25))
    assert not bad, "; ".join(bad)
