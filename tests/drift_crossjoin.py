"""Cross-join drift statistics: the test oracle for the global ones.

These are the original global ``drift_psi``, ``drift_ks``, ``drift_w1`` and
``drift_chi2`` of ``operators.aggregates``, kept verbatim apart from their
imports. Each computes the two histogram totals as a separate aggregate and
joins them back with ``crossJoin(F.broadcast(tot))``; the package forms take
the totals from an un-partitioned window instead and must return the same
values (``tests/test_drift_equivalence.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from doc_quality_check_spark.operators.aggregates import _hist_pair


def drift_psi(
    current_hist: DataFrame, baseline_hist: DataFrame, epsilon: float = 1e-6
) -> DataFrame:
    """Population Stability Index between two (bucket, count) histograms.

    Full-outer join on bucket (missing mass → epsilon), PSI = Σ (p-q)·ln(p/q).
    Both inputs are tiny aggregates — executed as a broadcast join.
    """
    joined = _hist_pair(current_hist, baseline_hist)
    tot = joined.agg(F.sum("c_cnt").alias("ct"), F.sum("b_cnt").alias("bt"))
    j = joined.crossJoin(F.broadcast(tot))
    p = F.greatest(F.try_divide(F.col("c_cnt"), F.col("ct")), F.lit(epsilon))
    q = F.greatest(F.try_divide(F.col("b_cnt"), F.col("bt")), F.lit(epsilon))
    return j.agg(F.sum((p - q) * F.log(p / q)).alias("psi"))


def drift_ks(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Kolmogorov–Smirnov statistic over ordered numeric buckets: max |CDF
    difference|, via a cumulative-sum window on the (tiny) joined histogram."""
    joined = _hist_pair(current_hist, baseline_hist).withColumn(
        # try_cast: categorical buckets (codec names) order lexically instead
        # of failing the ANSI numeric cast; KS over categories is then a
        # deterministic max-CDF-gap under that fixed order
        "bucket_num", F.expr("try_cast(bucket AS double)")
    )
    w = Window.orderBy(
        F.asc_nulls_first("bucket_num"), F.asc("bucket")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = joined.agg(F.sum("c_cnt").alias("ct"), F.sum("b_cnt").alias("bt"))
    j = joined.crossJoin(F.broadcast(tot))
    cdf_c = F.try_divide(F.sum("c_cnt").over(w), F.col("ct"))
    cdf_b = F.try_divide(F.sum("b_cnt").over(w), F.col("bt"))
    return j.select(F.abs(cdf_c - cdf_b).alias("d")).agg(F.max("d").alias("ks"))


def drift_w1(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between two NUMERIC-bucket
    histograms: W1 = Σ |CDF_p(x_i) − CDF_q(x_i)| · (x_{i+1} − x_i) over the
    merged sorted bucket values — the exact 1-D EMD between the two
    empirical distributions, in bucket-value units.

    Complements the other two drift statistics: PSI is mass-ratio-based and
    blind to bucket ORDER; KS is the max CDF gap and blind to how FAR the
    mass moved; W1 integrates gap × distance, so a shift from 44100 to
    48000 Hz scores very differently from one to 8000 Hz. Non-numeric
    buckets are excluded (no metric space); NULL when EITHER side has no
    numeric mass (a distribution that disappeared is not 'zero drift' — the
    suite check fails on NULL), identical single-point support yields 0.
    Both inputs are tiny aggregates — the join broadcasts, the window is
    over ≤ |buckets| rows."""
    joined = (
        _hist_pair(current_hist, baseline_hist)
        .withColumn("x", F.expr("try_cast(bucket AS double)"))
        .filter(F.col("x").isNotNull())
    )
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = joined.agg(F.sum("c_cnt").alias("ct"), F.sum("b_cnt").alias("bt"))
    j = joined.crossJoin(F.broadcast(tot))
    cdf_c = F.try_divide(F.sum("c_cnt").over(wc), F.col("ct"))
    cdf_b = F.try_divide(F.sum("b_cnt").over(wc), F.col("bt"))
    step = j.select(
        F.col("x"), F.col("ct"), F.col("bt"),
        (F.abs(cdf_c - cdf_b)
         * (F.lead("x").over(Window.orderBy("x")) - F.col("x"))).alias("a"),
    )
    # last row's lead is NULL (sum skips it; both CDFs are 1 there anyway);
    # single-point support -> 0; NULL when the support is empty OR one side
    # has no mass over it (ct/bt = 0 -> NULL CDFs would masquerade as 0.0)
    return step.agg(
        F.when(
            (F.count("*") > 0) & (F.max("ct") > 0) & (F.max("bt") > 0),
            F.coalesce(F.sum("a"), F.lit(0.0)),
        ).alias("w1")
    )


def drift_chi2(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Two-sample chi-squared homogeneity statistic over a CATEGORICAL
    histogram pair → (chi2, cramers_v, dof). Expected counts come from the
    pooled distribution; Cramér's V = sqrt(chi2 / N) for the 2×k table — a
    scale-free [0,1] drift score thresholdable independently of table size
    (raw chi2 grows linearly with N at a fixed drift level, so any fixed
    chi2 threshold breaks on a 100× bigger snapshot)."""
    joined = _hist_pair(current_hist, baseline_hist)
    tot = joined.agg(F.sum("c_cnt").alias("ct"), F.sum("b_cnt").alias("bt"))
    j = joined.crossJoin(F.broadcast(tot))
    pooled = F.try_divide(
        (F.col("c_cnt") + F.col("b_cnt")).cast("double"),
        (F.col("ct") + F.col("bt")).cast("double"),
    )
    e1 = pooled * F.col("ct").cast("double")
    e2 = pooled * F.col("bt").cast("double")
    d1 = F.col("c_cnt").cast("double") - e1
    d2 = F.col("b_cnt").cast("double") - e2
    term = (
        F.when(e1 > 0, d1 * d1 / e1).otherwise(F.lit(0.0))
        + F.when(e2 > 0, d2 * d2 / e2).otherwise(F.lit(0.0))
    )
    agg = j.agg(
        F.sum(term).alias("raw_chi2"),
        F.max(F.col("ct") + F.col("bt")).alias("n"),
        F.max("ct").alias("ctm"),
        F.max("bt").alias("btm"),
        (F.count("*") - F.lit(1)).cast("long").alias("dof"),
    )
    # one-sided mass (a sample that disappeared / never existed) is NOT
    # 'zero drift': expected == observed identically, chi2 degenerates to
    # 0 — emit NULL so the suite check fails instead of silently passing
    # (same rule as drift_w1's one-sided NULL)
    both = (F.col("ctm") > 0) & (F.col("btm") > 0)
    return agg.select(
        F.when(both, F.col("raw_chi2")).alias("chi2"),
        F.when(
            both,
            F.sqrt(F.try_divide(F.col("raw_chi2"), F.col("n").cast("double"))),
        ).alias("cramers_v"),
        "dof",
    )
