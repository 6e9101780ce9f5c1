"""Aggregation operators: summaries, grouped stats, sketches, threshold
sweeps, distribution drift (SURVEY.md §2.5).

Reference parity:
- A1 global summary (/root/reference/test_readability.py:299-306,1008-1012;
  app.py:406-414): count / conditional counts / mean confidence / distinct.
- A2 per-group stats (test_readability.py:620-626,818-823).
- A4 per-category min/max/avg + pass-rate (tests/analyze_thresholds.py:79-89,
  149-172).
- A5 percentile distribution (tests/analyze_thresholds.py:99-113) → Spark's
  built-in approx-quantile sketch ``percentile_approx`` (GK-based) by
  default, a real mergeable t-digest (:func:`tdigest_quantiles`, the north
  star's named sketch) via quantile_range params ``method='tdigest'``;
  exact ``percentile`` used when matching a SQL oracle.
- A6 threshold sweep (tests/analyze_thresholds.py:120-142) — done in ONE scan
  with conditional sums, not one pass per threshold.
- A10 distinct counting (test_readability.py:153,306,1012) →
  ``approx_count_distinct`` (HyperLogLog) at scale, exact at test scale.
- A12 distribution drift (north rule; reference analog: old-vs-new threshold
  comparison tables, docs/THRESHOLD_ANALYSIS_REPORT.md:53-105): PSI + KS of
  current histograms against a baseline snapshot table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def completeness(df: DataFrame, columns: list[str]) -> DataFrame:
    """Non-null ratio per column, one scan (never reads unrelated columns)."""
    aggs = [
        F.try_divide(F.count(c), F.count(F.lit(1))).alias(f"completeness_{c}")
        for c in columns
    ]
    return df.agg(*aggs)


def column_profile(df: DataFrame, column: str, approx: bool = True) -> DataFrame:
    """min/max/avg/distinct/quantiles for one numeric column in one scan."""
    c = F.col(column)
    distinct = (
        F.approx_count_distinct(column) if approx else F.countDistinct(column)
    ).alias("n_distinct")
    quant_fn = "percentile_approx" if approx else "percentile"
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(column).alias("n_nonnull"),
        F.min(c).alias("min_val"),
        F.max(c).alias("max_val"),
        F.avg(c).alias("avg_val"),
        distinct,
        F.expr(f"{quant_fn}({column}, array(0.1, 0.25, 0.5, 0.75, 0.9))").alias("quantiles"),
    )


def threshold_sweep(df: DataFrame, column: str, thresholds: list[float]) -> DataFrame:
    """Pass-count at every threshold in a single scan (conditional sums)."""
    aggs = [
        F.sum(F.when(F.col(column) >= F.lit(t), 1).otherwise(0)).alias(f"ge_{str(t).replace('.', '_')}")
        for t in thresholds
    ]
    return df.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)


def bucket_col(column: str, bin_width: float | None = None) -> F.Column:
    """The drift-histogram bucket expression for ``column``.

    ``bin_width=None``: the raw value cast to string (categorical — codec
    names, small integer domains). With ``bin_width=w``: equi-width bins
    labeled by their lower edge, ``floor(col/w)*w`` as a string. Binning is
    what keeps the histogram TINY at 10^12 rows for continuous columns
    (raw dur_ms would make the 'histograms are small aggregates' premise
    false — millions of distinct buckets shuffling per drift check);
    numeric bin labels also give KS/W1 a real ordered support. Integral
    widths label with BIGINT edges (exact string form, oracle-safe);
    fractional widths label with DOUBLE edges. NULL values stay a NULL
    bucket either way. The BASELINE must be written with the same width
    (snapshot_histograms ``bin_width``) — a mismatch shows up loudly as
    near-total drift, never silently."""
    if bin_width is None:
        return F.col(column).cast("string")
    if float(bin_width) <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    w = float(bin_width)
    edge = F.floor(F.col(column) / F.lit(w))
    if w == int(w):
        lab = (edge.cast("long") * F.lit(int(w))).cast("string")
    else:
        lab = (edge.cast("double") * F.lit(w)).cast("string")
    return lab


def histogram(
    df: DataFrame,
    column: str,
    as_string: bool = True,
    bin_width: float | None = None,
) -> DataFrame:
    """Categorical or equi-width-binned histogram → (bucket, count).
    See :func:`bucket_col` for the binning contract."""
    if bin_width is not None:
        b = bucket_col(column, bin_width)
    else:
        b = F.col(column).cast("string") if as_string else F.col(column)
    return df.groupBy(b.alias("bucket")).agg(F.count("*").alias("count"))


def snapshot_histograms(
    df: DataFrame,
    columns: list[str],
    group_col: str | None = None,
    bin_width: dict[str, float] | None = None,
) -> DataFrame:
    """Baseline-snapshot writer for the drift checks (A12): one pass per
    column (unioned; each is a tiny aggregate) producing the
    (metric, bucket, count) layout the runner's drift checks consume.
    A run's snapshot becomes the next run's baseline — self-drift is ~0.

    ``group_col`` (e.g. ``part_key``) adds that column to every histogram
    row, producing the GROUPED (group, metric, bucket, count) layout the
    per-partition drift check consumes (runner ``per_partition`` param +
    :func:`drift_psi_by_group`).

    ``bin_width`` maps continuous columns to an equi-width bin size
    (:func:`bucket_col`) — give every continuous column one, and pass the
    SAME width as the drift check's ``bin_width`` param, or the bucket
    labels won't align."""
    bin_width = bin_width or {}
    parts = []
    for c in columns:
        keys = ([F.col(group_col)] if group_col else []) + [
            bucket_col(c, bin_width.get(c)).alias("bucket")
        ]
        head = ([group_col] if group_col else []) + [F.lit(c).alias("metric")]
        parts.append(
            df.groupBy(*keys)
            .agg(F.count("*").alias("count"))
            .select(*head, "bucket", "count")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def heavy_hitters(df: DataFrame, column: str, min_count: int) -> DataFrame:
    """Exact heavy hitters: values of ``column`` with frequency >= min_count
    (two-phase partial aggregation; the exact baseline that a count-min /
    approx_top_k sketch approximates at 10^12 scale)."""
    return (
        df.groupBy(F.col(column).alias("value"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(min_count))
    )


# Count-min hash family h_i(x) = ((a_i * H(x) + b_i) mod P) mod width over the
# shared 32-bit md5-prefix token hash (same H as the dedup operators, so the
# DuckDB oracle reproduces the sketch bit-for-bit). P = smallest prime > 2^32.
CMS_PRIME = 4294967311
CMS_COEFFS: list[tuple[int, int]] = [(131, 7), (263, 101), (397, 211), (523, 307)]


def _cms_coords(column: str, width: int, depth: int) -> F.Column:
    """explode() of the depth (row, bucket) sketch coordinates of a value."""
    h = f"CAST(conv(substr(md5(CAST({column} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    return F.expr(
        "explode(array("
        + ", ".join(
            f"struct({i} AS row, CAST((({a} * {h} + {b}) % {CMS_PRIME}) % {width} AS INT) AS bucket)"
            for i, (a, b) in enumerate(CMS_COEFFS[:depth])
        )
        + "))"
    )


def count_min_sketch(df: DataFrame, column: str, width: int = 1024,
                     depth: int = 4) -> DataFrame:
    """Build a count-min sketch of ``column``'s value frequencies →
    (row, bucket, cnt), ``depth`` rows × ``width`` counters.

    ONE shuffle of at most depth×width rows regardless of input size: each
    value explodes to its depth (row, bucket) coordinates map-side, then a
    single partial-aggregated groupBy. The sketch is mergeable (sum counters
    element-wise), which is what makes it the 10^12-row path: per-partition
    sketches combine without re-reading data, unlike an exact value count
    whose state is unbounded."""
    return (
        df.select(_cms_coords(column, width, depth).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def count_min_estimates(df: DataFrame, column: str, width: int = 1024,
                        depth: int = 4) -> DataFrame:
    """Per-distinct-value count-min frequency estimate → (value, est).
    est = min over the depth rows of the value's counter; never
    underestimates, overestimates by at most ~N/width w.h.p. Distinct values
    join the (tiny, broadcastable) sketch on the hash coordinates."""
    sketch = count_min_sketch(df, column, width, depth)
    probes = (
        df.select(F.col(column).alias("value")).distinct()
        .select("value", _cms_coords("value", width, depth).alias("c"))
        .select("value", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy("value")
        .agg(F.min("cnt").alias("est"))
    )


def _hist_pair(
    current_hist: DataFrame, baseline_hist: DataFrame, group_cols: tuple = ()
) -> DataFrame:
    """Shared prologue of every drift statistic: normalize each side with a
    groupBy-sum, full-outer join on (group..., bucket), zero-fill missing
    mass. One place for the histogram-pair edge semantics."""
    keys = [*group_cols, "bucket"]
    cur = current_hist.groupBy(*keys).agg(F.sum("count").alias("c_cnt"))
    base = baseline_hist.groupBy(*keys).agg(F.sum("count").alias("b_cnt"))
    return cur.join(base, keys, "full_outer").fillna(0, ["c_cnt", "b_cnt"])


# Every drift statistic is written once over ``groups``: () is the global
# form (one row), (group_col,) the grouped one (one row per group). Totals
# come from a window partitioned by the groups — un-partitioned for the
# global form — so no separate total aggregate is joined back.


def _psi(current_hist, baseline_hist, groups: tuple, epsilon: float) -> DataFrame:
    j = _hist_pair(current_hist, baseline_hist, groups)
    w = Window.partitionBy(*groups)
    p = F.greatest(F.try_divide(F.col("c_cnt"), F.sum("c_cnt").over(w)), F.lit(epsilon))
    q = F.greatest(F.try_divide(F.col("b_cnt"), F.sum("b_cnt").over(w)), F.lit(epsilon))
    return (
        j.select(*groups, ((p - q) * F.log(p / q)).alias("term"))
        .groupBy(*groups)
        .agg(F.sum("term").alias("psi"))
    )


def drift_psi(
    current_hist: DataFrame, baseline_hist: DataFrame, epsilon: float = 1e-6
) -> DataFrame:
    """Population Stability Index between two (bucket, count) histograms.

    Full-outer join on bucket (missing mass → epsilon), PSI = Σ (p-q)·ln(p/q).
    Both inputs are tiny aggregates; the totals are an un-partitioned window
    over the joined histogram.
    """
    return _psi(current_hist, baseline_hist, (), epsilon)


def drift_psi_by_group(
    current_hist: DataFrame,
    baseline_hist: DataFrame,
    group_col: str = "grp",
    epsilon: float = 1e-6,
) -> DataFrame:
    """Per-group PSI → (group, psi) from two GROUPED histograms
    (group, bucket, count), all groups in one plan.

    The scale path for per-Iceberg-partition drift: the P-partition drift
    scan is one grouped aggregate + one (group, bucket) equi-join + one
    group window over histogram-sized data — NOT a driver loop of P global
    :func:`drift_psi` calls, which would launch P jobs and P shuffles (the
    anti-pattern at P in the thousands). Groups missing from one side get
    the epsilon floor, same as missing buckets in the global form."""
    return _psi(current_hist, baseline_hist, (group_col,), epsilon)


def _ks(current_hist, baseline_hist, groups: tuple) -> DataFrame:
    j = _hist_pair(current_hist, baseline_hist, groups).withColumn(
        # try_cast: categorical buckets (codec names) order lexically instead
        # of failing the ANSI numeric cast; KS over categories is then a
        # deterministic max-CDF-gap under that fixed order
        "bucket_num", F.expr("try_cast(bucket AS double)")
    )
    wcum = Window.partitionBy(*groups).orderBy(
        F.asc_nulls_first("bucket_num"), F.asc("bucket")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy(*groups)
    cdf_c = F.try_divide(F.sum("c_cnt").over(wcum), F.sum("c_cnt").over(wall))
    cdf_b = F.try_divide(F.sum("b_cnt").over(wcum), F.sum("b_cnt").over(wall))
    return (
        j.select(*groups, F.abs(cdf_c - cdf_b).alias("d"))
        .groupBy(*groups)
        .agg(F.max("d").alias("ks"))
    )


def drift_ks(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Kolmogorov–Smirnov statistic over ordered numeric buckets: max |CDF
    difference|, via a cumulative-sum window on the (tiny) joined histogram."""
    return _ks(current_hist, baseline_hist, ())


def drift_ks_by_group(
    current_hist: DataFrame,
    baseline_hist: DataFrame,
    group_col: str = "grp",
) -> DataFrame:
    """Per-group KS statistic → (group, ks) from two GROUPED histograms —
    the ordered twin of :func:`drift_psi_by_group`: cumulative CDFs run in
    per-group windows, one grouped max over the gap, all groups in ONE
    plan. Same statistic as the global :func:`drift_ks` per group."""
    return _ks(current_hist, baseline_hist, (group_col,))


def _w1(current_hist, baseline_hist, groups: tuple) -> DataFrame:
    j = (
        _hist_pair(current_hist, baseline_hist, groups)
        .withColumn("x", F.expr("try_cast(bucket AS double)"))
        .filter(F.col("x").isNotNull())
    )
    wcum = Window.partitionBy(*groups).orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(*groups)
    ct = F.sum("c_cnt").over(wall)
    bt = F.sum("b_cnt").over(wall)
    cdf_c = F.try_divide(F.sum("c_cnt").over(wcum), ct)
    cdf_b = F.try_divide(F.sum("b_cnt").over(wcum), bt)
    gap = F.lead("x").over(Window.partitionBy(*groups).orderBy("x")) - F.col("x")
    step = j.select(
        *groups, ct.alias("ct"), bt.alias("bt"),
        (F.abs(cdf_c - cdf_b) * gap).alias("a"),
    )
    # last row's lead is NULL (sum skips it; both CDFs are 1 there anyway);
    # single-point support -> 0; NULL when the support is empty (max over
    # no rows) OR one side has no mass over it (ct/bt = 0 -> NULL CDFs
    # would masquerade as 0.0)
    return step.groupBy(*groups).agg(
        F.when(
            (F.max("ct") > 0) & (F.max("bt") > 0),
            F.coalesce(F.sum("a"), F.lit(0.0)),
        ).alias("w1")
    )


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
    Both inputs are tiny aggregates — the window is over ≤ |buckets| rows."""
    return _w1(current_hist, baseline_hist, ())


def drift_w1_by_group(
    current_hist: DataFrame,
    baseline_hist: DataFrame,
    group_col: str = "grp",
) -> DataFrame:
    """Per-group Wasserstein-1 → (group, w1) from two GROUPED numeric-bucket
    histograms, all groups in one plan. Same statistic and NULL semantics
    as the global :func:`drift_w1` per group: NULL when either side has no
    numeric mass over the group's merged support (such groups may also be
    entirely absent when no bucket is numeric — the runner treats both as
    an unattestable bound)."""
    return _w1(current_hist, baseline_hist, (group_col,))


def _chi2(current_hist, baseline_hist, groups: tuple) -> DataFrame:
    j = _hist_pair(current_hist, baseline_hist, groups)
    w = Window.partitionBy(*groups)
    ct = F.sum("c_cnt").over(w)
    bt = F.sum("b_cnt").over(w)
    pooled = F.try_divide(
        (F.col("c_cnt") + F.col("b_cnt")).cast("double"),
        (ct + bt).cast("double"),
    )
    e1 = pooled * ct.cast("double")
    e2 = pooled * bt.cast("double")
    d1 = F.col("c_cnt").cast("double") - e1
    d2 = F.col("b_cnt").cast("double") - e2
    term = (
        F.when(e1 > 0, d1 * d1 / e1).otherwise(F.lit(0.0))
        + F.when(e2 > 0, d2 * d2 / e2).otherwise(F.lit(0.0))
    )
    agg = (
        j.select(
            *groups, term.alias("term"), (ct + bt).alias("n"),
            ct.alias("ct"), bt.alias("bt"),
        )
        .groupBy(*groups)
        .agg(
            F.sum("term").alias("raw_chi2"),
            F.max("n").alias("n"),
            F.max("ct").alias("ctm"),
            F.max("bt").alias("btm"),
            (F.count("*") - F.lit(1)).cast("long").alias("dof"),
        )
    )
    # one-sided mass (a sample that disappeared / never existed, or a
    # brand-new or vanished partition) is NOT 'zero drift': expected ==
    # observed identically, chi2 degenerates to 0 — emit NULL so the suite
    # check fails instead of silently passing (same rule as drift_w1)
    both = (F.col("ctm") > 0) & (F.col("btm") > 0)
    return agg.select(
        *groups,
        F.when(both, F.col("raw_chi2")).alias("chi2"),
        F.when(
            both,
            F.sqrt(F.try_divide(F.col("raw_chi2"), F.col("n").cast("double"))),
        ).alias("cramers_v"),
        "dof",
    )


def drift_chi2(current_hist: DataFrame, baseline_hist: DataFrame) -> DataFrame:
    """Two-sample chi-squared homogeneity statistic over a CATEGORICAL
    histogram pair → (chi2, cramers_v, dof). Expected counts come from the
    pooled distribution; Cramér's V = sqrt(chi2 / N) for the 2×k table — a
    scale-free [0,1] drift score thresholdable independently of table size
    (raw chi2 grows linearly with N at a fixed drift level, so any fixed
    chi2 threshold breaks on a 100× bigger snapshot)."""
    return _chi2(current_hist, baseline_hist, ())


def drift_chi2_by_group(
    current_hist: DataFrame,
    baseline_hist: DataFrame,
    group_col: str = "grp",
) -> DataFrame:
    """Per-group chi-squared/Cramér's V → (group, chi2, cramers_v, dof)
    from two GROUPED histograms (group, bucket, count) — the categorical
    twin of :func:`drift_psi_by_group`, same single-plan shape (grouped
    aggregate + (group, bucket) equi-join + group window), same statistic
    as the global :func:`drift_chi2` per group."""
    return _chi2(current_hist, baseline_hist, (group_col,))


# ---------------------------------------------------------------------------
# t-digest approximate quantiles (north star: "approx-quantile via t-digest")
# ---------------------------------------------------------------------------

def _tdigest_compress(means, weights, delta: int):
    """Dunning's merging t-digest compression: sorted centroids merge while
    the combined mass stays under 4·N·q(1−q)/delta at the cluster's
    mid-quantile — small clusters at the tails (accurate extremes), large in
    the middle."""
    import numpy as np

    order = np.argsort(means, kind="mergesort")
    means, weights = np.asarray(means, float)[order], np.asarray(weights, float)[order]
    total = float(weights.sum())
    out_m: list[float] = [float(means[0])]
    out_w: list[float] = [float(weights[0])]
    acc = 0.0  # mass strictly before the current cluster
    for m, w in zip(means[1:], weights[1:]):
        cand = out_w[-1] + w
        q = (acc + cand / 2.0) / total
        if cand <= max(1.0, 4.0 * total * q * (1.0 - q) / delta):
            out_m[-1] = (out_m[-1] * out_w[-1] + m * w) / cand
            out_w[-1] = cand
        else:
            acc += out_w[-1]
            out_m.append(float(m))
            out_w.append(float(w))
    return out_m, out_w


def tdigest_quantiles(
    df: DataFrame,
    column: str,
    probs: list[float],
    delta: int = 100,
) -> dict[float, float]:
    """Approximate quantiles via a MERGEABLE t-digest: each partition builds
    a ≤~delta-centroid digest over its values (mapInPandas, bounded state),
    the tiny per-partition centroid sets are collected (P×delta rows — KB,
    not data) and merged/re-compressed once, then quantiles interpolate the
    cumulative centroid mass. Same two-level partial/merge shape as any
    distributive aggregate, so it scales to 10^12 rows with only the
    centroid tables moving. Tail quantiles are where t-digest beats a plain
    equi-width sketch: cluster mass shrinks like q(1−q)."""
    import numpy as np
    import pandas as pd

    def _partial(batches):
        # incremental per-batch merge: state is the running centroid set
        # (~delta entries) + one Arrow batch — NEVER the whole partition
        m: list[float] = []
        w: list[float] = []
        for pdf in batches:
            v = pdf[column].to_numpy(dtype=float)
            v = v[~np.isnan(v)]
            if v.size:
                m, w = _tdigest_compress(
                    np.concatenate([np.asarray(m), v]),
                    np.concatenate([np.asarray(w), np.ones_like(v)]),
                    delta,
                )
        if m:
            yield pd.DataFrame({"mean": m, "weight": w})

    cent = df.select(F.col(column).cast("double").alias(column)).mapInPandas(
        _partial, schema="mean double, weight double"
    ).collect()
    if not cent:
        return {p: float("nan") for p in probs}
    means = [r["mean"] for r in cent]
    weights = [r["weight"] for r in cent]
    m, w = _tdigest_compress(means, weights, delta)
    m, w = np.asarray(m), np.asarray(w)
    total = w.sum()
    # centroid k's mass is centered at its mid-cumulative position
    cum = np.cumsum(w) - w / 2.0
    out = {}
    for p in probs:
        target = p * total
        out[p] = float(np.interp(target, cum, m))
    return out


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 4,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's OWN
    token distribution → (id, n_tokens, mean_logprob) — the classic cheap
    statistical-quality signal for training-data curation (very negative =
    rare-token gibberish; near the corpus mode = boilerplate). The same
    two-pass shape as J2 frequency enrichment (SURVEY.md §3.3): one token
    groupBy builds the vocabulary, a scalar total broadcasts back, and an
    equi-join on the token re-scores every occurrence.

    Scale: the vocab table is Zipf-small relative to the corpus but can
    exceed broadcast limits at web scale — the join is left as a plain
    equi-join so AQE picks broadcast vs shuffle by size. Per-token log
    values are rounded to 6dp and summed in fixed-point decimal, so
    partial-aggregation order cannot flip the driver hash (the established
    float-sum parity rule). Docs with no tokens are absent from the output
    (no tokens → no distribution support)."""
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(F.log(F.col("cnt") / F.col("n_total")), 6).alias("logp"),
    )
    scored = tokens.join(lp, "tok")
    # the decimal SUM is exact (order-insensitive); cast it to double BEFORE
    # dividing — Spark's decimal/long division re-rounds at an intermediate
    # scale that DuckDB's decimal/bigint (which yields a double) does not,
    # and that intermediate rounding flipped a 4dp boundary on the fixture
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum(F.col("logp").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            round_dp,
        ).alias("mean_logprob"),
    )


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed EXACT prefix sum (parallel scan): adds ``out_col`` =
    running sum of ``value_col`` over the global ``order_cols`` order —
    without ever moving the data to one task. The naive Spark form
    (``Window.orderBy(...)`` with no partition key) plans a SinglePartition
    exchange: at 10^12 rows one task sorts and scans everything. This is
    the textbook two-phase scan instead:

    1. ``repartitionByRange(order_cols)`` + ``sortWithinPartitions`` gives
       globally range-ordered partitions; the frame is localCheckpointed
       ONCE so both phases see identical partition boundaries (range
       boundaries come from sampling and would otherwise drift between
       recomputations).
    2. A P-row per-partition total table is collected, exclusive-prefixed
       on the driver (P = #partitions, NOT data rows), and broadcast; a
       single ``mapInPandas`` pass then emits local-cumsum + the
       partition's offset, streaming Arrow batches in partition order with
       O(batch) memory.

    ``value_col`` must be integral (LongType) and non-null — integer
    arithmetic keeps the scan exact and associative, so the result is
    bit-identical to a sequential window regardless of partitioning
    (callers with decimals: scale to micro-units first, divide after).
    ``order_cols`` must be a unique key (a prefix sum is only well-defined
    under a total order)."""
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    n = int(
        num_partitions
        or spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = (
        df.repartitionByRange(n, *[F.asc(c) for c in order_cols])
        .sortWithinPartitions(*[F.asc(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["__pid"]: r["t"]
        for r in ranged.groupBy("__pid").agg(
            F.sum(value_col).alias("t")
        ).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid] or 0)
    b_off = spark.sparkContext.broadcast(offsets)

    out_schema = StructType(
        [f for f in ranged.schema.fields if f.name != "__pid"]
        + [StructField(out_col, LongType())]
    )
    out_names = [f.name for f in out_schema.fields]

    def scan(batches):
        running = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if running is None:
                running = int(b_off.value.get(int(pdf["__pid"].iloc[0]), 0))
            if pdf[value_col].isna().any():
                # fail fast with a readable message: a NULL arrives here as
                # float NaN and astype('int64') would raise an opaque
                # mid-job ValueError (and the driver-side totals above
                # already coerced the same NULL's sum to 0, silently
                # corrupting every later partition's offset)
                raise ValueError(
                    f"prefix_sum requires non-null '{value_col}' values; "
                    "filter or fill NULLs before calling"
                )
            vals = pdf[value_col].astype("int64")
            pdf[out_col] = vals.cumsum() + running
            running += int(vals.sum())
            yield pdf[out_names]

    return ranged.mapInPandas(scan, out_schema)


def skew_profile(
    df: DataFrame, key_col: str, top_n: int = 20
) -> DataFrame:
    """Key-distribution profile for shuffle planning: the ``top_n`` heaviest
    keys → (key, n, frac, skew_factor), where ``skew_factor`` is the key's
    size relative to the MEAN key (ceil(n * n_keys / total)) — directly the
    salting fan-out a skewed join/agg on that key needs (split a
    skew_factor=37 key into ~37 salted subkeys to level the reducers), and
    the evidence for enabling AQE skew-join handling. NULL keys profile as a
    key like any other — a mostly-NULL join column is the classic silent
    skew killer.

    Scale shape: one partial-agg groupBy on the key, a scalar broadcast for
    (total, n_keys), and an ordered take for the top-n — the profile costs
    one shuffle of (key, count) pairs regardless of corpus size."""
    counts = df.groupBy(F.col(key_col)).agg(F.count("*").alias("n"))
    stats = counts.agg(
        F.sum("n").alias("__total"), F.count("*").alias("__n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            F.col(key_col),
            F.col("n"),
            F.round(F.col("n") / F.col("__total"), 6).alias("frac"),
            F.ceil(
                F.col("n") * F.col("__n_keys") / F.col("__total")
            ).cast("long").alias("skew_factor"),
        )
        .orderBy(F.desc("n"), F.asc_nulls_last(key_col))
        .limit(top_n)
    )


def group_zscore_outliers(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    z_threshold: float = 3.0,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Per-group z-score outlier rows: (group, id, value, z) for every row
    whose value lies more than ``z_threshold`` sample standard deviations
    from its GROUP's mean — the row-level drill-down behind a distribution
    drift alarm (PSI/KS say a partition moved; this says which rows).

    Parity-stable moments: sum(x) and sum(x^2) accumulate as
    DECIMAL(28,6) of 6-decimal-rounded terms (the repo's float-sum rule),
    so mean/stddev are independent of partition order and bit-identical
    across engines; the z formula itself is pure IEEE arithmetic.
    Zero-variance groups (sd == 0) and single-row groups emit no outliers
    — every member equals the mean, and NaN comparison semantics differ
    across engines, so sd > 0 is filtered explicitly. NULL values carry no
    z-score and are dropped (completeness checks own NULL counting).

    Scale shape: one partial-agg groupBy for the moments, then a
    stats-table join back (broadcast by default; pass False when the group
    cardinality itself is huge) — the raw rows shuffle at most once."""
    vals = df.filter(F.col(value_col).isNotNull())
    v = F.col(value_col).cast("double")
    s = (
        vals.groupBy(group_col)
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.round(v, 6).cast("decimal(28,6)")).cast("double").alias("__s1"),
            F.sum(F.round(v * v, 6).cast("decimal(28,6)")).cast("double").alias("__s2"),
        )
        .filter(F.col("__n") > 1)
    )
    st = s.select(
        F.col(group_col),
        (F.col("__s1") / F.col("__n")).alias("__m"),
        F.sqrt(
            (F.col("__s2") - F.col("__s1") * F.col("__s1") / F.col("__n"))
            / (F.col("__n") - 1)
        ).alias("__sd"),
    ).filter(F.col("__sd") > 0)
    if broadcast_stats:
        st = F.broadcast(st)
    z = (v - F.col("__m")) / F.col("__sd")
    return (
        vals.join(st, group_col)
        .filter(F.abs(z) > F.lit(z_threshold))
        .select(
            F.col(group_col),
            F.col(id_col),
            F.round(v, 4).alias("value"),
            F.round(z, 4).alias("z"),
        )
    )


def pearson_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: tuple = (),
    ndigits: int = 6,
    exact_integers: bool = True,
) -> DataFrame:
    """Pearson correlation between two numeric columns → (group..., corr),
    all groups in ONE grouped aggregate (map-side partial, single shuffle).
    NULL when correlation is undefined (either column constant, or n < 2);
    rows where either side is NULL are excluded (the SQL ``corr``
    convention).

    Two modes, two failure models:

    ``exact_integers=True`` — the ORACLE-PARITY path: the closed formula
    corr = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²)) over exact
    BIGINT sums, deterministic and reproducible bit-for-bit in ANSI SQL,
    unlike streaming ``corr()`` whose accumulation order is
    engine-specific. REQUIRES integral columns (enforced — a decimal/float
    would silently truncate) with magnitudes small enough that n·x² stays
    inside BIGINT (|x| ≲ 3·10⁹/√n; beyond that ANSI mode fails the job
    loudly with ARITHMETIC_OVERFLOW rather than wrapping).

    ``exact_integers=False`` — the GENERAL path for suite checks over
    arbitrary numeric columns: Spark's built-in ``corr`` (stable co-moment
    accumulation, immune to the catastrophic cancellation that the closed
    formula suffers on large-magnitude columns such as epoch-millis, where
    n·Sxx − Sx² in DOUBLE can even go negative); not bit-portable across
    engines, so never pair it with a hash-compared oracle."""
    both = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    gcols = [F.col(g) for g in group_cols]
    if not exact_integers:
        # covar_samp / (stddev * stddev) == Pearson r via the same stable
        # co-moment accumulators as corr(), but ANSI-safe: a constant
        # column (zero stddev) or n<2 yields NULL through try_divide where
        # corr() raises DIVIDE_BY_ZERO under Spark 4's ANSI mode
        xd = F.col(x_col).cast("double")
        yd = F.col(y_col).cast("double")
        c = F.try_divide(
            F.covar_samp(xd, yd), F.stddev_samp(xd) * F.stddev_samp(yd)
        )
        corr = F.when(
            c.isNotNull() & ~F.isnan(c), F.round(c, ndigits)
        ).alias("corr")
        return both.groupBy(*gcols).agg(corr)
    # Spark df.dtypes reports simpleString names: tinyint/smallint/int/bigint
    integral = ("tinyint", "smallint", "int", "bigint")
    for col in (x_col, y_col):
        dt = dict(df.dtypes).get(col, "")
        if dt not in integral:
            raise ValueError(
                f"pearson_corr(exact_integers=True) requires integral "
                f"columns; {col!r} is {dt!r} — pass exact_integers=False "
                "for float/decimal columns"
            )
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = both.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov = n * F.col("__sxy").cast("double") - sx * sy
    vx = n * F.col("__sxx").cast("double") - sx * sx
    vy = n * F.col("__syy").cast("double") - sy * sy
    corr = F.when(
        (F.col("__n") >= 2) & (vx > 0) & (vy > 0),
        F.round(cov / F.sqrt(vx * vy), ndigits),
    ).alias("corr")
    return agg.select(*group_cols, corr)
