"""Dedup operator semantics over the shared documents fixtures (the driver's
synthetic corpus plants ~25 near-duplicate pairs at 3-gram Jaccard ≈ 0.97)."""

import pytest
from pyspark.sql import functions as F

from doc_quality_check_spark.operators.dedup import (
    dedup_keep_first,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/documents.parquet").cache()


def test_jaccard_finds_planted_near_dups(docs):
    pairs = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6).collect()
    assert len(pairs) >= 10
    for r in pairs:
        assert r["jaccard"] >= 0.6
        assert r["id_a"] < r["id_b"]


def test_minhash_lsh_matches_exact_jaccard(docs):
    """At ~0.97 similarity, banded MinHash (b=4, r=4) catches every planted
    pair — LSH result equals the exact inverted-index result."""
    exact = {(r["id_a"], r["id_b"]) for r in
             jaccard_pairs(docs, "doc_id", "text", threshold=0.6).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.6).collect()}
    assert lsh == exact


def test_simhash_pairs_are_textually_similar(docs):
    """Every hamming<=3 SimHash pair must also be a high-Jaccard pair."""
    sim = {(r["id_a"], r["id_b"]) for r in
           simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert sim, "expected at least one SimHash near-dup pair"
    exact = {(r["id_a"], r["id_b"]) for r in
             jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert sim <= exact


def test_exact_duplicates_on_constructed_dups(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unique text here")],
        ["doc_id", "text"],
    )
    rows = exact_duplicates(df, "doc_id", "text").collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2
    assert rows[0]["first_id"] == 1


def test_dedup_keep_first_drops_higher_ids(docs):
    pairs = jaccard_pairs(docs, "doc_id", "text", threshold=0.6)
    kept = dedup_keep_first(pairs, docs, "doc_id")
    dropped = {r["id_b"] for r in pairs.collect()}
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids.isdisjoint(dropped)
    assert kept.count() == docs.count() - len(dropped)


def test_connected_components_chain(spark):
    """Min-label propagation converges on a chain (diameter > 1) and keeps
    disjoint clusters separate."""
    from doc_quality_check_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (40, 41), (41, 42), (42, 40)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 40: 40, 41: 40, 42: 40}


def test_hash_split_and_cluster_safety(spark):
    """Split assignment is deterministic, roughly proportioned, and
    cluster-safe: every member of a near-dup cluster lands in ONE split."""
    from doc_quality_check_spark.operators.sampling import (
        cluster_safe_split, hash_sample, hash_split,
    )

    df = spark.createDataFrame([(i, f"doc {i}") for i in range(2000)],
                               "doc_id long, text string")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", splits).collect()}
    b = {r["doc_id"]: r["split"] for r in
         hash_split(df.repartition(7), "doc_id", splits).collect()}
    assert a == b                                   # partitioning-independent
    from collections import Counter
    frac = Counter(a.values())
    assert 0.75 < frac["train"] / 2000 < 0.85       # ~proportioned
    assert 0.07 < frac["test"] / 2000 < 0.13

    # deterministic sampling: same subset every run, size ≈ fraction
    s1 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.25).collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.25).collect()}
    assert s1 == s2 and 0.2 < len(s1) / 2000 < 0.3

    # cluster safety: chained pairs {0..3} and {10,11} must not straddle
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    out = {r["doc_id"]: r["split"] for r in
           cluster_safe_split(df, "doc_id", pairs, splits).collect()}
    assert len({out[i] for i in (0, 1, 2, 3)}) == 1
    assert len({out[i] for i in (10, 11)}) == 1
    # unclustered rows keep their plain hash_split assignment
    assert out[500] == a[500]


def test_contamination_and_repetition(spark):
    """Decontamination flags exactly the corpus docs overlapping eval
    n-grams; repetition ratio separates looping text from varied text."""
    from doc_quality_check_spark.functions.text import repetition_ratio
    from doc_quality_check_spark.operators.dedup import contamination_flags

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # eval
            (2, "a quick brown fox jumps over fences daily"),     # shares 3-grams
            (3, "completely different words here entirely now"),  # clean
            (4, "the quick brown fox appears again verbatim"),    # shares
        ],
        "doc_id long, text string",
    )
    ev = docs.filter(F.col("doc_id") == 1)
    corpus = docs.filter(F.col("doc_id") != 1)
    flagged = {r["doc_id"]: r["n_shared"] for r in
               contamination_flags(corpus, ev, min_shared=2).collect()}
    # doc2 shares {quick brown fox, brown fox jumps, fox jumps over} = 3;
    # doc4 shares {the quick brown, quick brown fox} = 2; doc3 shares none
    assert flagged == {2: 3, 4: 2}

    rep = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),
         (2, "eight completely distinct tokens appear exactly once here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["r"] for r in
           rep.select("doc_id", repetition_ratio("text", 3).alias("r")).collect()}
    assert got[1] > 0.8      # one distinct 3-gram over six positions
    assert got[2] == 0.0     # all 3-grams unique


def test_cluster_safe_split_string_ids(spark):
    """String-id corpora (ADVICE r2): singletons must hash by their OWN id in
    string space — a long-cast would NULL every non-numeric id and dump all
    singletons into the last split."""
    from collections import Counter

    from doc_quality_check_spark.operators.sampling import (
        cluster_safe_split, hash_split,
    )

    df = spark.createDataFrame(
        [(f"doc-{i}", f"text {i}") for i in range(2000)],
        "doc_id string, text string")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    pairs = spark.createDataFrame(
        [("doc-0", "doc-1"), ("doc-1", "doc-2"), ("doc-10", "doc-11")],
        "id_a string, id_b string")
    out = {r["doc_id"]: r["split"] for r in
           cluster_safe_split(df, "doc_id", pairs, splits).collect()}
    frac = Counter(out.values())
    # ratios hold for string ids (pre-fix: 100% landed in 'test')
    assert 0.75 < frac["train"] / 2000 < 0.85
    assert frac["test"] / 2000 < 0.15
    # clusters stay together
    assert len({out[f"doc-{i}"] for i in (0, 1, 2)}) == 1
    assert len({out[f"doc-{i}"] for i in (10, 11)}) == 1
    # singletons match plain hash_split (representative == own id)
    plain = {r["doc_id"]: r["split"] for r in
             hash_split(df, "doc_id", splits).collect()}
    assert out["doc-500"] == plain["doc-500"]


def test_star_contraction_beats_label_on_long_chain(spark):
    """VERDICT r2 #8: a planted 10k-link chain has diameter 10k — min-label
    propagation exhausts its round budget, large-star/small-star contracts
    in O(log n) rounds with the same (id, comp) contract."""
    import pytest as _pytest

    from doc_quality_check_spark.operators.dedup import connected_components

    n = 10_000
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).coalesce(4)

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=8).collect()

    comp = connected_components(chain, max_iter=40, algorithm="star")
    rows = comp.collect()
    assert len(rows) == n
    assert all(r["comp"] == 0 for r in rows)

    # same contract on a multi-component graph (+ string ids)
    pairs = spark.createDataFrame(
        [("d", "b"), ("b", "a"), ("x", "y"), ("z", "z")],
        "id_a string, id_b string")
    got = {r["id"]: r["comp"]
           for r in connected_components(pairs, algorithm="star").collect()}
    assert got == {"a": "a", "b": "a", "d": "a", "x": "x", "y": "x", "z": "z"}
    # matches the label variant on the same graph
    lbl = {r["id"]: r["comp"]
           for r in connected_components(pairs).collect()}
    assert got == lbl


def test_stratified_and_capped_sampling(spark):
    """Per-group deterministic sampling: fractions hold per group, repeat
    runs and repartitioning select the same rows, caps bound each group by
    hash order."""
    from collections import Counter

    from doc_quality_check_spark.operators.sampling import (
        group_capped_sample, stratified_hash_sample,
    )

    rows = [(i, "en" if i % 10 < 7 else ("de" if i % 10 < 9 else "fr"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    s1 = {(r["doc_id"]) for r in stratified_hash_sample(
        df, "doc_id", "lang", {"en": 0.2, "de": 1.0}, 0.05).collect()}
    s2 = {(r["doc_id"]) for r in stratified_hash_sample(
        df.repartition(7), "doc_id", "lang", {"en": 0.2, "de": 1.0}, 0.05).collect()}
    assert s1 == s2
    by_lang = Counter("en" if i % 10 < 7 else ("de" if i % 10 < 9 else "fr")
                      for i in s1)
    assert 0.15 < by_lang["en"] / 2100 < 0.25     # ~20% of dominant group
    assert by_lang["de"] == 600                    # all of the rare group
    assert by_lang["fr"] / 300 < 0.12              # default fraction

    capped = group_capped_sample(df, "doc_id", "lang", cap=50)
    got = Counter(r["lang"] for r in capped.collect())
    assert got == {"en": 50, "de": 50, "fr": 50}
    # deterministic selection regardless of partitioning
    a = {r["doc_id"] for r in capped.collect()}
    b = {r["doc_id"] for r in
         group_capped_sample(df.repartition(11), "doc_id", "lang", 50).collect()}
    assert a == b


def test_dedup_keep_best_retention(spark):
    """Keep-best retention: one survivor per cluster (highest score, ties →
    smallest id), singletons always survive, cluster column = component min."""
    from doc_quality_check_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id long, score long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in
            dedup_keep_best(df, pairs, "doc_id", "score").collect()}
    # cluster {1,2,3,4}: scores 10/30/30/5 → tie between 2 and 3 → id 2 wins
    assert set(rows) == {2, 9}
    assert rows[2]["cluster"] == 1    # component min, not the survivor id
    assert rows[9]["cluster"] == 9    # singleton is its own cluster
    # star algorithm gives the identical survivors
    star = {r["doc_id"] for r in
            dedup_keep_best(df, pairs, "doc_id", "score",
                            algorithm="star").collect()}
    assert star == {2, 9}


def test_unigram_logprob_orders_rarity(spark):
    """Statistical-quality score: docs made of rare tokens score strictly
    lower (more negative) than docs of corpus-dominant tokens; token counts
    are exact."""
    from doc_quality_check_spark.operators.aggregates import (
        unigram_logprob_scores,
    )

    rows = [(i, "the quick fox " * 5) for i in range(20)]
    rows.append((100, "zyzzyva qwerty"))          # rare tokens
    rows.append((101, None))                      # no tokens → absent
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           unigram_logprob_scores(df, "doc_id", "text").collect()}
    assert 101 not in got
    assert got[100]["n_tokens"] == 2
    assert got[0]["n_tokens"] == 15
    assert got[100]["mean_logprob"] < got[0]["mean_logprob"] < 0


def test_curation_pipeline_example(spark):
    """examples/curation_pipeline.py composes the curation operators
    end-to-end: monotone funnel, eval-contaminated docs gone, near-dup
    clusters reduced to one survivor, every survivor split-assigned."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"))
    from curation_pipeline import curate

    base = [(i, f"alpha beta gamma delta epsilon doc {i} " * 3) for i in range(40)]
    base += [(100, base[0][1] + " tail"),            # near-dup of doc 0
             (200, "contaminated shared eval ngram payload text here")]
    docs = spark.createDataFrame(base, "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(9000, "contaminated shared eval ngram payload text here")],
        "doc_id long, text string")
    out, funnel = curate(spark, docs, eval_docs, min_logprob=-99.0)
    rows = out.collect()
    vals = list(funnel.values())
    assert all(a >= b for a, b in zip(vals, vals[1:]))   # monotone funnel
    ids = {r["doc_id"] for r in rows}
    assert 200 not in ids                                # decontaminated
    assert not {0, 100} <= ids                           # one survivor per cluster
    assert all(r["split"] in ("train", "val", "test") for r in rows)


def test_pack_token_bins_budget_and_determinism(spark):
    """Sequence packing: per-(bucket, bin) token sums stay within budget
    plus one straddling document, assignment is partitioning-independent,
    and every document gets exactly one bin."""
    from pyspark.sql import functions as F

    from doc_quality_check_spark.operators.sampling import pack_token_bins

    rows = [(i, 40 + (i * 37) % 200) for i in range(1500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    out = pack_token_bins(df, "doc_id", "n_tok", budget=500, n_buckets=16)
    a = {r["doc_id"]: (r["pack_bucket"], r["pack_bin"]) for r in out.collect()}
    assert len(a) == 1500
    b = {r["doc_id"]: (r["pack_bucket"], r["pack_bin"]) for r in
         pack_token_bins(df.repartition(7), "doc_id", "n_tok",
                         budget=500, n_buckets=16).collect()}
    assert a == b                       # partitioning-independent
    sums = (out.groupBy("pack_bucket", "pack_bin")
            .agg(F.sum("n_tok").alias("s"), F.max("n_tok").alias("mx"))
            .collect())
    # a bin holds at most budget plus the one straddling document
    assert all(r["s"] <= 500 + r["mx"] for r in sums)
    # packing is tight: most bins reach at least half the budget (the
    # straddle relaxation wastes at most one document's worth per bin)
    full = [r for r in sums if r["s"] >= 250]
    assert len(full) / len(sums) > 0.8


def test_pack_token_bins_duplicate_ids_rows_frame(spark):
    """Duplicate ids are ordering PEERS: the explicit ROWS frame must give
    them distinct cumulative sums (Spark's default RANGE frame would lump
    peers together, overrunning the budget bound and diverging from the
    oracle's ROWS frame)."""
    from pyspark.sql import functions as F

    from doc_quality_check_spark.operators.sampling import pack_token_bins

    # many rows share each doc_id → heavy peer groups in every bucket
    rows = [(i % 40, 300) for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    out = pack_token_bins(df, "doc_id", "n_tok", budget=500, n_buckets=4)
    sums = (out.groupBy("pack_bucket", "pack_bin")
            .agg(F.sum("n_tok").alias("s"), F.max("n_tok").alias("mx"))
            .collect())
    assert all(r["s"] <= 500 + r["mx"] for r in sums)


def test_upsample_groups_deterministic_factors(spark):
    """Group upsampling: integer factors repeat exactly, fractional factors
    hit the expected share, factor-1 groups pass through once, and the same
    rows repeat every run."""
    from collections import Counter

    from pyspark.sql import functions as F

    from doc_quality_check_spark.operators.sampling import upsample_groups

    rows = [(i, "rare" if i % 10 == 0 else ("mid" if i % 10 == 1 else "common"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = upsample_groups(df, "lang", {"rare": 3.0, "mid": 2.5}, id_col="doc_id")
    per = Counter((r["lang"]) for r in out.collect())
    assert per["rare"] == 300 * 3                  # exact integer factor
    assert 2.3 * 300 < per["mid"] < 2.7 * 300      # ~2.5x via hash share
    assert per["common"] == 2400                   # untouched
    # copy_id enumerates repeats from 0
    mx = out.filter(F.col("lang") == "rare").agg(F.max("copy_id")).first()[0]
    assert mx == 2
    # deterministic: identical multiset on re-run with different partitioning
    again = Counter((r["doc_id"], r["copy_id"]) for r in
                    upsample_groups(df.repartition(7), "lang",
                                    {"rare": 3.0, "mid": 2.5},
                                    id_col="doc_id").collect())
    first = Counter((r["doc_id"], r["copy_id"]) for r in out.collect())
    assert again == first


def test_prefix_jaccard_matches_full_on_fixture(docs):
    """jaccard_pairs_prefix is an exact algorithm: identical pair set AND
    identical jaccard values to the full inverted-index join over the
    fixture corpus (planted ~0.97 near-dups plus organic pairs)."""
    from doc_quality_check_spark.operators.dedup import jaccard_pairs_prefix

    full = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in
            jaccard_pairs(docs, "doc_id", "text", threshold=0.6).collect()}
    pref = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in
            jaccard_pairs_prefix(docs, "doc_id", "text", threshold=0.6).collect()}
    assert full, "fixture must contain near-dup pairs"
    assert pref == full


def test_prefix_jaccard_boundary_thresholds(spark):
    """Threshold sweep on an engineered token-set corpus with pairs AT the
    boundary (J exactly 0.6) and asymmetric lengths — a prefix one element
    too short or a mis-rounded length filter drops the boundary pair."""
    from doc_quality_check_spark.operators.dedup import jaccard_pairs_prefix

    rows = [
        (1, "a b c d"),                    # J(1,2)=3/5=0.6 exact boundary
        (2, "a b c e"),
        (3, "a b c d"),                    # exact dup of 1 -> J=1.0
        (4, "p q r s t u v w x y"),        # J(4,5)=9/11≈0.818
        (5, "p q r s t u v w x z"),
        (6, "entirely unrelated token stream zero overlap"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for thr in (0.5, 0.6, 0.75, 0.82, 0.9, 1.0):
        full = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in
                jaccard_pairs(df, "doc_id", "text", n=1, threshold=thr).collect()}
        pref = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in
                jaccard_pairs_prefix(df, "doc_id", "text", n=1,
                                     threshold=thr).collect()}
        assert pref == full, f"threshold {thr}: {pref} != {full}"
    at06 = {(r["id_a"], r["id_b"]) for r in
            jaccard_pairs_prefix(df, "doc_id", "text", n=1,
                                 threshold=0.6).collect()}
    assert (1, 2) in at06 and (2, 3) in at06 and (1, 3) in at06
    assert (4, 5) in at06


def test_prefix_jaccard_uncapped_skew_corpus(spark):
    """Skew guard: on a boilerplate-heavy corpus with the DF cap DISABLED
    (every doc shares a hot footer; the shape that makes the full inverted
    index quadratic) the prefix form still returns the exact pair set."""
    from pyspark.sql import functions as F
    from doc_quality_check_spark.operators.dedup import jaccard_pairs_prefix

    boiler = "this document is confidential property of example corp"
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat_ws(" ", *[
                F.concat(F.lit(f"w{j}_"), F.col("id")) for j in range(12)
            ]),
            F.lit(boiler),
        ).alias("text"),
    )
    # plant 3 near-dup pairs: doc_id 1000+i = copy of i with one body token changed
    dup = df.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.regexp_replace("text", "w0_", "x0_").alias("text"),
    )
    corpus = df.unionByName(dup)
    full = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in
            jaccard_pairs(corpus, "doc_id", "text", threshold=0.5,
                          max_shingle_df=None).collect()}
    pref = {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in
            jaccard_pairs_prefix(corpus, "doc_id", "text", threshold=0.5,
                                 max_shingle_df=None).collect()}
    planted = {(i, 1000 + i) for i in range(3)}
    assert planted <= {(a, b) for a, b, _ in pref}
    assert pref == full


def test_select_token_budget_greedy_prefix(spark):
    """Budget selection = greedy quality-desc prefix: exact boundary doc
    kept when it fits, dropped when it overflows; ties break by id."""
    from doc_quality_check_spark.operators.sampling import select_token_budget

    rows = [
        (1, 9.0, 40),
        (2, 8.0, 30),
        (3, 8.0, 30),   # score tie with 2 -> id order decides
        (4, 7.0, 50),
        (5, 1.0, 10),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "score", "toks"])

    def pick(budget):
        return {
            r["doc_id"]
            for r in select_token_budget(
                df, "score", "toks", budget, id_col="doc_id"
            ).collect()
        }

    assert pick(100) == {1, 2, 3}          # 40+30+30 fits, doc 4 overflows
    assert pick(99) == {1, 2}              # boundary: doc 3 would hit 100
    assert pick(1000) == {1, 2, 3, 4, 5}   # everything fits
    assert pick(39) == set()               # even the best doc overflows
    assert pick(70) == {1, 2}              # 40+30 exact boundary kept


def test_hot_bucket_guard_star_reduces_degenerate_corpus(spark):
    """Round-4 verdict order #3: a boilerplate-degenerate corpus (every doc
    textually identical) puts ALL docs in ONE LSH band/block bucket; without
    the guard the bucket self-join emits O(n^2) candidate pairs (~0.7M at
    n=1200). With DEFAULT_MAX_BUCKET_SIZE the bucket star-reduces to
    (bucket-min, member) edges: linear output, identical connected
    components."""
    from doc_quality_check_spark.operators.dedup import connected_components

    n = 1200  # > DEFAULT_MAX_BUCKET_SIZE = 1000
    text = "the quick brown fox jumps over the lazy dog every single day"
    df = spark.createDataFrame(
        [(f"d{i:05d}", text) for i in range(n)], ["doc_id", "text"]
    )

    for pair_fn in (
        lambda d: simhash_pairs(d, "doc_id", "text", max_hamming=3),
        lambda d: minhash_lsh_pairs(d, "doc_id", "text", threshold=0.9),
    ):
        pairs = pair_fn(df).cache()
        cnt = pairs.count()
        # linear in n (star edges), nowhere near n(n-1)/2 = 719,400
        assert n - 1 <= cnt < 5 * n, cnt
        comp = connected_components(pairs)
        assert comp.count() == n
        assert comp.select("comp").distinct().count() == 1
        pairs.unpersist()


def test_hot_bucket_guard_no_effect_below_cap(spark, sf001_dir):
    """On a normal corpus (max band-bucket size measured 2 at sf0.01) the
    guard must be a no-op: capped and uncapped pair sets identical — this is
    what keeps the dedup oracles hash-matched with the guard on by
    default."""
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    for fn, kw in (
        (simhash_pairs, dict(max_hamming=3)),
        (minhash_lsh_pairs, dict(threshold=0.6)),
    ):
        capped = {tuple(r) for r in fn(docs, "doc_id", "text", **kw).collect()}
        uncapped = {
            tuple(r)
            for r in fn(
                docs, "doc_id", "text", max_bucket_size=None, **kw
            ).collect()
        }
        assert capped == uncapped
        assert capped, "fixture must contain near-dup pairs"


def test_simhash_wide_block_keys_same_pairs(spark, sf001_dir):
    """simhash n_blocks knob (Manku WWW'07 block combinations): a wider
    key (6 blocks -> C(6,3)=20 keys of ~16 bits) returns the identical
    pair set — only candidate volume changes, never results."""
    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    base = {tuple(r) for r in
            simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    wide = {tuple(r) for r in
            simhash_pairs(docs, "doc_id", "text", max_hamming=3,
                          n_blocks=6).collect()}
    assert base == wide and base


def test_hamming_block_keys_validation():
    from pyspark.sql import functions as F

    from doc_quality_check_spark.operators.dedup import hamming_block_keys

    with pytest.raises(ValueError, match="max_hamming < n_blocks"):
        hamming_block_keys(F.col("x"), 64, 3, 3)
    with pytest.raises(ValueError, match="> 62"):
        hamming_block_keys(F.col("x"), 64, 64, 1)  # 63-bit packed key


def test_auto_hamming_blocks_selection():
    """Auto key sizing: small corpora keep the classic scheme; corpora
    where 8-bit buckets would fill by volume (measured 17% recall loss at
    n=100k, BASELINE.md round 5) get wider combination keys."""
    from doc_quality_check_spark.operators.dedup import auto_hamming_blocks

    # simhash (32 bits, h=3): 8-bit keys safe to 256*100=25.6k docs
    assert auto_hamming_blocks(5_000, 32, 3, 1000, (4, 6, 8)) == 4
    assert auto_hamming_blocks(100_000, 32, 3, 1000, (4, 6, 8)) == 6
    assert auto_hamming_blocks(10_000_000, 32, 3, 1000, (4, 6, 8)) == 8
    # audio (64 bits, h=7)
    assert auto_hamming_blocks(20_000, 64, 7, 1000, (8, 10)) == 8
    assert auto_hamming_blocks(5_000_000, 64, 7, 1000, (8, 10)) == 10
