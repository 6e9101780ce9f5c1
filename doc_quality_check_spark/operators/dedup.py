"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

A large-scale training-data pipeline needs near-duplicate removal as a
first-class operation; the reference's closest analogs are its set-dedupe of
scanned paths (/root/reference/test_readability.py:153) and the cross-document
keyword-frequency analysis that compares documents by shared token evidence
(/root/reference/modules/identity_detection.py:261-327). This module
generalizes those to content-level dedup over a text column.

Every operator is expressed relationally (explode + join + agg) so Catalyst
plans it with partial aggregation and AQE; nothing collects to the driver.

Scale notes (100 TB design point):
- The inverted-index Jaccard join shuffles (shingle, doc_id) pairs. Shingle
  document-frequency is Zipfian; ``max_shingle_df`` drops shingles whose DF
  exceeds a cap before the self-join — the standard positional-filter trick:
  at threshold t, a near-dup pair shares many shingles, so dropping the few
  ultra-hot shingles (stop-shingles) cannot drop a qualifying pair's ENTIRE
  overlap; it only bounds the worst self-join bucket. Defaults to
  DEFAULT_MAX_SHINGLE_DF=1000, which never engages at fixture scale
  (measured max df 7 at sf0.01 / 25 at sf0.1) so oracle parity holds.
- MinHash/LSH replaces the all-shared-shingle join with a band-bucket join:
  k hash mins per doc, b bands of r rows; candidate volume per band bucket is
  tiny for non-duplicates. Signatures are 16 BIGINTs per doc — the only
  state that shuffles.
- SimHash pairs join on 8-bit blocks (pigeonhole: hamming <= max_hamming < 4
  blocks guarantees one identical block), so candidates are found with an
  equi-join, never an all-pairs comparison.

Hash parity: H(s) = first-8-hex-digits of md5(s) as a bigint is computed
identically by Spark (``conv(substr(md5(s),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(s),1,8))::BIGINT``), so the DuckDB oracle reproduces
signatures bit-for-bit (see queries.py oracle builders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# MinHash universal-hash family h_i(x) = (a_i * x + b_i) mod P over the 32-bit
# token-hash domain. P is the smallest prime > 2^32; a_i < 2^20 keeps
# a_i * H < 2^52 (safe in 64-bit signed arithmetic under ANSI mode on both
# engines). Constants are literals so the SQL oracle builder can embed them.
MINHASH_PRIME = 4294967311
MINHASH_COEFFS: list[tuple[int, int]] = [
    (131, 7), (263, 101), (397, 211), (523, 307),
    (659, 401), (797, 503), (919, 601), (1049, 701),
    (1181, 809), (1307, 907), (1433, 1009), (1559, 1103),
    (1693, 1201), (1823, 1301), (1951, 1409), (2087, 1511),
]

SIMHASH_BITS = 32
SIMHASH_BLOCKS = 4  # 8-bit blocks; pigeonhole candidate join


def token_hash_expr(col: str) -> str:
    """SQL fragment: 32-bit deterministic hash of a string column (shared
    Spark/DuckDB semantics via md5 hex prefix)."""
    return f"CAST(conv(substr(md5({col}), 1, 8), 16, 10) AS BIGINT)"


def shingle_hash60_expr(col: str) -> str:
    """60-bit deterministic shingle hash (15 md5 hex digits) — the join key
    for the inverted-index Jaccard join: an 8-byte shuffle key instead of a
    ~20-char string; collision probability over ~10^5 distinct shingles is
    ~1e-9, and the DuckDB oracle hashes identically so any collision affects
    both sides equally."""
    return f"CAST(conv(substr(md5({col}), 1, 15), 16, 10) AS BIGINT)"


def md5_prefix_hash(col: F.Column, digits: int = 8) -> F.Column:
    """THE engine-parity hash contract as a Column: first ``digits`` md5 hex
    digits as a bigint — the Column twin of :func:`token_hash_expr` /
    :func:`shingle_hash60_expr` (SQL-fragment forms) and of the DuckDB
    ``('0x'||substr(md5(x),1,digits))::BIGINT`` oracle side. Change the hash
    family HERE and in those two fragments together."""
    return F.conv(F.substring(F.md5(col), 1, digits), 16, 10).cast("bigint")


def word_grams_expr(text_col: str, n: int = 3, distinct: bool = True) -> F.Column:
    """Word n-grams of a whitespace-tokenized text column as array<string>
    (empty when fewer than n tokens). ``distinct=True`` gives the shingle
    universe used by every dedup/contamination operator; ``distinct=False``
    keeps positional duplicates (the repetition filter's gram stream) — ONE
    builder so the two universes can never drift."""
    t = f"split({text_col}, ' ')"
    grams = (
        f"transform(sequence(1, size({t}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({t}, i, {n})))"
    )
    if distinct:
        grams = f"array_distinct({grams})"
    return F.expr(
        f"CASE WHEN size({t}) >= {n} THEN {grams} ELSE array() END"
    )


def shingle_col(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column as array<string>.
    Whitespace tokenization; empty array when fewer than n tokens."""
    return word_grams_expr(text_col, n, distinct=True)


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, hashed: bool = False
) -> DataFrame:
    """(id, shingle) rows — the inverted-index fact table for all dedup ops.
    ``hashed=True`` replaces the shingle string with its 60-bit hash (compact
    join/shuffle key for the pairwise operators)."""
    out = df.select(
        F.col(id_col), F.explode(shingle_col(text_col, n)).alias("shingle")
    )
    if hashed:
        out = out.select(
            id_col, F.expr(shingle_hash60_expr("shingle")).alias("shingle")
        )
    return out


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash groups with more than one member →
    (text_md5, n_docs, first_id). One hash-shuffle on a 32-char key; the text
    itself never shuffles."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("first_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact_keep_first(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Drop exact duplicates, keeping the min-id row per identical-text
    group — the retention twin of :func:`exact_duplicates` (same md5 key).
    Rows with NULL text are ALL kept: no content means nothing to compare,
    and an md5(NULL) group would silently collapse every null-text row into
    one survivor. One window shuffle on the 32-char hash; the text itself
    never shuffles as a key."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col(text_col).isNull() | (F.col("__rn") == 1))
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------

# A shingle appearing in d documents creates a d² self-join bucket; under a
# Zipfian shingle distribution at 10^12 rows a single stopword shingle would
# make the join quadratic in the corpus. 1000 bounds any one bucket at 10^6
# pairs while never engaging at test/bench scale (measured max df: 7 at
# sf0.01, 25 at sf0.1), so oracle results are unchanged. Pass None to
# disable (exact Jaccard over the full shingle universe).
DEFAULT_MAX_SHINGLE_DF = 1000


def _drop_hot_shingles(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """Drop shingles with document frequency > ``max_shingle_df`` from an
    exploded shingle relation (linear count pass + broadcast anti-join; the
    hot list itself is tiny by construction — see the :func:`jaccard_pairs`
    cost model). ``None`` disables the cap."""
    if max_shingle_df is None:
        return sh
    hot = (
        sh.groupBy("shingle").agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


# LSH band/block buckets have the same degenerate-skew failure mode as hot
# shingles: a boilerplate-heavy corpus puts ~every near-dup doc into ONE
# band bucket and the bucket self-join emits O(m^2) candidate pairs. The cap
# bounds any bucket's pair OUTPUT to (m-1) star edges instead of m(m-1)/2 —
# it never engages at fixture scale (measured max band-bucket size: 2 at
# sf0.01, 4 at sf0.1), so oracle parity holds, exactly the
# DEFAULT_MAX_SHINGLE_DF design.
#
# SCOPE (review round 5): star-reduction preserves clusters only when a hot
# bucket is SIMILARITY-degenerate (near-identical members — the boilerplate
# case it targets). Buckets that fill by VOLUME (narrow keys: an 8-bit
# simhash block holds ~n/256 mutually-dissimilar docs once the corpus is
# large) must not be star-reduced — widen the join key instead with
# ``n_blocks`` (hamming_block_keys below) so occupancy stays
# similarity-driven before the cap ever engages.
DEFAULT_MAX_BUCKET_SIZE = 1000


def auto_hamming_blocks(
    n_rows: int,
    total_bits: int,
    max_hamming: int,
    max_bucket_size: int | None,
    choices: tuple = (),
) -> int:
    """Pick the smallest block count whose packed key is wide enough that
    VOLUME-filled buckets stay far below the hot-bucket cap — i.e. expected
    random occupancy n / 2^key_bits ≤ max_bucket_size/10, keeping bucket
    membership similarity-driven so star-reduction can never eat true
    pairs (measured: at n=100k the classic 8-bit simhash keys star-reduced
    volume-filled buckets and lost 17% of true pairs; auto-chosen 16-bit
    keys kept full recall AND ran 8.4× faster — BASELINE.md round 5)."""
    choices = choices or (max_hamming + 1,)
    cap = max_bucket_size or DEFAULT_MAX_BUCKET_SIZE
    for b in choices:
        k = b - max_hamming
        key_bits = k * (total_bits // b)  # conservative: min block width
        if n_rows <= (1 << min(key_bits, 62)) * max(1, cap // 10):
            return b
    return choices[-1]


def hamming_block_keys(
    col, total_bits: int, n_blocks: int, max_hamming: int,
) -> list:
    """Pigeonhole join keys for Hamming-distance LSH, generalized to block
    COMBINATIONS (Manku, Jain & Das Sarma, "Detecting Near-Duplicates for
    Web Crawling", WWW 2007 §3): split a ``total_bits`` fingerprint into
    ``n_blocks`` near-equal blocks; if hamming(a, b) <= max_hamming then at
    most max_hamming blocks differ, so at least k = n_blocks - max_hamming
    blocks are identical — and therefore SOME k-subset of blocks matches
    exactly. Emitting one key per k-combination (C(n_blocks, k) keys of
    ~k*total_bits/n_blocks bits each) finds every qualifying pair with an
    equi-join, never an all-pairs scan.

    Why the knob matters at scale: with n_blocks = max_hamming + 1 (the
    classic single-block scheme, k=1) the key is only
    total_bits/(max_hamming+1) bits wide, so buckets fill by VOLUME at
    ~n / 2^width mutually-dissimilar members — the candidate join goes
    quadratic in corpus size regardless of similarity. Raising n_blocks
    widens the key (k grows faster than the per-block width shrinks):
    e.g. 64 bits, max_hamming=7 → n_blocks=8 gives 8 keys of 8 bits;
    n_blocks=10 gives C(10,3)=120 keys of ~19 bits (occupancy n/524288).
    Choose n_blocks so 2^(k*width) >> n / max_bucket_size.

    Returns struct(blk, val) Columns, one per combination — ``blk`` is the
    combination index, ``val`` the packed block values."""
    from itertools import combinations

    if not (max_hamming < n_blocks <= total_bits):
        raise ValueError(
            f"need max_hamming < n_blocks <= total_bits, got "
            f"{max_hamming=} {n_blocks=} {total_bits=}"
        )
    base = total_bits // n_blocks
    rem = total_bits % n_blocks
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    k = n_blocks - max_hamming
    combos = list(combinations(range(n_blocks), k))
    widest = max(sum(widths[bi] for bi in c) for c in combos)
    if widest > 62:
        # packed keys live in a signed long; ANSI mode would throw on
        # overflow mid-job — reject the configuration upfront instead
        raise ValueError(
            f"combination key is {widest} bits (> 62): lower n_blocks or "
            "raise max_hamming so packed keys fit a long"
        )
    keys = []
    for cid, combo in enumerate(combos):
        val = None
        for bi in combo:
            blockv = F.shiftrightunsigned(col, offsets[bi]).bitwiseAND(
                F.lit((1 << widths[bi]) - 1)
            )
            val = blockv if val is None else (
                val * F.lit(1 << widths[bi]) + blockv
            )
        keys.append(
            F.struct(F.lit(cid).alias("blk"), val.cast("long").alias("val"))
        )
    return keys


def banded_pairs(
    long: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    payload_cols: list[str] = (),
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate pairs from a bucket self-join with a hot-bucket guard —
    the single pairing stage shared by :func:`minhash_lsh_pairs`,
    :func:`simhash_pairs` and :func:`audio_dedup.audio_neardup_pairs`.

    ``long`` holds one row per (id, bucket) assignment with columns
    ``[id_col, *payload_cols, *bucket_cols]``. Buckets with at most
    ``max_bucket_size`` members self-join exhaustively (exact candidate
    enumeration). Larger buckets are **star-reduced**: each member pairs
    only with the bucket's minimum id — linear output instead of quadratic,
    and the pair graph keeps the same connected components, so
    keep-first / connected-components consumers see identical clusters
    after the caller's verification filter. ``max_bucket_size=None``
    disables the guard (exhaustive everywhere).

    Output: (id_a, id_b, <payload>_a, <payload>_b) with id_a < id_b,
    deduplicated across buckets. One shuffle on the bucket key (a window)
    feeding the equi-join that needed that partitioning anyway.
    """
    from pyspark.sql import Window

    def _ab(side: str):
        return [F.col(id_col).alias(f"id_{side}")] + [
            F.col(c).alias(f"{c}_{side}") for c in payload_cols
        ]

    out_cols = ["id_a", "id_b"] + [
        f"{c}_{s}" for c in payload_cols for s in ("a", "b")
    ]
    if max_bucket_size is None:
        a = long.select(*_ab("a"), *bucket_cols)
        b = long.select(*_ab("b"), *bucket_cols)
        return (
            a.join(b, list(bucket_cols))
            .filter(F.col("id_a") < F.col("id_b"))
            .select(*out_cols)
            .dropDuplicates(["id_a", "id_b"])
        )
    w = Window.partitionBy(*bucket_cols)
    # struct min with the id leading = the bucket representative row
    rep = F.struct(F.col(id_col).alias("id"), *[F.col(c) for c in payload_cols])
    sized = long.withColumn("_bn", F.count(F.lit(1)).over(w)).withColumn(
        "_rep", F.min(rep).over(w)
    )
    normal = sized.filter(F.col("_bn") <= max_bucket_size)
    a = normal.select(*_ab("a"), *bucket_cols)
    b = normal.select(*_ab("b"), *bucket_cols)
    exhaustive = (
        a.join(b, list(bucket_cols))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
    )
    # hot buckets: (bucket-min, member) star edges only. _rep.id is the
    # bucket minimum, so id ordering needs no least/greatest.
    star = (
        sized.filter(
            (F.col("_bn") > max_bucket_size) & (F.col(id_col) != F.col("_rep.id"))
        )
        .select(
            F.col("_rep.id").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.col(f"_rep.{c}").alias(f"{c}_a") for c in payload_cols],
            *[F.col(c).alias(f"{c}_b") for c in payload_cols],
        )
        .select(*out_cols)
    )
    return exhaustive.unionByName(star).dropDuplicates(["id_a", "id_b"])


def _verify_jaccard(
    cand: DataFrame | None,
    sh: DataFrame,
    id_col: str,
    threshold: float,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """Score (id_a, id_b) pairs by EXACT shingle Jaccard over ``sh`` and
    keep those >= ``threshold`` — the single shared verification stage of
    :func:`jaccard_pairs`, :func:`jaccard_pairs_prefix` and
    :func:`minhash_lsh_pairs` (one formula, one ``id_a < id_b`` convention,
    one join strategy to maintain).

    ``cand=None`` enumerates ALL shared-shingle pairs (the full
    inverted-index self-join); otherwise only the given candidates are
    scored. ``broadcast_sizes``: the per-document size table has one row
    per surviving document — broadcasting it is the fast plan while the
    corpus fits on the driver, but at 10^9+ documents it must shuffle
    instead (pass False; the join key is the pair id either way)."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if cand is None:
        shared = (
            sa.join(sb, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
        )
    else:
        shared = (
            cand.join(sa, "id_a")
            .join(sb, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
        )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    if broadcast_sizes:
        za, zb = F.broadcast(za), F.broadcast(zb)
    return (
        shared.join(za, "id_a").join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    materialize_shingles: bool = True,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold →
    (id_a, id_b, jaccard). Exact over the kept shingle universe: any pair
    with jaccard > 0 shares a shingle, so the shared-shingle equi-join
    enumerates every candidate. Shingles with document frequency >
    ``max_shingle_df`` are dropped from BOTH the index and the set sizes
    (the measure stays a true Jaccard over the filtered universe); they
    carry negligible similarity evidence but quadratic join cost.

    ``materialize_shingles`` (default on): the exploded shingle relation is
    consumed FOUR times (hot-list count, anti-join probe, set sizes, both
    self-join sides); one eager ``localCheckpoint`` computes the explosion
    once instead of four times — measured 8.0s → 4.3s on the sf0.1
    documents bench, identical output. Block cleanup is automatic when the
    lineage is garbage-collected (the same scoped pattern as
    :func:`connected_components`). At corpus scales where the explosion
    exceeds cluster local storage, pass False to trade recompute for
    storage; the call also becomes eager with it on.

    Cost model: building the hot-shingle list is one extra aggregation pass
    over the shingle explosion (~+1/3 wall at bench scale, measured). That
    LINEAR pass is the insurance against a QUADRATIC join bucket; a bounded
    collect_list-postings alternative would avoid the pass but materializes
    the full posting list of exactly the hot shingles it must drop (OOM on
    the skewed key), so the two-pass count-then-anti-join shape is the
    memory-safe design at 10^12 rows."""
    sh = exploded_shingles(df, id_col, text_col, n, hashed=True)
    if materialize_shingles:
        sh = sh.localCheckpoint(eager=True)
    sh = _drop_hot_shingles(sh, max_shingle_df)
    return _verify_jaccard(None, sh, id_col, threshold, broadcast_sizes)


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    materialize_shingles: bool = True,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (All-Pairs / PPJoin family:
    Bayardo et al. WWW'07, Xiao et al. WWW'08) — same output contract as
    :func:`jaccard_pairs` (every pair with shingle-set Jaccard >= threshold,
    no false negatives), but the inverted index holds only each document's
    PREFIX: its ``|x| - ceil(t*|x|) + 1`` rarest shingles under a global
    (document-frequency ASC, shingle) order.

    Why this is the 100 TB shape: the self-join cost of the full inverted
    index is sum(df^2) over shingles, and df is Zipfian. Prefix filtering
    (a) drops ~t fraction of postings per document, and (b) keeps exactly
    the RAREST shingles, so the surviving join buckets are the smallest
    ones — the quadratic term collapses superlinearly. A length filter
    (min(|x|,|y|) >= t*max(|x|,|y|), necessary for J >= t) prunes candidates
    before the verify join. Verification then counts shared shingles only
    for surviving candidates, exactly as :func:`minhash_lsh_pairs` does.

    Correctness (pigeonhole): if J(x,y) >= t then o = |x∩y| >= t*|x∪y| >=
    ceil(t*max(|x|,|y|)). Let e be the globally smallest element of x∩y; if
    e were outside x's prefix, at most ceil(t*|x|)-1 elements of x rank at
    or after e, yet all o >= ceil(t*|x|) common elements do — contradiction.
    So e lies in BOTH prefixes and the prefix equi-join finds every
    qualifying pair. The 1e-6 epsilon on ceil()/the length filter only ever
    LENGTHENS prefixes / ADMITS extra candidates at float boundaries (extra
    work, never a miss).

    Measured (local[32]): on the LOW-skew fixture corpus (max shingle DF 25
    at sf0.1) the extra DF-rank shuffle makes prefix ~25% slower than the
    full join (4.0s vs 3.2s best-of-3 interleaved) — there are no hot
    buckets to collapse. On a SKEWED corpus (4k/16k docs sharing a 10-token
    boilerplate footer, ``max_shingle_df=None``): full join 2.4s -> 30.0s
    for 4x docs (quadratic, ~1G join rows), prefix 5.5s -> 3.1s (flat).
    Prefix is also semantically stronger under skew: it returns EXACT
    Jaccard over the full shingle universe at bounded cost, where
    ``jaccard_pairs`` must approximate by dropping hot shingles from the
    measure. The driver oracle for both is the same SQL."""
    from pyspark.sql import Window

    sh = exploded_shingles(df, id_col, text_col, n, hashed=True)
    if materialize_shingles:
        # consumed by the DF agg, the rank join, the verify join (x2) and
        # the size agg — same measured rationale as jaccard_pairs
        sh = sh.localCheckpoint(eager=True)
    sh = _drop_hot_shingles(sh, max_shingle_df)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("s_df"))
    w = Window.partitionBy(id_col).orderBy("s_df", "shingle")
    wall = Window.partitionBy(id_col)
    plen = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-6))
        + F.lit(1)
    )
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_sh", F.count("*").over(wall))
        .filter(F.col("rk") <= plen)
        .select(id_col, "shingle", "n_sh")
    )
    pa = prefix.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    cand = (
        pa.join(pb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= F.lit(threshold) * F.greatest("n_a", "n_b") - F.lit(1e-6)
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verify_jaccard(cand, sh, id_col, threshold, broadcast_sizes)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 16
) -> DataFrame:
    """(id, mh0..mh{k-1}) — k permutation-mins over the shingle set, one
    groupBy (partial-aggregated map-side)."""
    assert k <= len(MINHASH_COEFFS)
    sh = exploded_shingles(df, id_col, text_col, n)
    h = F.expr(token_hash_expr("shingle"))
    sh = sh.withColumn("_h", h)
    aggs = [
        F.min((F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:k])
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.6,
    broadcast_sizes: bool = True,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs via banded MinHash; may MISS pairs at scale: a band
    bucket over ``max_bucket_size`` members star-reduces and drops true
    pairs between non-representative members. ``max_bucket_size=None``
    gives exact pairs.

    A band-bucket equi-join proposes candidates; exact shingle Jaccard
    verifies >= threshold. Output (id_a, id_b, jaccard). A pair at
    similarity s is caught with probability 1-(1-s^r)^b (r=4, b=4:
    s=0.97 → ~0.9998).

    ``max_bucket_size`` guards degenerate buckets (see :func:`banded_pairs`):
    buckets above the cap emit star edges (bucket-min, member) instead of
    all pairs — exhaustive pair enumeration below the cap, linear output and
    identical connected components above it. The default never engages at
    fixture scale, keeping oracle parity exact.

    No checkpoint, unlike :func:`jaccard_pairs`: eager localCheckpoints of
    the band table + verification shingles were A/B measured SLOWER here
    (2.7-3.0s → ~4.1s at sf0.1, 3 interleaved reps): the
    candidate-restricted verify reuses far less recompute than jaccard's
    four-consumer explosion, and the two blocking materializations
    serialize subtrees Spark otherwise runs concurrently."""
    k = bands * rows_per_band
    sig = minhash_signatures(df, id_col, text_col, n, k)
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(bi),
            *[F.col(f"mh{bi * rows_per_band + ri}") for ri in range(rows_per_band)],
        ).alias(f"band{bi}")
        for bi in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    # unpivot bands → one equi-join on the band value instead of b self-joins
    stack = ", ".join(f"'{bi}', band{bi}" for bi in range(bands))
    long = banded.selectExpr(
        id_col, f"stack({bands}, {stack}) AS (band_idx, band_key)"
    )
    cand = banded_pairs(
        long, id_col, ["band_idx", "band_key"],
        max_bucket_size=max_bucket_size,
    )
    # exact-Jaccard verification restricted to the candidate pairs — the
    # shared-shingle count is computed per candidate, not all-pairs
    sh = exploded_shingles(df, id_col, text_col, n, hashed=True)
    return _verify_jaccard(cand, sh, id_col, threshold, broadcast_sizes)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, simhash) — 32-bit SimHash over the shingle set: per-bit majority
    vote of shingle hashes, computed as 32 conditional sums in ONE groupBy."""
    sh = exploded_shingles(df, id_col, text_col, n)
    sh = sh.withColumn("_h", F.expr(token_hash_expr("shingle")))
    aggs = [
        F.sum(
            F.when((F.shiftrightunsigned("_h", j).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    votes = sh.groupBy(id_col).agg(*aggs)
    val = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        val = term if val is None else val + term
    return votes.select(F.col(id_col), val.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash pairs within ``max_hamming``; may MISS pairs at scale: a
    block bucket over ``max_bucket_size`` members star-reduces and drops
    true pairs between non-representative members. ``max_bucket_size=None``
    gives exact pairs.

    Output (id_a, id_b, hamming). Candidates come from an equi-join on
    pigeonhole block-combination keys (:func:`hamming_block_keys`); on small
    corpora this resolves to the classic one-identical-8-bit-block scheme.

    ``n_blocks=None`` (default) AUTO-SIZES the key from the corpus count
    (:func:`auto_hamming_blocks` over 4/6/8 blocks): 8-bit keys fill by
    volume at ~n/256 dissimilar docs per bucket, where the hot-bucket
    guard would star-reduce away true pairs (measured 17% recall loss at
    n=100k) — wider keys keep occupancy similarity-driven at every corpus
    size (measured: n_blocks=6 at n=100k is 8.4× faster WITH full recall).
    The exact Hamming post-filter makes every adequate n_blocks choice
    return the same pair set — only candidate volume changes.

    No checkpoint of the signature table before the two self-join sides:
    it A/B measured a wash at sf0.1 (2.6-3.2s both ways, 3 interleaved
    reps) — the signature agg is one cheap pass and the blocking
    checkpoint gives back what the reuse saves.

    ``max_bucket_size``: hot-block guard (see :func:`banded_pairs`) for
    SIMILARITY-degenerate corpora (near-identical docs all sharing one
    bucket): above the cap the bucket star-reduces to (bucket-min, member)
    edges before the Hamming filter — linear output, clusters preserved
    when members are near-dups of the representative. For volume-filled
    buckets widen ``n_blocks`` instead (see the DEFAULT_MAX_BUCKET_SIZE
    scope note)."""
    sig = simhash(df, id_col, text_col, n)
    if n_blocks is None:
        n_blocks = auto_hamming_blocks(
            df.count(), SIMHASH_BITS, max_hamming, max_bucket_size,
            choices=tuple(
                b for b in (SIMHASH_BLOCKS, 6, 8) if b > max_hamming
            ),
        )
    keys = hamming_block_keys(
        F.col("simhash"), SIMHASH_BITS, n_blocks, max_hamming
    )
    blocks = sig.select(
        F.col(id_col), "simhash", F.explode(F.array(*keys)).alias("e")
    ).select(
        F.col(id_col), "simhash",
        F.col("e.blk").alias("blk"), F.col("e.val").alias("val"),
    )
    cand = banded_pairs(
        blocks, id_col, ["blk", "val"], payload_cols=["simhash"],
        max_bucket_size=max_bucket_size,
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(
            F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
        ).alias("hamming"),
    ).filter(F.col("hamming") <= F.lit(max_hamming))


# ---------------------------------------------------------------------------
# Dedup verdict: keep-first representative per duplicate cluster
# ---------------------------------------------------------------------------

def dedup_keep_first(pairs: DataFrame, df: DataFrame, id_col: str) -> DataFrame:
    """Given near-dup pairs, mark rows to DROP: every id that appears as the
    greater member of a pair with a smaller surviving id (greedy min-id
    representative — one pass, no iteration). For full transitive clustering
    use :func:`connected_components` below and keep min(component)."""
    drop = pairs.select(F.col("id_b").alias(id_col)).dropDuplicates()
    return df.join(drop, id_col, "left_anti")


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "label",
) -> DataFrame:
    """Transitive dedup clustering: (id, component) where ``component`` is
    the smallest id reachable through the near-dup pair graph — the full
    clustering that :func:`dedup_keep_first`'s greedy one-pass rule
    approximates (its docstring's promised follow-up).

    Iterative min-label propagation: each round, every vertex takes the min
    of its own label and its neighbors' labels (one equi-join + one groupBy
    per round, all partial-aggregated map-side). Rounds needed = graph
    diameter; near-dup graphs are unions of near-cliques (diameter 2-3), so
    this converges in a handful of rounds — ``localCheckpoint`` cuts the
    growing lineage each round so plan size stays bounded. The driver loop
    only checks a scalar convergence count; all data movement is
    distributed.

    ``algorithm="star"`` switches to large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    2014): rounds grow with log(diameter) instead of diameter, so
    adversarial long-chain graphs (a 10k-link chain needs 10k label
    rounds but ~30 star rounds) converge where label propagation would
    exhaust ``max_iter``. Same output contract: (id, comp = min id of the
    component), ids restricted to nodes appearing in ``pairs``.
    """
    if algorithm == "star":
        return _connected_components_star(pairs, src, dst, max_iter)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm: {algorithm!r} (label|star)")
    edges = pairs.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    edges = edges.union(
        edges.select(F.col("t").alias("s"), F.col("s").alias("t"))
    ).dropDuplicates().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("s").alias("id")).dropDuplicates()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges["t"] == labels["id"])
            .select(edges["s"].alias("id"), F.col("comp"))
        )
        new = (
            labels.select("id", "comp").unionByName(nbr)
            .groupBy("id").agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    else:
        # silent truncation would return WRONG clusters (tail vertices keep
        # mid-chain labels); a >25-diameter component means the input is a
        # long near-dup chain — raise so the caller can widen max_iter or
        # switch to the large-star/small-star O(log n) variant.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds the round budget); raise "
            "max_iter or use algorithm='star' (log-rounds star contraction)"
        )
    return labels.select("id", "comp")


def _connected_components_star(
    pairs: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al. 2014).

    Each round rewrites the edge set with two rules until it stops changing:

    - large-star: for every node u, each strictly LARGER neighbor v is
      re-attached to m = min(N(u) ∪ {u}) — emit (v, m);
    - small-star: edges now point large→small; every node u attaches itself
      and all its (smaller) neighbors to m = min(N(u) ∪ {u}).

    Both rules are one groupBy (per-node min) + one equi-join — the same
    shuffle machinery as label propagation, but the edge set contracts
    toward stars centered on component minima in O(log n) rounds instead of
    O(diameter). At convergence every non-center node carries exactly one
    edge to its component's minimum id. ``localCheckpoint`` bounds lineage
    per round, as in the label variant. Raises on non-convergence rather
    than returning mid-contraction edges as components."""
    # canonical directed edges (a > b), deduped; comparisons use the ids'
    # natural ordering, matching the label variant's min() semantics
    e0 = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (
        e0.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e0.select(F.col("a").alias("id"))
        .unionByName(e0.select(F.col("b").alias("id")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # ---- large-star: neighborhoods need both directions
        bidir = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = bidir.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select(
            "a", F.least(F.col("a"), F.col("mn")).alias("m")
        )
        large = (
            bidir.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .dropDuplicates()
        )
        # ---- small-star: edges oriented a > b, so per-node min is min("b")
        sm = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(sm, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(sm.select(F.col("a"), F.col("m").alias("b")))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        changed = (
            small.exceptAll(edges).unionByName(edges.exceptAll(small)).count()
        )
        edges = small
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge within max_iter={max_iter} "
            "rounds — raise max_iter"
        )
    lab = edges.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("comp"))
    return nodes.join(lab, "id", "left").select(
        "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    max_iter: int = 25,
    algorithm: str = "label",
    broadcast_components: bool = True,
) -> DataFrame:
    """Cluster retention policy: keep exactly ONE row per near-duplicate
    cluster — the highest-``score_col`` member (ties → smallest id), the
    standard 'keep the best copy' rule of training-data dedup (vs
    :func:`dedup_keep_first`'s keep-smallest-id). Singletons (rows absent
    from ``pairs``) are their own cluster and always survive.

    Adds a ``cluster`` column (the component's min id). One component join +
    one per-cluster window; clusters are tiny so the window shuffle is
    bounded by the pair graph, not the corpus. The components table has one
    row per node in the PAIR graph — usually a small fraction of the corpus,
    but on a pathological corpus (everything near-dups something) it can
    approach corpus size and exceed driver/broadcast limits; pass
    ``broadcast_components=False`` to fall back to a shuffle hash join
    (same escape hatch as ``_verify_jaccard``'s ``broadcast_sizes``)."""
    from pyspark.sql import Window

    comp = (
        connected_components(pairs, max_iter=max_iter, algorithm=algorithm)
        .withColumnRenamed("id", "__kb_id")
        .withColumnRenamed("comp", "__kb_comp")  # reserved names: the input
        # df may legitimately carry its own 'comp' column (same defense as
        # cluster_safe_split's __cc_* renames)
    )
    if broadcast_components:
        comp = F.broadcast(comp)
    joined = df.join(
        comp, df[id_col] == F.col("__kb_id"), "left"
    ).drop("__kb_id")
    out = joined.withColumn(
        "cluster", F.coalesce(F.col("__kb_comp"), F.col(id_col))
    ).drop("__kb_comp")
    w = Window.partitionBy("cluster").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def contamination_flags(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Eval-set decontamination: flag corpus documents sharing at least
    ``min_shared`` distinct word n-grams with the eval set AS A WHOLE
    (the union of all eval documents' shingles) → (id, n_shared). Shingles
    matching two different eval docs both count — the standard pre-training
    hygiene semantics (n-gram-overlap decontamination in LLM training
    reports), and what the oracle pins. For per-eval-doc thresholds, group
    the join by eval doc id instead of deduplicating the eval shingles.

    Plan shape at 10^12 rows: the eval set is small → its distinct shingle
    hashes BROADCAST; the corpus explodes to (id, shingle) once and
    broadcast-joins — no shuffle of corpus text, no pairwise stage. Counting
    distinct shared shingles per doc is the only aggregation."""
    ev = (
        exploded_shingles(eval_df, id_col, text_col, n, hashed=True)
        .select("shingle").dropDuplicates()
    )
    # corpus shingles are already per-doc distinct (shingle_col applies
    # array_distinct) — no dropDuplicates here: that would be a full wide
    # shuffle of the largest intermediate in the job for nothing
    sh = exploded_shingles(corpus, id_col, text_col, n, hashed=True)
    return (
        sh.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_line_df: int = 2,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Corpus-level boilerplate removal (the C4/RefinedWeb line-dedup step):
    a LINE (``\\n``-separated, compared after trim) that appears in more
    than ``max_line_df`` distinct documents is boilerplate — nav bars,
    cookie banners, license footers — and is dropped from EVERY document.
    Output one row per input document: (id, clean_text, n_lines_removed);
    a document whose every line is boilerplate survives with ``''`` (the
    caller decides whether to drop empties — removal must not silently
    shrink the corpus).

    Scale shape: one posexplode (projection), ONE groupBy on the trimmed
    line to find hot lines (partial-agg combines before the shuffle), one
    join back, one groupBy(id) to reassemble — order restored via the
    captured line position, not a window. Empty lines carry no identity and
    are never counted or removed. ``broadcast_hot``: the hot-line list is
    tiny under production thresholds (~100+ docs) but grows as the
    threshold drops; pass False to let the probe join shuffle instead of
    shipping the list to every executor."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("__pos", "__line"),
    )
    hot = (
        lines.filter(F.trim(F.col("__line")) != "")
        .groupBy(F.trim(F.col("__line")).alias("__norm"))
        .agg(F.count_distinct(F.col(id_col)).alias("__line_df"))
        .filter(F.col("__line_df") > max_line_df)
        .select("__norm")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    j = lines.join(hot, F.trim(lines["__line"]) == hot["__norm"], "left")
    kept = F.when(
        F.col("__norm").isNull(),
        F.struct(F.col("__pos").alias("pos"), F.col("__line").alias("line")),
    )
    return j.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["line"]),
            "\n",
        ).alias("clean_text"),
        F.count(F.col("__norm")).alias("n_lines_removed"),
    )
