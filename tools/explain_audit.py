"""Plan audit: .explain-based assertions that the headline queries produce
the physical plans the engine is designed around (SURVEY.md §4):

- parquet scans PRUNE columns (a projection must not read unrelated columns —
  in particular nothing but the payload path may read `bytes`);
- filters are PUSHED into the scan (PushedFilters non-empty where expected);
- catalog joins BROADCAST (no sort-merge for small dims);
- non-UDF expression pipelines run inside WholeStageCodegen;
- a mixed-modality suite decodes each payload in exactly one pass, with no
  shuffle below a decode node;
- a suite's verdict union reads every table-check frame from the cache.

Run: python tools/explain_audit.py   (prints one PASS/FAIL line per audit)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def run_audits(spark) -> list[tuple[str, bool, str]]:
    """All plan audits against one live session. Returns
    (name, ok, detail) per audit — consumed by main() for the CLI and by
    tests/test_plan_audit.py so `pytest tests/` fails on any plan
    regression (a broadcast turning sort-merge, a scan reading bytes, a
    dedup join going cartesian)."""
    from pyspark.sql import functions as F

    from doc_quality_check_spark.queries import QUERIES

    results: list[tuple[str, bool, str]] = []

    def audit(name: str, ok: bool, detail: str = "") -> None:
        results.append((name, bool(ok), str(detail)))

    # 1. column pruning: group_stats must scan only the 4 lineitem columns
    p = plan_of(QUERIES["group_stats"](spark, SF))
    read = p.split("ReadSchema: ")[-1].split("\n")[0] if "ReadSchema: " in p else ""
    audit("group_stats column pruning",
          "l_comment" not in read and "l_shipdate" not in read and "l_quantity" in read,
          read[:120])

    # 2. predicate pushdown: semi_join's BUILDING filter reaches the scan
    p = plan_of(QUERIES["semi_join"](spark, SF))
    audit("semi_join filter pushdown", "PushedFilters: [" in p and "c_mktsegment" in p)

    # 3. broadcast: semi_join + referential_anti use broadcast joins
    audit("semi_join broadcast", "BroadcastHashJoin" in p and "LeftSemi" in p)
    p = plan_of(QUERIES["referential_anti"](spark, SF))
    audit("referential_anti broadcast anti-join",
          "BroadcastHashJoin" in p and "LeftAnti" in p)

    # 4. codegen: verdict projection is one WholeStageCodegen over the scan
    p = plan_of(QUERIES["verdict_projection"](spark, SF))
    audit("verdict_projection codegen",
          ("WholeStageCodegen" in p or "*(1)" in p) and "EvalPython" not in p)

    # 5. bytes pruning: a metadata-only suite never reads the payload column
    from doc_quality_check_spark.suite.runner import SuiteRunner
    from doc_quality_check_spark.suite.spec import Check, CheckSuite

    from doc_quality_check_spark.sources.clips import generate_clips, load_clips
    clips_dir = generate_clips(os.path.join(REPO, ".data", "clips_test"),
                               n_rows=2400, seed=42)
    clips = load_clips(spark, clips_dir)
    meta_suite = CheckSuite(
        name="meta", partition_by=["part_key"],
        checks=[Check("sr_domain", "isin", "sr_hz", {"values": [8000, 16000]})],
    )
    res = SuiteRunner(meta_suite).run(clips, payload=False)
    p = plan_of(res.verdicts)
    read = p.split("ReadSchema: ")[-1].split("\n")[0] if "ReadSchema: " in p else p
    audit("metadata-only suite prunes bytes", "bytes" not in read, read[:120])
    res.unpersist()

    # 5b. mixed audio+image suite: one decode pass per modality, the audio
    #     payload never rides into the image pass, and no shuffle sits
    #     below a decode node (plans print root-first: all text after the
    #     topmost decode node feeds it) — at two shuffle settings
    import numpy as np

    from doc_quality_check_spark.functions.media import encode_png_gray

    mixed = CheckSuite(
        name="mixed", partition_by=["part_key"],
        checks=[Check("dec", "payload_decode", "bytes", {"threshold": 15.0}),
                Check("img", "payload_image_decode", "img")],
    )
    noise = np.random.default_rng(7).integers(0, 256, size=(8, 8),
                                              dtype=np.uint8)
    mixed_clips = clips.withColumn(
        "img", F.lit(bytearray(encode_png_gray(noise))))
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (8, 64):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            res = SuiteRunner(mixed).run(mixed_clips)
            p = plan_of(res.checked)
            res.unpersist()
            map_in = p.split("MapInPandas", 1)[-1].split(")#", 1)[0]
            first = min((p.find(k) for k in ("ArrowEvalPython", "MapInPandas")
                         if k in p), default=len(p))
            audit(f"mixed suite one audio ArrowEvalPython (shuffle={n})",
                  p.count("ArrowEvalPython") == 1 and "audio_metrics_udf" in p)
            audit(f"mixed suite one image MapInPandas without bytes (shuffle={n})",
                  p.count("MapInPandas") == 1 and "bytes#" not in map_in,
                  map_in[:120])
            audit(f"mixed suite no Exchange below decode (shuffle={n})",
                  "Exchange" not in p[first:])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)

    # 5c. no Python outside the decode: the table-check verdict rows are a
    #     JVM-local relation, so a metadata-only default-suite run starts no
    #     Python worker at all, and a payload run has exactly one Python
    #     node, the audio decode. `PythonRDD[` is the lineage node token: a
    #     parallelized Python list shows one, and the bare word also names
    #     the PythonRDD.scala call site that reads it. A plan that prints
    #     the cached decode more than once prints the same node each time.
    import re

    from doc_quality_check_spark.sources.clips import load_baseline, load_catalog
    from doc_quality_check_spark.suite.spec import default_suite

    py_node = re.compile(r"(?:ArrowEvalPython|BatchEvalPython|MapInPandas)[^\n]*")
    for payload in (False, True):
        res = SuiteRunner(default_suite()).run(
            clips, catalog=load_catalog(spark, clips_dir),
            baseline=load_baseline(spark, clips_dir), payload=payload)
        outs = (res.verdicts, res.violations)
        nodes = sorted({n for df in outs for n in py_node.findall(plan_of(df))})
        py_rdds = sum(df.rdd.toDebugString().decode().count("PythonRDD[")
                      for df in outs)
        res.unpersist()
        tag = "payload" if payload else "metadata-only"
        audit(f"{tag} default suite: no PythonRDD in verdict/violation lineage",
              py_rdds == 0, f"PythonRDD nodes={py_rdds}")
        if payload:
            audit("payload default suite: one Python node, the audio decode",
                  len(nodes) == 1 and "audio_metrics_udf" in nodes[0],
                  [n[:80] for n in nodes])
        else:
            audit("metadata-only default suite: no Python eval node", not nodes,
                  [n[:80] for n in nodes])

    # 5d. table-check verdicts are read from the cache: every table-check
    #     frame (per-partition completeness, per-partition and global
    #     drift) is an InMemoryRelation under the verdict union, and the
    #     union's only shuffle is the partition-verdict groupBy. Walks the
    #     operator tree, which does not descend into cached plans (the
    #     plan string prints them).
    from doc_quality_check_spark.operators.aggregates import snapshot_histograms

    def operators(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        ch = node.children()
        return [node] + [op for i in range(ch.size())
                         for op in operators(ch.apply(i))]

    cached_suite = CheckSuite(
        name="cached_verdicts", partition_by=["part_key"],
        checks=[
            Check("id_nn", "not_null", "clip_id"),
            Check("tr_pp", "completeness_min", "transcript",
                  {"min_ratio": 0.99, "per_partition": True}),
            Check("sr_pp", "drift_psi", "sr_hz", {"per_partition": True}),
            Check("sr_glob", "drift_ks", "sr_hz"),
        ],
    )
    res = SuiteRunner(cached_suite).run(
        clips, baseline=snapshot_histograms(clips, ["sr_hz"], group_col="part_key"),
        payload=False)
    ops = operators(res.verdicts._jdf.queryExecution().executedPlan())
    res.unpersist()

    def source(op):
        # the operator under the row-wise wrappers of one union input
        while (op.nodeName().split(" ")[0] in (
                "WholeStageCodegen", "InputAdapter", "Project", "ColumnarToRow")
               and op.children().size() == 1):
            op = op.children().apply(0)
        return op.nodeName()

    union = [op for op in ops if op.nodeName() == "Union"]
    inputs = [source(union[0].children().apply(i))
              for i in range(union[0].children().size())] if union else []
    shuffles = [op.toString() for op in ops if op.nodeName() == "Exchange"]
    # the partition verdicts plus one cached frame per table check
    audit("table-check verdict frames read from the cache",
          len(inputs) == 4 and inputs.count("InMemoryTableScan") == 3, inputs)
    audit("verdict union's only shuffle is the partition-verdict groupBy",
          len(shuffles) == 1 and "hashpartitioning(" in shuffles[0],
          [s[:80] for s in shuffles])

    # 6. dedup jaccard: the shingle equi-join must be a hash join with
    #    map-side partial aggregation (no cartesian / nested loop)
    p = plan_of(QUERIES["dedup_jaccard"](spark, SF))
    audit("dedup_jaccard no cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    audit("dedup_jaccard partial agg", "partial_count" in p)

    # 6b. prefix-filtered jaccard: still hash joins only, and the prefix
    #     row_number window must rank by the document-frequency join column
    #     (the rarest-shingles order that collapses the join buckets)
    p = plan_of(QUERIES["dedup_jaccard_prefix"](spark, SF))
    audit("dedup_jaccard_prefix no cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    audit("dedup_jaccard_prefix ranks by shingle DF",
          "row_number" in p and "s_df" in p)

    # 6c. asof_join: the union-window shape must contain NO join operator
    #     and exactly one Window node (all fills fused); the only shuffles
    #     are the right-side pre-agg + the window exchange
    p = plan_of(QUERIES["asof_join"](spark, SF))
    audit("asof_join has no join operator", "Join" not in p)
    audit("asof_join single fused window", p.count("Window [") == 1)
    audit("asof_join bounded shuffles", p.count("Exchange hashpartitioning") <= 2)

    # 6d. range_join: the binned form must plan as a hash equi-join on
    #     (key, bin) — never a nested-loop/cartesian inequality join
    p = plan_of(QUERIES["range_join"](spark, SF))
    audit("range_join is an equi-join",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)

    # 6e. running_total: the global scan must NOT plan a single-partition
    #     window — no Window node, no SinglePartition exchange
    p = plan_of(QUERIES["running_total"](spark, SF))
    audit("running_total has no global window",
          "Window" not in p and "SinglePartition" not in p)

    # 7. cosine_topk: corpus side never shuffles (broadcast of queries only),
    # and the per-partition pre-cut sits BEFORE the top-k window's exchange so
    # only P*Q*k survivor rows shuffle, not the full corpus×queries product
    p = plan_of(QUERIES["cosine_topk"](spark, SF))
    audit("cosine_topk broadcasts queries", "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p)
    audit(
        "cosine_topk pre-cut before window shuffle",
        "MapInPandas" in p
        and "Exchange" in p
        and p.index("MapInPandas") > p.index("Exchange"),
        # physical plans print top-down: the Window's Exchange appears above
        # (= consumes) the MapInPandas pre-cut
    )

    # 8. seeded sign-LSH: bucket equi-join broadcasts the query side, no
    # cartesian anywhere, and the 8 projection dot products stay inside
    # codegen (no Python in the bucket computation)
    p = plan_of(QUERIES["ann_sign_lsh"](spark, SF))
    audit("ann_sign_lsh broadcast bucket join",
          "BroadcastHashJoin" in p and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p)
    audit("ann_sign_lsh buckets JVM-side",
          "EvalPython" not in p.split("MapInPandas")[0])

    # 8b. unigram_logprob: the two-pass frequency-enrich shape must keep
    # partial aggregation (map-side combine on the token groupBy) and must
    # not degenerate into a cartesian for the scalar-total broadcast
    # 'HashAggregate' alone is vacuous (any aggregate plan contains it);
    # require the partial_count marker that only map-side combine prints
    p = plan_of(QUERIES["unigram_logprob"](spark, SF))
    audit("unigram_logprob partial agg", "partial_count" in p)
    audit("unigram_logprob no cartesian", "CartesianProduct" not in p)

    # 8c. sampling projections are shuffle-free: stratified sampling and
    # upsampling must compile to scan+project/explode with NO exchange
    for qname in ("stratified_sample", "upsample_groups"):
        p = plan_of(QUERIES[qname](spark, SF))
        audit(f"{qname} no shuffle", "Exchange" not in p)

    # 9. group_capped_sample: exactly ONE exchange (the group-key window) —
    # the hash ordering must not add extra shuffles
    p = plan_of(QUERIES["group_capped_sample"](spark, SF))
    audit("group_capped_sample single shuffle", p.count("Exchange hashpartitioning") == 1,
          f"exchanges={p.count('Exchange hashpartitioning')}")

    # 10. boilerplate removal: hot-line count combines map-side; probe join
    # must never degenerate into a cartesian
    p = plan_of(QUERIES["boilerplate_lines"](spark, SF))
    audit("boilerplate_lines partial agg", "partial_count" in p)
    audit("boilerplate_lines no cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)

    # 11. bm25: corpus stats/df broadcast to the scorers; the final top-k is
    # an ordered take, never a global sort shuffle
    p = plan_of(QUERIES["bm25_search"](spark, SF))
    audit("bm25 broadcast stats", "BroadcastHashJoin" in p or "BroadcastExchange" in p)
    audit("bm25 top-k ordered take", "TakeOrderedAndProject" in p)

    # 12. skew_profile: one key aggregation with map-side combine + ordered
    # take for the top-n
    p = plan_of(QUERIES["skew_profile"](spark, SF))
    audit("skew_profile partial agg", "partial_count" in p)
    audit("skew_profile top-n ordered take", "TakeOrderedAndProject" in p)

    # 13. snapshot_diff: ONE full-outer equi-join on the key — hash/merge
    # join only, no nested-loop fallback
    p = plan_of(QUERIES["snapshot_diff"](spark, SF))
    audit("snapshot_diff equi full-outer join",
          "FullOuter" in p and "BroadcastNestedLoopJoin" not in p
          and "CartesianProduct" not in p)

    # 14. weighted_sample: pure projection + ordered take — no shuffle at all
    p = plan_of(QUERIES["weighted_sample"](spark, SF))
    audit("weighted_sample shuffle-free ordered take",
          "TakeOrderedAndProject" in p and "Exchange hashpartitioning" not in p)

    # 15. zscore_outliers: moments combine map-side; the stats table joins
    # back via broadcast, never a shuffled join of the raw rows
    p = plan_of(QUERIES["zscore_outliers"](spark, SF))
    audit("zscore_outliers partial agg", "partial_count" in p)
    audit("zscore_outliers broadcast stats join", "BroadcastHashJoin" in p)

    # 21. audio near-dup: candidates from the block equi-join, never a
    # fingerprint cross product
    p = plan_of(QUERIES["audio_neardup"](spark, SF))
    audit("audio_neardup no cartesian", "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p)
    audit("audio_neardup block equi-join",
          "SortMergeJoin" in p or "BroadcastHashJoin" in p)

    # 22. round-5 media driver queries: the synthesized binary payload
    # must never cross a shuffle — video splits synth/decode via
    # localCheckpoint (one Exchange only for the final sort), audio keeps
    # synth+decode inside ONE Arrow UDF (no bytes column in the plan at
    # all). A join/aggregate sneaking between synth and decode would drag
    # gigabytes of binary through the shuffle at 10^12 scale.
    p = plan_of(QUERIES["video_frame_metrics"](spark, SF))
    audit("video_frame_metrics no cartesian",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    # plans print root-first: anything BELOW MapInPandas in the tree text
    # feeds it — an Exchange there would shuffle the binary payload
    audit("video_frame_metrics binary stays in the scan stage",
          "Exchange" not in p.split("MapInPandas", 1)[1]
          if "MapInPandas" in p else False,
          "no exchange may sit between the checkpointed scan and decode")
    p = plan_of(QUERIES["audio_decode_metrics"](spark, SF))
    audit("audio_decode_metrics single-UDF (no bytes column)",
          "bytes" not in p and "ArrowEvalPython" in p)
    audit("audio_decode_metrics no join", "Join" not in p)

    return results


def main() -> None:
    from doc_quality_check_spark.session import get_spark

    spark = get_spark("explain-audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    results = run_audits(spark)
    failures = [n for n, ok, _ in results if not ok]
    for name, ok, detail in results:
        print(f"  {'PASS' if ok else 'FAIL'}  {name}  {detail}")
    print("FAILURES:" if failures else "all plan audits pass", failures or "")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
