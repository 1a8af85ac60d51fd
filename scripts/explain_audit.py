"""Plan audit: print explain("formatted") for headline queries and check
the invariants that matter at 100 TB:

- filters are pushed into the parquet scan (PushedFilters)
- scans read only referenced columns (ReadSchema pruning)
- dimension joins broadcast (BroadcastHashJoin, no SortMergeJoin on a
  small side)
- no Python UDF (BatchEvalPython/ArrowEvalPython) in relational plans

Usage: python scripts/explain_audit.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITS = {
    # name: (must_contain, must_not_contain)
    "enrich_join": (["BroadcastHashJoin", "PushedFilters: [IsNotNull(o_orderstatus)"], ["Python"]),
    "frontier_schedule": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "links_per_page": ([], ["Exchange hashpartitioning"]),  # partial agg + AQE only shuffle once; checked loosely below
    "dedup_minhash_lsh": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "dedup_ngram_jaccard": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    "embed_lsh_ann": ([], ["CartesianProduct", "BatchEvalPython"]),
    # the corpus-scale pair source stays bucketed: signature matmul
    # (MapInPandas), (t, bkt) probe equi-join, vec_id verify joins
    "embed_neardup_lsh": (["MapInPandas"], ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"]),
    # round 3: both assignment passes are in-partition numpy matmuls
    # (MapInPandas); the only join left is the candidate equi-join on cell —
    # no crossJoin, no per-vec window shuffle, no row-at-a-time Python
    "embed_ivf_ann": (["MapInPandas"], ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"]),
    # two-phase rank: the only Window left is per-_pid-partitioned (the plan
    # never moves all rows to one task); no Python anywhere
    "admission_cap": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    # grand total via broadcast cross join of a 1-row agg — no Window at all
    "status_breakdown": (["BroadcastNestedLoopJoin"], ["Window", "BatchEvalPython"]),
    "text_quality": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    # one shuffle (partitionBy user_id), running-last window — no range join,
    # no cartesian, no Python
    "asof_join": (["Window"], ["CartesianProduct", "SortMergeJoin", "BatchEvalPython"]),
    # pushed equality-side filters feed a shuffled equi-join on user_id; the
    # interval predicate stays a post-join filter, never a cartesian
    "attribution_join": (["PushedFilters: [IsNotNull(event_type)"], ["CartesianProduct", "BatchEvalPython"]),
    "session_rollup": ([], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # the sampling predicate evaluates JVM-side in the scan stage
    "stratified_sample": ([], ["BatchEvalPython", "ArrowEvalPython"]),
    # iterative rank: every iteration joins the (tiny) rank side by
    # broadcast against the once-partitioned edge list — never a shuffle of
    # the edges per round, never a cartesian
    "host_pagerank": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # two-phase cumsum: only per-_pid-partitioned Windows (no global sort to
    # one task)
    "doc_pack": ([], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # df + ndocs sides broadcast; the per-doc window is naturally partitioned
    "tfidf_topterms": (["BroadcastHashJoin"], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # retention -> pack -> rollup composed: still no Python, no cartesian,
    # no single-partition window
    "corpus_pipeline": ([], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # benchmark-shingle probe: equi-joins only, bounded fanout, no Python
    "corpus_decontaminate": ([], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # phash block probe vs benchmark images: equi-joins on (k, blk), no cartesian
    # (the generator mapInPandas is the ingest stand-in, so Python appears only there)
    "image_decontaminate": ([], ["CartesianProduct"]),
    # keeper-per-cluster verdict: the final grouped agg over star labels —
    # equi-joins/aggregations only, no cartesian anywhere in the lineage
    "image_dedup_clusters": ([], ["CartesianProduct"]),
    # one tagged-gram explode + two hash aggs, all JVM-side; no window at all
    "text_repetition": ([], ["Window", "CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # two exchanges only: segment-hash window (high-cardinality key) + doc_id
    # rollup; within-doc dedup is a local array_distinct, never a shuffle
    "line_dedup": (["Window"], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # 1-row totals broadcast; rates dim un-hinted (AQE broadcasts when small)
    "domain_resample": (["BroadcastNestedLoopJoin"], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # four composed stages: equi-joins on doc_id only, no cartesian/Python
    "corpus_pipeline_full": ([], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # metadata-only gates over the bucketed pair graph (Python appears only
    # in the synthetic-images generator mapInPandas, as with the other image
    # queries); no cartesian anywhere
    "image_curate": ([], ["CartesianProduct"]),
    # map-only transform pipeline: no join of any kind in the plan
    "image_thumbnail": ([], ["CartesianProduct", "Join"]),
    # (the generator's MapInPandas sits behind _pack_bins' localCheckpoint,
    # so the final plan starts at the checkpointed scan)
    "image_shard_pack": ([], ["CartesianProduct", "Join", "BatchEvalPython"]),
    # 1:1 two-tower scoring: equi-joins on the embedding key only — never a
    # similarity self-join (retrieval is the ANN queries' job)
    "image_caption_align": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # three composed verdict legs (text retention, phash star labels,
    # caption alignment) joined on doc_id equi-joins only
    "corpus_multimodal_pipeline": ([], ["CartesianProduct"]),
    # map-only regexp projection: no join, no window, no shuffle at all
    "text_pii_redact": ([], ["Join", "Window", "Exchange", "BatchEvalPython", "ArrowEvalPython"]),
    "text_classify_quality": ([], ["Join", "Window", "Exchange", "BatchEvalPython", "ArrowEvalPython"]),
    # cluster-bounded semantic dedup: zero-shuffle matmul assignment
    # (MapInPandas), then equi-joins on cell / vec_id only — the pairwise
    # stage can never fall back to a cartesian or per-vec window shuffle
    "embed_semdedup": (["MapInPandas"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window", "BatchEvalPython"]),
    # (the same, with the assignment behind one eager localCheckpoint, so
    # the final plan starts at the checkpointed scan)
    "embed_decontaminate": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window", "BatchEvalPython"]),
    # digest groupBy only: map-side partial agg + ONE shuffle on the digest,
    # no join, no window (min(string) has no fixed-width buffer, so Spark
    # picks SortAggregate — still partial-agg'd before the exchange; Python
    # is the synthetic-images generator mapInPandas, as everywhere else)
    "image_exact_dedup": (["SortAggregate", "Exchange"], ["Join", "Window", "CartesianProduct"]),
    # ladder argmin inside one projection: map-only — no join, no window,
    # no shuffle of any kind past the generator
    "image_res_bucket": ([], ["Join", "Window", "CartesianProduct"]),
    # payloads ⋈ assignment equi-join, then ONE shuffle keyed by shard_id
    # into the applyInPandas writer — no cartesian, no global window
    "image_shard_bytes": (["FlatMapGroupsInPandas"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # metadata-only token costing + two-phase cumsum: per-partition window
    # only (pack_bins), no join, no cartesian
    "vlm_pack": ([], ["CartesianProduct", "Join", "BatchEvalPython"]),
    # map-only argmin → tiny partial-agg'd count → broadcast of the
    # ladder-sized (true constant cardinality) count table → map-only filter
    "image_bucket_sample": (["BroadcastHashJoin"], ["CartesianProduct", "Window", "SortMergeJoin"]),
    # one decode mapInPandas then a map-only integer head — no join, no
    # window, no cartesian (the only Exchange is the generator's repartition)
    "image_classify_aesthetic": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    # one decode stage per payload, then a groupBy rollup or a map-only
    # verdict projection: no join, no window, no cartesian
    "multimodal_image": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    "multimodal_audio": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    "multimodal_video": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    "audio_curate": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    "video_curate": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    # one decode mapInPandas emitting extracted text, then JVM string/token
    # expressions — map-only end to end, no join/window/cartesian
    "image_ocr_extract": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    # one decode + detect + re-encode mapInPandas, JVM crc32 projection —
    # map-only end to end (image_thumbnail's plan shape)
    "image_pii_redact": (["MapInPandas"], ["Join", "Window", "CartesianProduct"]),
    # gram explode -> partial-agg'd count shuffle -> semi-join back -> per-doc
    # window: equi-joins and doc-partitioned windows only, all JVM-side
    "span_dedup": (["Window"], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # bigram/prefix count tables shuffle-join (deliberately un-hinted: they
    # scale with vocabulary); only the 1-row vocab agg broadcasts
    "text_lm_score": (["BroadcastNestedLoopJoin"], ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # mining composes on the IVF plan (matmul assignment, cell equi-join);
    # the added window partitions per query over <= TOP_K rows
    "caption_hard_negatives": (["MapInPandas", "Window"], ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"]),
    # asymmetric new-batch x existing-corpus band join: equi-joins on
    # (band, band_key) and the shingle key only; best-match is a map-side
    # max(struct) grouped agg, never a window sort
    "dedup_incremental": ([], ["CartesianProduct", "Window", "BatchEvalPython", "ArrowEvalPython"]),
    # component labels + map-only hash split: equi-joins only (the star
    # rounds are materialized behind localCheckpoint scans)
    "corpus_split": ([], ["CartesianProduct", "Window", "BatchEvalPython", "ArrowEvalPython"]),
    # one scan + one partial-agg'd ROLLUP (Expand) shuffle; no join at all
    "corpus_stats": (["Expand"], ["Join", "CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # matmul assignment + one 8-byte-pair groupBy + 1-row summary; no join,
    # no window, no cartesian past the Arrow assignment stage
    "embed_index_stats": (["MapInPandas"], ["Join", "Window", "CartesianProduct", "BatchEvalPython"]),
}


def audit(spark, sf_dir: str, name: str, queries) -> tuple[list[str], str]:
    """(problems, formatted plan) of query *name* against its AUDITS entry."""
    must, must_not = AUDITS[name]
    plan = queries[name](spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    probs = [f"missing: {m}" for m in must if m not in plan]
    if name != "links_per_page":
        probs += [f"present: {m}" for m in must_not if m in plan]
    return probs, plan


def main() -> int:
    from web_crawler_spark.analytics import LOCAL_QUERIES, QUERIES
    from web_crawler_spark.session import get_spark

    QUERIES = {**QUERIES, **LOCAL_QUERIES}

    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="explain-audit", master="local[4]", shuffle_partitions=8)
    failures = []
    for name in AUDITS:
        if only and name not in only:
            continue
        probs, plan = audit(spark, sf_dir, name, QUERIES)
        status = "OK " if not probs else "FAIL"
        print(f"{status} {name}" + ("" if not probs else f"  {probs}"))
        if probs:
            failures.append(name)
            print(plan[:4000])
    print("all plans clean" if not failures else f"failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
