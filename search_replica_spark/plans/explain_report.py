"""Physical-plan quality report: captures .explain("formatted") for the
engine's key plans and asserts the properties that matter at 100 TB —
filter/projection pushdown into the parquet scan, broadcast joins where a
side is small, no unexpected cartesian products. Run:

    python -m search_replica_spark.plans.explain_report [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "query_postings_fetch": {
        "want": ["PushedFilters: [In(term_id"],
        "avoid": ["CartesianProduct"],
        "why": "query-time posting fetch must reach the parquet scan as a term_id IN filter (row-group pruning on the term_id-sorted postings)",
    },
    "p2_projection_pruning": {
        "want": ["PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"],
        "avoid": [],
        "why": "filter pushdown into the lineitem scan; ReadSchema limited to 4 columns",
    },
    "b6_has_child_semijoin": {
        "want": ["LeftSemi", "Filter"],
        "avoid": ["CartesianProduct"],
        "why": "has_child = semi-join, child-side status filter pushed below the join",
    },
    "bm25_distributed": {
        "want": ["PushedFilters: [In(term_id", "BroadcastHashJoin"],
        "avoid": ["CartesianProduct", "SortMergeJoin"],
        "why": "distributed scorer: term_id pushdown, broadcast idf and broadcast docs(doc_idx, doc_len), so NO shuffle join remains",
    },
    "dedup_embedding_lsh": {
        "want": [],
        "avoid": ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "why": "embedding near-dup candidates come from an EQUI-join on (band, code) — the all-pairs cartesian form exists only as the capped small-n reference",
    },
    "dedup_ngram_jaccard": {
        "want": ["Window"],
        "avoid": ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "why": "prefix filtering (df-ranked window, prefix tokens only) sits BELOW the self-join, so hot tokens cannot explode the join",
    },
    "inline_resolve": {
        "want": ["BroadcastHashJoin"],
        "avoid": ["CartesianProduct", "SortMergeJoin"],
        "why": "streamed inline maintenance (r5): the child batch (collapsed per parent) broadcasts against the stored _source — one probe scan of the doc store, the distributed form of ES's per-update GET",
    },
    "dedup_simhash_hamming": {
        "want": ["v1", "v2", "v3"],
        "avoid": ["BroadcastNestedLoopJoin", "CartesianProduct"],
        "why": "hamming<=3 pairs via pigeonhole block equi-join (Manku C(6,3) table-duplication: key = combo + THREE ~11-bit blocks ≈ 2^32 buckets, so within-bucket expansion stays bounded at 10^9+ rows), verified with popcount — never all-pairs",
    },
    "b6b_has_parent_semijoin": {
        "want": ["LeftSemi", "Filter"],
        "avoid": ["CartesianProduct"],
        "why": "has_parent = semi-join against the filtered parent side (inverse of has_child)",
    },
    "p17_partial_update_merge": {
        "want": ["SortAggregate"],
        "avoid": ["BroadcastNestedLoopJoin", "CartesianProduct", "Window"],
        "why": "read-time partial-update merge: per-column last-non-null-wins is ONE two-phase aggregate on doc_id (max over (seq, value) structs compiles to partial+final SortAggregate — struct max is not hash-aggregable; still no window sort over the full set), then a single doc_id equi-join + coalesce",
    },
    "partial_update_resolve": {
        "want": ["BroadcastHashJoin"],
        "avoid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "why": "engine-side partial-update resolution broadcasts the (small) micro-batch of partials and streams the docs store through the probe — never the reverse; the merged rows then re-index as a superseding generation",
    },
    "ft_get_by_id": {
        "want": ["PushedFilters: [In(doc_id"],
        "avoid": ["CartesianProduct"],
        "why": "GET/mget: the doc_id point filter reaches the docs-store parquet scan (row-group pruning), it is not a scan-then-filter",
    },
    "ft_search_after_page2": {
        "want": ["TakeOrderedAndProject"],
        "avoid": ["CartesianProduct"],
        "why": "search_after deep paging: tuple-compare filter + top-k sort (TakeOrderedAndProject = per-partition heap + k-row merge), never OFFSET's skip-scan",
    },
    "pack_sequences": {
        "want": ["rangepartitioning"],
        "avoid": ["Window"],
        "why": "global running token sum via the two-pass partition-offset pattern (range partition + local cumsum from O(P) driver offsets) — a global-window formulation would funnel 10^12 rows through ONE partition's sort",
    },
    "ann_pq_adc": {
        "want": ["MapInArrow", "TakeOrderedAndProject"],
        "avoid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Exchange hashpartitioning"],
        "why": "PQ ADC search (r6): the trained codebook collects to an 8 KB LUT carried in the task closure, encode+ADC run in ONE map-only Arrow pass over the vectors (no codebook join, no per-(vec,m) groupBy shuffle), and top-k is a TakeOrdered heap — the only exchange left is the k-row singlePartition merge",
    },
    "b8b_routing_partition_pruning": {
        "want": ["PartitionFilters: [isnotnull(bucket", "PushedFilters: [IsNotNull(o_custkey"],
        "avoid": ["CartesianProduct"],
        "why": "routed fetch over a routing-partitioned doc store: the bucket predicate PARTITION-PRUNES the scan to one directory (the one-shard GET the reference's ?routing= gives ES), and the key filter pushes into that partition's row groups",
    },
    "text_bigram_lm_nll": {
        "want": [],
        "avoid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "why": "corpus bigram-LM scoring (r5): the model is two groupBy shuffles joined back by equi-key; V is a collected scalar literal, so NO cross join ever reaches the plan — the whole score is equi-join + aggregate, the shape that survives any corpus the shuffle fits",
    },
    "text_dup_chunk_fraction": {
        "want": [],
        "avoid": ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
        "why": "duplicate-chunk fraction (r5): corpus-wide chunk counts via ONE high-cardinality groupBy + equi-join back — no window over the corpus, no pairwise anything",
    },
    "hybrid_rrf_top10": {
        "want": ["TakeOrderedAndProject"],
        "avoid": ["CartesianProduct"],
        "why": "hybrid RRF (r5): each leg is cut to top-N by a per-partition heap (TakeOrderedAndProject) BEFORE the rank window, so the unpartitioned window only ever sees LEG_N rows; the only nested-loop is the broadcast of the 1-row query vector",
    },
    "percolate_matches": {
        "want": ["BroadcastHashJoin"],
        "avoid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "why": "percolate (r5): the registered-query table BROADCASTS into one equi-join with the distinct (doc, term) set — matching 10k queries costs the same single corpus pass as five",
    },
    "text_chunk_sliding": {
        "want": ["Generate"],
        "avoid": ["Exchange", "CartesianProduct", "Window"],
        "why": "LLM chunking (r5): tokenize + window-start sequence + explode is a MAP-ONLY stage — zero Exchange in the plan, so chunk rows stream straight from the document scan into downstream packing/embedding at any corpus size",
    },
    "geo_distance_top10": {
        "want": ["TakeOrderedAndProject"],
        "avoid": ["Exchange", "CartesianProduct"],
        "why": "geo_distance sort (r5): nearest-k over a derived distance column is a per-partition heap + k-row driver merge (TakeOrderedAndProject), never a global sort shuffle",
    },
    "agg_bucket_script_share": {
        "want": ["BroadcastNestedLoopJoin"],
        "avoid": ["CartesianProduct", "SortMergeJoin"],
        "why": "bucket_script (r5): the sibling-total is a 1-ROW broadcast riding a nested-loop join over O(buckets) rows — constant work; the fact table is scanned exactly once (by the bucket aggregation below)",
    },
    "agg_auto_date_histogram": {
        "want": ["BroadcastNestedLoopJoin"],
        "avoid": ["CartesianProduct", "SortMergeJoin"],
        "why": "auto_date_histogram (r5): the data-derived interval choice is a 1-ROW broadcast (O(1) min/max reduce) riding a nested-loop join — the fact scan happens once, under the bucket groupBy; no shuffle joins",
    },
    "ft_rank_feature_top10": {
        "want": ["TakeOrderedAndProject", "BroadcastHashJoin"],
        "avoid": ["CartesianProduct", "SortMergeJoin"],
        "why": "rank_feature (r5): the filter-context match set broadcasts against the feature column scan and top-k is a per-partition heap (TakeOrderedAndProject) — no global sort, no shuffle join",
    },
    "dsl_frequent_item_sets": {
        "want": ["BroadcastHashJoin"],
        "avoid": ["CartesianProduct", "SortMergeJoin"],
        "why": "frequent_item_sets (r5): the capped top-df vocabulary BROADCASTS into the token stream and pairs come from collect_set + double explode — no corpus self-join (which would scan the token subtree twice and shuffle it)",
    },
    "agg_variable_width_histogram": {
        "want": ["BroadcastNestedLoopJoin", "Window"],
        "avoid": ["CartesianProduct", "SortMergeJoin"],
        "why": "variable_width_histogram (r5): corpus rows reduce to the per-VALUE histogram first; the rank window runs over |distinct values| rows only and the 4-row ntile bucket spec rides a broadcast — no single-partition window ever touches corpus rows",
    },
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from pyspark.sql import functions as F

    from search_replica_spark.operators import all_registered
    from search_replica_spark.operators.fulltext import _index_dir_for
    from search_replica_spark.session import get_spark

    spark = get_spark("plans", cores=4, shuffle_partitions=4)
    reg = all_registered()
    idx = _index_dir_for(spark, sf_dir)

    plans = {}
    post = spark.read.parquet(os.path.join(idx, "postings"))
    plans["query_postings_fetch"] = plan_of(post.filter(F.col("term_id").isin([1, 2])))
    plans["p2_projection_pruning"] = plan_of(reg["p2_projection_pruning"][0](spark, sf_dir))
    plans["b6_has_child_semijoin"] = plan_of(reg["b6_has_child_semijoin"][0](spark, sf_dir))

    from search_replica_spark.query.bm25 import bm25_topk_spark

    plans["bm25_distributed"] = plan_of(bm25_topk_spark(spark, idx, "spark join window", 10))
    plans["b6b_has_parent_semijoin"] = plan_of(reg["b6b_has_parent_semijoin"][0](spark, sf_dir))

    plans["p17_partial_update_merge"] = plan_of(
        reg["p17_partial_update_merge"][0](spark, sf_dir)
    )
    plans["ft_get_by_id"] = plan_of(reg["ft_get_by_id"][0](spark, sf_dir))
    plans["ft_search_after_page2"] = plan_of(reg["ft_search_after_page2"][0](spark, sf_dir))

    # engine-side partial resolution: merged rows of a 2-gen store_source
    # index (the cdc_partial_update_source harness index; built on demand)
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.operators.streaming_ops import pud_index_dir
    from search_replica_spark.streaming.incremental import _resolve_partial_updates

    pud_idx = pud_index_dir(spark, sf_dir)
    pcfg = IndexConfig(store_source=True)
    partials = (
        spark.read.parquet(os.path.join(pud_idx, "gen=0", "docs"))
        .limit(5)
        .select(
            "repo", "path",
            F.lit(None).cast("string").alias("commit"),
            F.lit("qq").alias("lang"),
            F.lit(None).cast("string").alias("content"),
        )
    )
    merged, _n = _resolve_partial_updates(spark, partials, pud_idx, pcfg)
    merged.unpersist()  # drop the cache marker so the RAW join plan prints
    plans["partial_update_resolve"] = plan_of(merged)

    plans["pack_sequences"] = plan_of(reg["pack_sequences"][0](spark, sf_dir))
    plans["b8b_routing_partition_pruning"] = plan_of(
        reg["b8b_routing_partition_pruning"][0](spark, sf_dir)
    )
    # r5: streamed inline resolution (dry-run plan, nothing committed)
    from search_replica_spark.operators.streaming_ops import inl_index_dir
    from search_replica_spark.streaming.incremental import apply_inline_updates

    inl_idx = inl_index_dir(spark, sf_dir)
    child = spark.createDataFrame(
        [("r", "doc_0", 1, "x")],
        "repo string, path string, ck long, value string",
    )
    plans["inline_resolve"] = plan_of(
        apply_inline_updates(spark, child, inl_idx, None, dry_run=True)
    )

    plans["text_bigram_lm_nll"] = plan_of(reg["text_bigram_lm_nll"][0](spark, sf_dir))
    plans["text_dup_chunk_fraction"] = plan_of(
        reg["text_dup_chunk_fraction"][0](spark, sf_dir)
    )
    plans["hybrid_rrf_top10"] = plan_of(reg["hybrid_rrf_top10"][0](spark, sf_dir))
    plans["percolate_matches"] = plan_of(reg["percolate_matches"][0](spark, sf_dir))

    plans["text_chunk_sliding"] = plan_of(reg["text_chunk_sliding"][0](spark, sf_dir))
    plans["geo_distance_top10"] = plan_of(reg["geo_distance_top10"][0](spark, sf_dir))
    plans["agg_bucket_script_share"] = plan_of(
        reg["agg_bucket_script_share"][0](spark, sf_dir)
    )

    plans["agg_auto_date_histogram"] = plan_of(
        reg["agg_auto_date_histogram"][0](spark, sf_dir)
    )
    plans["ft_rank_feature_top10"] = plan_of(
        reg["ft_rank_feature_top10"][0](spark, sf_dir)
    )

    plans["dsl_frequent_item_sets"] = plan_of(
        reg["dsl_frequent_item_sets"][0](spark, sf_dir)
    )
    plans["agg_variable_width_histogram"] = plan_of(
        reg["agg_variable_width_histogram"][0](spark, sf_dir)
    )
    plans["ann_pq_adc"] = plan_of(reg["ann_pq_adc_top10"][0](spark, sf_dir))
    plans["dedup_embedding_lsh"] = plan_of(reg["dedup_embedding_lsh"][0](spark, sf_dir))
    plans["dedup_ngram_jaccard"] = plan_of(reg["dedup_ngram_jaccard"][0](spark, sf_dir))
    plans["dedup_simhash_hamming"] = plan_of(reg["dedup_simhash_hamming"][0](spark, sf_dir))

    print("# PLANS — physical plan quality evidence\n")
    print(f"Captured on sf_dir={sf_dir}. Auto-generated by plans/explain_report.py.\n")
    failures = 0
    for name, plan in plans.items():
        chk = CHECKS[name]
        ok_want = [w for w in chk["want"] if w in plan]
        missing = [w for w in chk["want"] if w not in plan]
        bad = [a for a in chk["avoid"] if a in plan]
        status = "PASS" if not missing and not bad else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"## {name} — {status}\n")
        print(f"*{chk['why']}*\n")
        if ok_want:
            print(f"- found: {ok_want}")
        if missing:
            print(f"- **MISSING: {missing}**")
        if bad:
            print(f"- **UNEXPECTED: {bad}**")
        print("\n```\n" + plan.strip()[:4000] + "\n```\n")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
