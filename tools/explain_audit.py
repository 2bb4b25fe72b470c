"""Dump the executed physical plan of every headline query to PLANS.md —
the artifact backing SCALE.md's claims.  Regenerate after plan-affecting
changes:  python tools/explain_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawling_vectordb_llm_spark.session import get_spark
from crawling_vectordb_llm_spark.suite import QUERIES

AUDITED = [
    "filter_project",
    "pricing_summary",
    "join_broadcast",
    "join_multiway",
    "semi_join",
    "topk_global",
    "window_rank_topk",
    "asof_join",
    "knn_topk_sql",
    "range_join_bands",
    "tumbling_window",
    "session_window_fn",
    "sequence_packing",
    "quality_band_filter",
    "salted_skew_join",
    "curation_pipeline",
    "source_quota_filter",
    "unigram_logprob_score",
    "event_funnel",
    "paragraph_dedup",
    "url_canonicalize",
    "dsir_importance_weights",
    "interval_overlap_join",
    "rolling_distinct_users_hll",
    "lateral_topk_per_group",
    "bigram_logprob_score",
    # r5: the three former global-window sites, now TakeOrdered +
    # sorted-array posexplode / array prefix-fold (no WindowExec)
    "duplicate_ngram_spans",
    "session_path_patterns",
    "budget_water_fill",
    "ivf_pruned_near_dup",
    "minhash_lsh_near_dup",
    "cross_encoder_rerank",
    "bpe_token_count",
    "quality_classifier_filter",
    "mmr_rerank_topk",
    "tpch_q5_shape",
    "tpch_q6_shape",
    "tpch_q10_shape",
    "tpch_q17_shape",
    "tpch_q21_shape",
    "hash_split_train_val",
    "priority_sample_topk",
    "temperature_mixture_weights",
    "incremental_near_dup",
    "stratified_quota_sample",
    "dedup_keep_best",
    "duplicate_span_excise",
    "tpch_q11_shape",
    "tpch_q20_shape",
    "cohort_retention",
    "gap_fill_interpolate",
    "retrieval_eval_bm25",
    "correlation_matrix",
    "group_ols_trend",
    "itemset_cooccurrence",
    "skew_profile",
    "fuzzy_name_join",
    "term_postings_index",
    "funnel_conversion_time",
    "multimodal_selfmatch_gate",
    "decayed_engagement_score",
    "ab_test_zscore",
    # r8: the round-7 bounded top-k join + its explicit quadratic-output
    # counterparts (expect: applyInPandas grouped exchange only, no BNLJ,
    # no cartesian; the _allpairs forms share the blocked-grid shape)
    "similarity_topk_join",
    "embedding_near_dup_allpairs",
    "dedup_clusters_allpairs",
    "ivf_pruned_near_dup_allpairs",
    "near_dup_pipeline_clusters_allpairs",
    "triangle_count_allpairs",
    "similarity_pagerank_allpairs",
    # r8 continuation: the three new curation/audit ops (expect: funnel =
    # one content-hash window + one final agg, broadcast quality floor;
    # snapshot_diff = hash-projected full-outer SMJ, no text columns in
    # the exchange; classifier = two BroadcastNestedLoopJoin-free
    # broadcast crosses + partial-aggregable centroid shuffle)
    "curation_attrition_funnel",
    "snapshot_diff",
    "centroid_classifier_assign",
    # (expect: leakage split = CC rounds + one cluster-keyed agg joined
    # back; kcore = per-round degree HashAggregate + two left-semi joins,
    # lineage cut at checkpoints so only the final round's plan shows)
    "leakage_safe_split",
    "kcore_spam_filter",
    # (expect: seeded shuffle = range exchange + tiny offset broadcast,
    # NO corpus-wide WindowExec; tercile mix = token agg + broadcast
    # quantiles, window only over the #langs x 3 aggregate)
    "seeded_shuffle_rank",
    "perplexity_tercile_mix",
    "corpus_drift_psi",
    # r10: the per-doc zlib gate (expect: two linear ArrowEvalPython-free
    # MapInPandas passes over the documents scan + one doc_id
    # SortMergeJoin/ShuffledHashJoin — no collect, no window)
    "compression_ratio_perdoc_gate",
]


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("explain_audit", cpus=8)
    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        "Generated by tools/explain_audit.py (AQE final plans, sf0.01).",
        "What to look for: `PushedFilters`/`ReadSchema` at every FileScan,",
        "`BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for",
        "global top-k, `WindowGroupLimit` under ranking windows, partial_",
        "aggregates before each Exchange, exactly one Exchange where",
        "SCALE.md says one.",
        "",
        f"Coverage (r13): {len(AUDITED)} audited plans out of the "
        f"{len(QUERIES)}-entry registry — every query the registry's "
        "round-7/8 additions and round 10's compression_ratio_perdoc_gate "
        "introduced is audited; the remainder share plan "
        "shapes with an audited representative (suite families reuse the "
        "same operators) and are plan-gated by tests/test_plan_shapes.py.",
        "",
        "r13 re-generation notes (optimization round, see "
        "OPTIMIZATION_r13.md): (a) session defaults allow shuffled-hash "
        "joins via the AQE local-map rewrite (r14 dropped the r13 static "
        "preferSortMergeJoin=false flip as estimate-trusting and "
        "measured-neutral) — qualifying joins show ShuffledHashJoin at "
        "runtime where prior rounds showed SortMergeJoin, same rows by "
        "definition; (b) interval_overlap_join repartitions the "
        "banded rows by the join key before branching, so the self-join "
        "reuses ONE exchange and the localCheckpoint is gone; (c) "
        "incremental_near_dup's signer is the numpy mapInPandas twin "
        "(parity-tested bit-identical), so its plan carries a "
        "MapInPandas node instead of the 32-permutation expression "
        "ladder; (d) minhash signature slots are now true per-"
        "permutation minima (r13 bug fix, operators/dedup.py).  The "
        "mid-build r13 pruned-join changes (cos-domain admission, "
        "halving-chain ladder, XL_PHASE_r13.json) remain driver-side "
        "only; the hierarchical fit past FLAT_CELL_CAP=2048 never "
        "engages at the sf0.01 audit scale.",
        "",
        "r12 re-generation notes: the pruned-join entries "
        "(ivf_pruned_near_dup, similarity_topk_join, the _allpairs "
        "family) now size their fine grid with ivf.adaptive_cell_count "
        "and then make one cost-model choice between that cell grid "
        "and the triangular block grid of knn.threshold_similarity_join "
        "(the cell grid's per-row cell map join carries __grp; the "
        "block grid plans as the unpruned self-join) — at the sf0.01 "
        "audit scale most pairs are admitted, so these entries plan "
        "the block grid.  The r11 f32-prefilter GEMM paths live inside the "
        "applyInPandas task bodies and do not change plan shapes "
        "(GEMM_PREFILTER_AB_r12.json carries the sf3 AND sf9 output-"
        "identity assertions).",
        "",
    ]
    for name in AUDITED:
        df = QUERIES[name](spark, sf_dir)
        df.collect()  # finalize the adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = re.sub(r"#\d+L?", "", plan)  # strip expr ids for stable diffs
        plan = "\n".join(l.rstrip() for l in plan.splitlines() if l.strip())
        out += [f"## {name}", "", "```", plan, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDITED)} plans)")


if __name__ == "__main__":
    main()
