"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "n": 3}.  Each query runs once cold
(plan compile + cache warm, not counted) and then 3 warm times; the MEDIAN
warm time is reported per query — single-shot numbers on a box with
external load spikes are 3-10x noisy (VERDICT r1), and a median of 3
makes round-over-round regression comparisons trustworthy.  Cold JVM
startup is excluded for the same steady-state reason.  BENCH_FULL also
records how many classes each warm rep compiled: a warm rep should
compile none, so a nonzero count is a defect to chase.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crawling_vectordb_llm_spark.session import codegen_compiles, get_spark
from crawling_vectordb_llm_spark.suite import QUERIES

# representative headline set: flagship RAG, both kNN paths, similarity
# join, dedup ladder, relational core, windows, streaming-shaped aggs, text
HEADLINE = [
    "rag_search_pipeline",
    "knn_topk",
    "knn_topk_sql",
    "similarity_threshold_join",
    "similarity_topk_join",
    "embedding_near_dup",
    "minhash_lsh_near_dup",
    "dedup_exact",
    "pricing_summary",
    "join_multiway",
    "join_broadcast",
    "window_rank_topk",
    "sessionize",
    "tumbling_window",
    "json_extract",
    "text_quality",
    "token_count",
    "doc_fingerprint",
    "upsert_merge",
    "rag_generate",
    "asof_join",
    "ann_ivf_topk",
    "multimodal_meta",
    "doc_chunks",
    "quality_repetition",
    "tfidf_top_terms",
    "dedup_clusters",
    "sequence_packing",
    "embedding_quantize",
    "quantized_knn_rerank",
    "pq_knn_rerank",
    "ann_ivfpq_topk",
    "paragraph_dedup",
    "bloom_decontamination",
    "salted_skew_join",
    "curation_pipeline",
    "similarity_pagerank",
    "window_anomaly_zscore",
    "semantic_dedup",
    "dsir_importance_weights",
    "interval_overlap_join",
    "rolling_distinct_users_hll",
    "bigram_logprob_score",
    "triangle_count",
    "hamming_sign_ann",
    "hamming_knn_rerank",
    "ngram_lm_decontamination",
    "ivf_pruned_near_dup",
    "near_dup_pipeline_clusters",
    "cross_encoder_rerank",
    "bpe_token_count",
    "quality_classifier_filter",
    # round 3: classic TPC-H shapes + new sampling/split ops
    "tpch_q5_shape",
    "tpch_q6_shape",
    "tpch_q10_shape",
    "tpch_q21_shape",
    "hash_split_train_val",
    "priority_sample_topk",
    "incremental_near_dup",
    "duplicate_span_excise",
    "tpch_q11_shape",
    "tpch_q20_shape",
    # round 8: curation observability + graph-safety ops
    "curation_attrition_funnel",
    "snapshot_diff",
    "centroid_classifier_assign",
    "leakage_safe_split",
    "kcore_spam_filter",
    "seeded_shuffle_rank",
    "perplexity_tercile_mix",
    "corpus_drift_psi",
]


def run_query(fn, spark, sf_dir: str) -> tuple[float, int]:
    """One rep: (seconds, classes codegen compiled during it)."""
    c0 = codegen_compiles(spark)
    t0 = time.time()
    df = fn(spark, sf_dir)
    n = df.count()
    took = time.time() - t0
    compiled = codegen_compiles(spark) - c0
    assert n >= 0
    # every rep starts from an empty cache: a warm rep must not read what
    # the previous rep of the same query persisted
    spark.catalog.clearCache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return took, compiled


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    results: dict[str, float] = {}
    compiles: dict[str, list[int]] = {}
    import gc

    for name in HEADLINE:
        fn = QUERIES[name]
        run_query(fn, spark, sf_dir)  # cold: plan compile / JIT warm-up
        reps = [run_query(fn, spark, sf_dir) for _ in range(n_runs)]
        warm = sorted(t for t, _ in reps)
        results[name] = round(warm[len(warm) // 2], 3)  # median
        compiles[name] = [c for _, c in reps]
        # reap blocks pinned by this query's localCheckpoints: each
        # run_query builds a fresh DataFrame, so prior runs' checkpointed
        # RDDs are pure block-manager ballast that turns into GC stalls
        # ~40 queries in (measured: a 1.4s query reading 5.9s mid-bench)
        gc.collect()  # drop py-side refs so ContextCleaner can unpersist
        spark.sparkContext._jvm.System.gc()

    # ingest-shaped pipeline throughput — DEFINED PROTOCOL (VERDICT r6
    # #5; full statement in BASELINE.md "Ingest throughput protocol"):
    # coverage = clean → normalize → deterministic hash-embed → bulk
    # parquet write (plans/index_build.ingest_documents); input = the
    # bench SF's documents table replicated 20x with offset ids,
    # repartitioned to SPARK_GRAFT_CPUS and localCheckpointed (so reps
    # measure the pipeline, not the fixture scan); posture = warm JVM
    # (headline queries already ran), 1 untimed warm-up rep + 5 timed
    # reps, MEDIAN reported (best-of-3 hid load spikes and made rounds
    # incomparable: 12k-139k rows/s across r6 artifacts; 3 timed reps
    # raised to 5 in r11 — VERDICT r10 #4: the r10 reps spread
    # 1.57-7.36 s, a 4.7x range that median-of-3 only just absorbs;
    # ~10 s more buys roughly half the estimator variance).
    import shutil
    import tempfile

    from crawling_vectordb_llm_spark.catalog import read_table
    from crawling_vectordb_llm_spark.plans.index_build import ingest_documents

    base_docs = read_table(spark, sf_dir, "documents")
    docs = None
    for i in range(20):
        c = base_docs.withColumn(
            "doc_id", __import__("pyspark.sql.functions", fromlist=["col"]).col("doc_id") + i * 10_000_000
        )
        docs = c if docs is None else docs.unionByName(c)
    docs = docs.repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).localCheckpoint()
    n_docs = docs.count()

    def _ingest_once() -> float:
        out = tempfile.mkdtemp(prefix="bench_ingest_")
        t0 = time.time()
        ingest_documents(docs).write.mode("overwrite").parquet(out + "/collection")
        took = time.time() - t0
        shutil.rmtree(out, ignore_errors=True)
        return took

    _ingest_once()  # warm-up: UDF/codegen compile + first-write JIT
    ingest_reps = sorted(_ingest_once() for _ in range(5))
    ingest_s = ingest_reps[2]  # median

    # streaming micro-bench (VERDICT r4 #4): throughput/latency/state for
    # the two stateful paths.  Reported under its own key and NOT added
    # to "value" so headline comparisons stay like-for-like round over
    # round.  Guarded: a streaming-env failure must not sink the bench.
    streaming: dict | str
    try:
        from tools.streaming_bench import run as run_streaming_bench

        streaming = run_streaming_bench(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        streaming = f"skipped: {e}"

    total = round(sum(results.values()), 3)
    payload = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf,
        "n": n_runs,
        "ingest_rows_per_s": round(n_docs / ingest_s, 1),
        "ingest_protocol": {
            "rows": n_docs,
            "reps_s": [round(t, 3) for t in ingest_reps],
            "stat": "median_of_5_warm_after_1_warmup",
            "covers": "clean+normalize+hash_embed+parquet_write",
        },
        "streaming": streaming,
    }
    # the driver keeps only the last 2000 chars of stdout, which truncates
    # the metric/value header and the first timings of BENCH_r{N}.json
    # (VERDICT r5 #2) — also write the COMPLETE artifact next to the repo's
    # checked-in SELFCHECK artifacts.  Round number from env if the driver
    # exports one, else unnumbered.
    rnd = os.environ.get("SPARK_GRAFT_ROUND", "")
    suffix = f"_r{int(rnd):02d}" if rnd.isdigit() else ""
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_FULL{suffix}.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(full_artifact(payload, compiles), f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # read-only checkout must not sink the bench
    # the one-line JSON is the FINAL act of the bench — nothing may print
    # after it, so any tail capture of stdout always ends with a parseable
    # line (VERDICT r13 #8: round 12's driver tail cut off before the
    # headline line and the round lost its official comparison).  Pinned
    # by tests/test_bench_contract.py against emit_headline_line.
    emit_headline_line(payload)


def full_artifact(payload: dict, warm_compiles: dict[str, list[int]]) -> dict:
    """BENCH_FULL's content: the headline payload plus each headline
    query's codegen compiles per warm rep.  The per-query lists stay out
    of the one-line JSON so they cannot push its head out of a tail
    capture."""
    return {**payload, "warm_codegen_compiles": warm_compiles}


def emit_headline_line(payload: dict) -> None:
    """Print the bench's ONE-line JSON contract to stdout, flushed —
    guaranteed single line (no embedded newlines), emitted last."""
    line = json.dumps(payload)
    assert "\n" not in line
    print(line, flush=True)


if __name__ == "__main__":
    main()
