"""Scaling stress: replicate the sf0.1 fixtures 1x/4x/16x in /tmp (ids
offset per copy so keys stay unique) and time representative operators.
A scale-correct operator's wall-clock grows ~linearly with data (or
better); superlinear growth exposes a hidden quadratic/shuffle problem.

  python tools/stress.py            # prints a markdown table
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.operators.components import connected_components
from crawling_vectordb_llm_spark.operators.dedup import (
    duplicate_span_excise,
    minhash_near_dup_pairs,
    paragraph_dedup,
)
from crawling_vectordb_llm_spark.operators.importance import dsir_importance
from crawling_vectordb_llm_spark.operators.pq import pq_adc_shortlist, pq_encode, pq_train
from crawling_vectordb_llm_spark.operators.semdedup import semantic_dedup
from crawling_vectordb_llm_spark.operators.knn import knn_join_numpy, threshold_similarity_join
from crawling_vectordb_llm_spark.session import get_spark
from crawling_vectordb_llm_spark.suite import QUERIES
from crawling_vectordb_llm_spark.streaming.windows import sessionize_batch, tumbling_agg

SF_DIR = "/root/testdata/sf0.1"


def replicate(df, copies: int, id_cols: list[str], stride: int = 10_000_000):
    out = None
    for i in range(copies):
        c = df
        for col in id_cols:
            c = c.withColumn(col, F.col(col) + i * stride)
        out = c if out is None else out.unionByName(c)
    return out


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    spark = get_spark("stress")
    spark.range(1_000_000).selectExpr("sum(id)").count()
    base = tempfile.mkdtemp(prefix="stress_")
    lineitem = read_table(spark, SF_DIR, "lineitem")
    orders = read_table(spark, SF_DIR, "orders")
    events = read_table(spark, SF_DIR, "events")
    docs = read_table(spark, SF_DIR, "documents")
    emb = read_table(spark, SF_DIR, "embeddings")
    customer = read_table(spark, SF_DIR, "customer")

    # near-dup pair list computed ONCE at 1x; replicated per copy with id
    # offsets so the CC input grows linearly (disjoint copy subgraphs) and
    # the measurement isolates the iterative CC kernel, not the O(n^2)
    # pair generation
    base_pairs = (
        threshold_similarity_join(emb, tau=0.35)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    # PQ codebooks trained ONCE on the 1x corpus (replicas share the same
    # distribution) so the measurement isolates encode+ADC, not training
    pq_books = pq_train(emb, vec_col="embedding")

    results: dict[str, dict[int, float]] = {}
    for copies in (1, 4, 16):
        d = os.path.join(base, f"x{copies}")
        replicate(lineitem, copies, ["l_orderkey"]).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        replicate(orders, copies, ["o_orderkey", "o_custkey"]).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        replicate(events, copies, ["event_id", "user_id"]).write.mode("overwrite").parquet(f"{d}/events.parquet")
        replicate(docs, copies, ["doc_id"]).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        replicate(emb, copies, ["vec_id"]).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        # customer replicated in lockstep with orders' o_custkey offsets;
        # supplier/nation/region/part are true dims — 1x at any scale
        replicate(customer, copies, ["c_custkey"]).write.mode("overwrite").parquet(f"{d}/customer.parquet")
        for dim in ("supplier", "nation", "region", "part"):
            read_table(spark, SF_DIR, dim).write.mode("overwrite").parquet(f"{d}/{dim}.parquet")
        L = spark.read.parquet(f"{d}/lineitem.parquet")
        O = spark.read.parquet(f"{d}/orders.parquet")
        E = spark.read.parquet(f"{d}/events.parquet")
        D = spark.read.parquet(f"{d}/documents.parquet")
        V = spark.read.parquet(f"{d}/embeddings.parquet")

        cases = {
            "hash_agg": lambda: L.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(22,6)")), F.count(F.lit(1)))
            .count(),
            "join_agg": lambda: L.join(O, L["l_orderkey"] == O["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)))
            .count(),
            "window_rank": lambda: O.withColumn(
                "rn",
                F.row_number().over(
                    __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
                        "o_custkey"
                    ).orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
                ),
            )
            .where(F.col("rn") <= 3)
            .count(),
            "sessionize": lambda: sessionize_batch(E).count(),
            "tumbling": lambda: tumbling_agg(E).count(),
            "knn_200q": lambda: knn_join_numpy(
                V.where(F.col("vec_id") < 200).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"),
                ),
                V,
                k=10,
                corpus_id="vec_id",
            ).count(),
            "minhash_neardup": lambda: minhash_near_dup_pairs(D, tau=0.5).count(),
            "paragraph_dedup": lambda: paragraph_dedup(D).count(),
            "span_excise": lambda: duplicate_span_excise(D).count(),
            "pq_adc_50q": lambda: pq_adc_shortlist(
                V.where(F.col("vec_id") < 50).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"),
                ),
                pq_encode(V, pq_books),
                pq_books,
                128,
            ).count(),
            "cc_components": lambda: connected_components(
                replicate(base_pairs, copies, ["a_id", "b_id"])
            ).count(),
            "dsir": lambda: dsir_importance(
                D, F.col("source").isin("src0", "src1")
            ).count(),
            # d now holds a full replicated table set, so the registered
            # TPC-H composites run against it unchanged
            "tpch_q5_snowflake": lambda: QUERIES["tpch_q5_shape"](
                spark, d
            ).count(),
            "tpch_q21_exists": lambda: QUERIES["tpch_q21_shape"](
                spark, d
            ).count(),
            "semantic_dedup": lambda: semantic_dedup(
                V, tau=0.4, n_clusters=8 * copies
            ).count(),
        }
        for name, fn in cases.items():
            fn()  # warm (plan compile + page cache)
            results.setdefault(name, {})[copies] = round(timed(fn), 2)
        shutil.rmtree(d, ignore_errors=True)

    print("| op | 1x | 4x | 16x | 16x/1x |")
    print("|---|---|---|---|---|")
    for name, r in results.items():
        ratio = round(r[16] / max(r[1], 1e-9), 1)
        print(f"| {name} | {r[1]} | {r[4]} | {r[16]} | {ratio} |")
    shutil.rmtree(base, ignore_errors=True)


def tau_join_deep(copies: int = 10) -> None:
    """VERDICT r2 #5: stress the blocked exact threshold join and the CC
    resolution at ~sf1 (sf0.1 embeddings replicated `copies`×, ids
    offset).  Replicas are GENUINE duplicates of every vector, so the
    pair list explodes combinatorially (each base near-dup appears
    copies² times plus copies-choose-2 exact-dup pairs per vector) — the
    worst-case dedup regime — and past 500k edges CC takes the
    distributed alternating-star fixpoint, not the driver union-find
    fast path.  Prints wall times plus the join's shuffle model
    ((P+1)·n replicated rows) so the measurement can be checked against
    the prediction."""
    from crawling_vectordb_llm_spark.operators.knn import _pick_blocks

    spark = get_spark("stress_deep")
    spark.range(1_000_000).selectExpr("sum(id)").count()  # JVM warm
    emb = read_table(spark, SF_DIR, "embeddings")
    V = replicate(emb, copies, ["vec_id"]).localCheckpoint()
    n = V.count()
    P = _pick_blocks(n, 65_536, spark.sparkContext.defaultParallelism)
    print(f"n={n} vectors ({copies}x sf0.1), grid P={P}, "
          f"shuffle rows=(P+1)*n={(P + 1) * n}, tasks={P * (P + 1) // 2}")

    t0 = time.time()
    pairs = threshold_similarity_join(V, tau=0.35).select("a_id", "b_id")
    pairs = pairs.localCheckpoint()
    n_pairs = pairs.count()
    t_join = time.time() - t0

    t0 = time.time()
    n_nodes = connected_components(pairs).count()
    t_cc = time.time() - t0
    print(f"blocked_tau_join: {t_join:.1f}s -> {n_pairs} pairs")
    print(f"connected_components ({n_pairs} edges, "
          f"{'distributed fixpoint' if n_pairs > 500_000 else 'driver fast path'}): "
          f"{t_cc:.1f}s -> {n_nodes} labeled nodes")

    # the pruned exact join on the same corpus: replicas are exact
    # duplicates, so cells are tight and the triangle-inequality prune
    # should skip most of the grid — the clustered-data regime it targets
    from crawling_vectordb_llm_spark.operators.ivf import (
        ivf_pruned_threshold_join,
    )

    t0 = time.time()
    n_pruned = ivf_pruned_threshold_join(V, tau=0.35, n_cells=16).count()
    t_pruned = time.time() - t0
    assert n_pruned == n_pairs, (n_pruned, n_pairs)  # exactness at scale
    print(f"ivf_pruned_tau_join: {t_pruned:.1f}s -> {n_pruned} pairs "
          f"(= blocked join, exactness held)")


if __name__ == "__main__":
    if "--tau-join" in sys.argv:
        c = next((int(a) for a in sys.argv[1:] if a.isdigit()), 10)
        tau_join_deep(c)
    else:
        main()
