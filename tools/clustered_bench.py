"""Clustered-geometry ANN measurement (VERDICT r3 #2): on a corpus with
real cluster structure (sources/synthetic_embeddings.py), measure what
the pruning paths actually BUY versus the exact baselines, separating
the one-time INDEX BUILD (k-means fit + assignment — persisted per
ingest at scale, plans/index_build.py) from the per-query PROBE cost:

  1. ivf_pruned_threshold_join (prebuilt centroids) vs
     threshold_similarity_join (blocked): wall, candidate admit-rate,
     and output equality (recall 1.0 asserted).
  2. ivf_search over a prebuilt assignment vs exact GEMM kNN:
     wall and recall@10.

Prints a markdown table for SCALE.md.  Run alone (bench noise rules,
MEMORY.md):  python tools/clustered_bench.py [n]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators import ivf as I
from crawling_vectordb_llm_spark.operators.knn import (
    knn_join_numpy,
    threshold_similarity_join,
)
from crawling_vectordb_llm_spark.session import get_spark
from crawling_vectordb_llm_spark.sources.synthetic_embeddings import (
    clustered_embeddings,
)


def timed(fn):
    t0 = time.time()
    r = fn()
    return time.time() - t0, r


def median3(fn):
    walls = sorted(timed(fn)[0] for _ in range(3))
    return walls[1]


def main(n: int = 40_000) -> None:
    spark = get_spark("clustered_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    k_true, sigma, tau = 64, 0.12, 0.7
    n_cells = 128  # ~2x true clusters: fat merged cells poison the bound
    emb = (
        clustered_embeddings(spark, n, k=k_true, sigma=sigma, partitions=32)
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    emb.count()

    print(f"corpus: n={n} dim=64 clusters={k_true} sigma={sigma} "
          f"tau={tau} n_cells={n_cells}\n")

    # one-time index build (amortized across every probe at scale)
    t_fit, centroids = timed(lambda: I.kmeans_centroids(emb, n_cells, "embedding"))
    t_assign, assigned = timed(
        lambda: I.assign_centroids(emb, centroids, "embedding")
        .localCheckpoint()
    )
    print(f"index build (once per ingest): kmeans fit {t_fit:.2f}s, "
          f"assignment {t_assign:.2f}s\n")

    # --- threshold self-join: blocked exact vs IVF-pruned exact
    blocked = lambda: threshold_similarity_join(emb, tau=tau).count()
    pruned = lambda: I.ivf_pruned_threshold_join(
        emb, tau=tau, n_cells=n_cells, centroids=centroids
    ).count()
    n_blocked, n_pruned = blocked(), pruned()  # warm both plans
    assert n_pruned == n_blocked, (n_pruned, n_blocked)  # recall 1.0
    t_blocked = median3(blocked)
    t_pruned = median3(pruned)
    stats: dict = {}
    I.ivf_pruned_threshold_join(  # untimed: stats pass adds an aggregate
        emb, tau=tau, n_cells=n_cells, centroids=centroids, stats_out=stats
    ).count()
    print("| op | wall s (median of 3) | pairs | admit_rate | vs blocked |")
    print("|---|---|---|---|---|")
    print(f"| blocked exact tau-join | {t_blocked:.2f} | {n_blocked} | 1.000 | 1.00x |")
    print(
        f"| ivf_pruned tau-join | {t_pruned:.2f} | {n_pruned} | "
        f"{stats['admit_rate']:.3f} | {t_pruned / t_blocked:.2f}x |"
    )
    print(f"  (admissible blocks {stats['admissible_blocks']}/"
          f"{stats['total_blocks']}, output equality asserted)\n")

    # --- top-k: exact GEMM vs IVF probe over the prebuilt assignment
    nq = 200
    queries = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).localCheckpoint()
    queries.count()

    exact_fn = lambda: knn_join_numpy(queries, emb, k=10, corpus_id="vec_id")
    exact_fn().count()  # warm
    t_exact = median3(lambda: exact_fn().count())
    exact_pairs = {(r["query_id"], r["vec_id"]) for r in exact_fn().collect()}

    print("| op | wall s (median of 3) | recall@10 | vs exact |")
    print("|---|---|---|---|")
    print(f"| exact GEMM kNN ({nq}q) | {t_exact:.2f} | 1.000 | 1.00x |")
    for n_probe in (4, 8, 16):
        ivf_fn = lambda: I.ivf_search(
            queries, assigned, centroids, 10, n_probe, corpus_id="vec_id"
        )
        ivf_fn().count()  # warm
        t_ivf = median3(lambda: ivf_fn().count())
        got = {(r["query_id"], r["vec_id"]) for r in ivf_fn().collect()}
        rec = len(got & exact_pairs) / len(exact_pairs)
        print(
            f"| ivf_search probe {n_probe}/{n_cells} | {t_ivf:.2f} | "
            f"{rec:.3f} | {t_ivf / t_exact:.2f}x |"
        )

    # --- scan pruning: the at-scale IVF win.  The assignment table is
    # written partitioned by centroid_id (plans/index_build.py); a
    # selective query batch probes few cells, so the filtered read
    # skips whole partition directories BEFORE any byte is scanned.
    import shutil
    import tempfile

    import numpy as np

    base = tempfile.mkdtemp(prefix="clustered_ivf_")
    try:
        part_path = os.path.join(base, "ivf_assignment")
        # repartition ON the partition column first: otherwise every task
        # spills a sliver into every cell directory (32 tasks x 128 cells
        # = 4096 tiny files) and open/footer overhead swamps the pruning
        assigned.repartition(n_cells, "centroid_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(part_path)
        full_path = os.path.join(base, "collection")
        emb.write.mode("overwrite").parquet(full_path)
        print("\n| query batch | probed cells | wall s exact full-scan | "
              "wall s ivf pruned-scan | ratio |")
        print("|---|---|---|---|---|")
        for nq_small in (5, 20):
            qs = emb.where(F.col("vec_id") < nq_small).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ).localCheckpoint()
            qrows = qs.collect()
            qmat = np.array([r["query_vec"] for r in qrows], dtype=np.float64)
            qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
            probed = np.unique(
                np.argsort(-(qmat @ centroids.T), axis=1)[:, :8]
            )
            scan_exact = lambda: knn_join_numpy(
                qs, spark.read.parquet(full_path), k=10, corpus_id="vec_id"
            ).count()
            scan_ivf = lambda: I.ivf_search(
                qs,
                spark.read.parquet(part_path).where(
                    F.col("centroid_id").isin([int(c) for c in probed])
                ),
                centroids,
                10,
                8,
                corpus_id="vec_id",
            ).count()
            scan_exact(), scan_ivf()  # warm
            te, ti = median3(scan_exact), median3(scan_ivf)
            print(
                f"| {nq_small} queries | {len(probed)}/{n_cells} | "
                f"{te:.2f} | {ti:.2f} | {ti / te:.2f}x |"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 40_000)
