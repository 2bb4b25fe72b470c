"""SemDeDup — semantic deduplication via k-means clustering + greedy
intra-cluster cosine pruning (Abbas et al., "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", 2023).

Where the threshold similarity join (operators/knn.py) and the MinHash
ladder (operators/dedup.py) find NEAR-IDENTICAL pairs, SemDeDup removes
*semantic* duplicates: documents whose embeddings are close even when
their text differs.  The reference delegates all vector organization to
its service-side HNSW index (TencentVDB.py:46); the batch analog is the
cluster-then-prune pass below, which is also the standard recipe for
curating web-scale training corpora.

Algorithm:
  1. k-means over the (L2-normalized) embeddings — reuses the IVF
     trainer (operators/ivf.py), deterministic for a fixed seed.
  2. Shuffle once on the assigned centroid id.
  3. Within each cluster, scan vectors in ascending id order and keep a
     vector only if its max cosine to every already-KEPT vector in the
     cluster is below tau; otherwise it is a semantic duplicate of the
     kept set.  Lowest id wins — same canonical-member election as the
     connected-components ladder (operators/components.py).

Scale shape: the only shuffle is the hash partition by centroid_id; the
greedy scan is O(|cluster|^2) worst-case but |cluster| ~= n/k and k is
chosen to bound it (SemDeDup used k=50k for LAION-440M, ~9k per
cluster).  Pathological clusters are guarded by `max_cluster` — overflow
rows spill into deterministic sub-cells so no single task is unbounded
(a precision trade documented in the paper's appendix: duplicates
spanning sub-cells of one giant cluster are missed, never false-dropped
... conservative in the keep direction).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.ivf import (
    assign_centroids,
    kmeans_centroids,
)


def _greedy_keep(mat: np.ndarray, tau: float) -> np.ndarray:
    """Rows of `mat` are L2-normalized vectors in scan order.  Returns a
    boolean keep-mask: row i survives iff max cosine to every kept row
    j < i stays below tau.  Incremental GEMV against the kept prefix —
    O(n * kept) flops, vectorized."""
    n = mat.shape[0]
    keep = np.zeros(n, dtype=bool)
    kept_rows: list[int] = []
    for i in range(n):
        if kept_rows:
            sims = mat[kept_rows] @ mat[i]
            if float(sims.max()) >= tau:
                continue
        keep[i] = True
        kept_rows.append(i)
    return keep


def semantic_dedup(
    corpus: DataFrame,
    tau: float = 0.9,
    n_clusters: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cluster: int = 100_000,
    include_cell: bool = False,
) -> DataFrame:
    """Label every vector with its semantic-dedup verdict.

    Returns (id_col, centroid_id int, keep boolean, max_sim_kept double):
    `keep` marks the canonical survivors; for dropped rows `max_sim_kept`
    is the cosine to the closest kept vector (>= tau), rounded to 6 dp
    for deterministic output.  Kept rows report -1.0 (no kept neighbor at
    or above tau by construction).

    include_cell=True appends the `cell` string key the greedy election
    actually ran in (centroid_id, or "centroid:sub" after an oversized
    cluster's deterministic id-hash split) — the scope a soundness
    re-verify must join within, since max_sim_kept is relative to the
    kept set of the CELL, not the whole centroid.
    """
    assigned = assign_centroids(
        corpus.select(id_col, vec_col),
        kmeans_centroids(corpus, n_clusters, vec_col=vec_col, seed=seed),
        vec_col=vec_col,
    )
    # bound the per-task quadratic: deterministic sub-cell split of any
    # cluster larger than max_cluster.  The per-cluster counts are k rows —
    # broadcast back map-side (no extra big-table shuffle); the sub-cell is
    # an id-hash, not row order, so the split survives re-partitioning.
    sizes = assigned.groupBy("centroid_id").agg(
        F.greatest(
            F.lit(1), F.ceil(F.count(F.lit(1)) / F.lit(max_cluster))
        ).cast("int").alias("__n_cells")
    )
    with_cell = assigned.join(F.broadcast(sizes), "centroid_id").withColumn(
        "__cell",
        F.concat_ws(
            ":",
            F.col("centroid_id"),
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__n_cells")).cast("int"),
        ),
    )

    id_type = corpus.schema[id_col].dataType.simpleString()

    def _prune(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        keep = _greedy_keep(mat, tau)
        kept = mat[keep]
        max_sim = np.full(len(pdf), -1.0)
        if kept.shape[0] and (~keep).any():
            sims = mat[~keep] @ kept.T
            max_sim[~keep] = np.round(sims.max(axis=1), 6)
        out = {
            id_col: pdf[id_col],
            "centroid_id": pdf["centroid_id"].astype("int32"),
            "keep": keep,
            "max_sim_kept": max_sim,
        }
        if include_cell:
            out["cell"] = key[0]
        return pd.DataFrame(out)

    schema = f"{id_col} {id_type}, centroid_id int, keep boolean, max_sim_kept double"
    if include_cell:
        schema += ", cell string"
    return with_cell.groupBy("__cell").applyInPandas(_prune, schema=schema)
