"""VectorCollection — the reference SDK's surface, Spark-backed.

A user of the reference works through the tcvectordb client:
    create_collection(shard=3, embedding=..., index=[PRIMARY id, VECTOR
    cosine, FILTER title])                         (TencentVDB.py:21-61)
    coll.upsert(documents=[...], build_index=True) (TencentVDB.py:63-79)
    coll.searchByText(embeddingItems=[txt], limit=3, filter=...)
                                                   (main_server.py:40-44)

This class reproduces that contract on parquet + the engine's operators:
server-side embedding → the batch embed stage; HNSW → an IVF index whose
cell is a column of the collection; upsert-by-id → merge write; filtered
search → predicate pushdown before scoring.  As in the reference, the
index is part of the write: every version stores each row's
`centroid_id`, assigned in the pass that embeds the row, so a search
ranks the snapshot it reads with no side table to join.  Batch-first:
`search_by_text` takes a LIST of queries and answers them in one Spark
job (the reference loops one HTTP call per query — SURVEY §4's first
deleted bottleneck).
"""

from __future__ import annotations

import os
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark import mor
from crawling_vectordb_llm_spark import versioning as V
from crawling_vectordb_llm_spark.embedding import hash_encode_batch, make_embed_udf
from crawling_vectordb_llm_spark.functions.vector import l2_normalize
from crawling_vectordb_llm_spark.operators.ivf import (
    assign_centroids,
    ivf_search_matrix,
    kmeans_centroids,
)
from crawling_vectordb_llm_spark.operators.knn import knn_topk_matrix
from crawling_vectordb_llm_spark.operators.merge import upsert_by_key


class VectorCollection:
    """Parquet-backed vector collection with embed-on-write, merge upsert,
    and (optionally IVF-accelerated) cosine search.  Every version has a
    nullable `centroid_id int` column: null until the first index build,
    then each write assigns its rows' cells against the stored
    centroids."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int = 64,
        shards: int = 3,
        n_centroids: int = 16,
        encode_batch: Callable[[list[str], int], np.ndarray] | None = None,
        write_mode: str = "cow",
    ):
        assert write_mode in ("cow", "mor"), write_mode
        self.spark = spark
        self.path = path
        self.dim = dim
        self.shards = shards
        self.n_centroids = n_centroids
        # "cow": every upsert/delete rewrites the snapshot (simple, read-
        # optimal).  "mor": changes land as O(|change|) delta versions and
        # reads merge base+deltas (write-optimal — the only affordable
        # shape when the collection is 100 TB and the increment is a
        # crawl batch); compact() folds the chain back to read-optimal.
        self.write_mode = write_mode
        self._encode = encode_batch or hash_encode_batch
        self._embed_udf = make_embed_udf(dim=dim, encode_batch=encode_batch)
        self.centroids: np.ndarray | None = None

    # ------------------------------------------------------------ lifecycle

    @property
    def _table(self) -> str:
        return os.path.join(self.path, "collection")

    @property
    def _centroids_path(self) -> str:
        return os.path.join(self.path, "ivf_centroids")

    def exists(self) -> bool:
        return V.latest_version(self._table) is not None

    def documents(self, version: int | None = None) -> DataFrame:
        """Current (or pinned — time travel) snapshot of the collection."""
        if self.write_mode == "mor":
            return mor.mor_read(self.spark, self._table, key="id", version=version)
        return V.read_version(self.spark, self._table, version)

    def delta_chain_length(self) -> int:
        """MOR read amplification (0 for cow): deltas a read must merge."""
        return mor.delta_chain_length(self._table) if self.write_mode == "mor" else 0

    def compact(self) -> int:
        """Fold MOR deltas into a fresh base (or rewrite the cow snapshot
        at a sane file count) as a NEW version — pinned readers untouched."""
        if self.write_mode == "mor":
            return mor.mor_compact(self.spark, self._table, key="id")
        return V.compact(self.spark, self._table)

    # ------------------------------------------------------------ writes

    def upsert(self, docs: DataFrame, build_index: bool = True) -> None:
        """Embed-on-write + merge-by-id (last writer wins) — the
        TencentVDB.py:63-79 contract, bulk.  The rows written get their
        cells in the pass that embeds them.

        build_index=True is a full build: centroids are fitted on the
        merged rows and those rows are written once, with cells, as the
        one new version (a new base in "mor" mode).  build_index=False
        assigns only the incoming rows against the stored centroids (the
        100 TB ingest cadence); an updated id gets its new cell, and
        before the first build the cells stay null.  A collection written
        before the cell was a column raises ValueError, before writing,
        until build_index() adds the column.

        The merge reads version N and writes version N+1 directly
        (versioning.py): no staging double-write — the old version stays
        immutable under concurrent readers until the pointer flips, which
        is also what lets the merge read its own input safely."""
        current = self._with_cell_column(self.documents()) if self.exists() else None
        embedded = docs.withColumn("vector", self._embed_udf(F.col("text"))).withColumn(
            "vector", l2_normalize("vector").cast("array<float>")
        )
        # a full build assigns every cell after its fit: null until then.
        # Deduplicating last lets the merge's own dedup fold into this one.
        incoming = self._with_cells(
            embedded, None if build_index else self._load_centroids()
        ).dropDuplicates(["id"])
        if current is not None and self.write_mode == "mor" and not build_index:
            mor.mor_upsert(incoming, self._table, key="id")
            return
        rows = incoming if current is None else upsert_by_key(current, incoming, key="id")
        if build_index:
            self._build(rows)
        else:
            self._write_full(rows)

    def build_index(self, incremental: bool = False) -> None:
        """Full build: fit the centroids on the current snapshot, rewrite
        it with every row's cell as a new version (a new base in "mor"
        mode, as compact() writes), and persist the centroid table, so a
        fresh session — or another node — can assign and search without
        refitting.  incremental=True builds only when no index exists:
        once one does, every write already assigns its rows' cells."""
        if not (incremental and os.path.exists(self._centroids_path)):
            self._build(self.documents())

    def _build(self, rows: DataFrame) -> int:
        """Fit centroids on `rows`, write them with cells as the next full
        version and persist the centroids.  Returns the new version.
        `rows` is cached across the fit and the write, so the plan under
        it (an upsert's embedding and merge) runs once and the centroids
        are fitted on the very vectors that are written."""
        rows = rows.persist()
        try:
            self.centroids = kmeans_centroids(rows, self.n_centroids, vec_col="vector")
            v = self._write_full(self._with_cells(rows, self.centroids))
        finally:
            rows.unpersist()
        self.spark.createDataFrame(
            [(i, [float(x) for x in self.centroids[i]]) for i in range(len(self.centroids))],
            "centroid_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(self._centroids_path)
        return v

    def _write_full(self, rows: DataFrame) -> int:
        """`rows` as the next full version: a cow snapshot or a mor base."""
        rows = rows.repartition(self.shards, "id")
        if self.write_mode == "mor":
            return mor.mor_write_base(rows, self._table)
        return V.versioned_write(rows, self._table)

    def _with_cells(self, rows: DataFrame, centroids: np.ndarray | None) -> DataFrame:
        """`rows` with `centroid_id` set to each vector's nearest centroid,
        or null when there are no centroids."""
        if centroids is None:
            return rows.withColumn("centroid_id", F.lit(None).cast("int"))
        return assign_centroids(rows, centroids, vec_col="vector")

    def _with_cell_column(self, snapshot: DataFrame) -> DataFrame:
        """`snapshot`, checked to have the `centroid_id` column: a
        collection written before the cell was a column has none, and a
        write or an indexed search on it would fail or, in "mor" mode,
        leave a version that no longer reads."""
        if "centroid_id" not in snapshot.columns:
            raise ValueError(
                f"{self.path} has no centroid_id column (it was written before "
                "the IVF cell was a column of the collection): run build_index() "
                "on it once"
            )
        return snapshot

    def _load_centroids(self) -> np.ndarray | None:
        """Centroid matrix from this instance or the persisted table; None
        before the first index build."""
        if self.centroids is None and os.path.exists(self._centroids_path):
            rows = sorted(
                self.spark.read.parquet(self._centroids_path).collect(),
                key=lambda r: r["centroid_id"],
            )
            self.centroids = np.array([r["centroid"] for r in rows], dtype=np.float64)
        return self.centroids

    def delete(self, ids: list[str], build_index: bool = False) -> int:
        """Delete-by-id (the CRUD op the reference approximates with
        upsert-overwrite): anti-join the ids out of the current snapshot
        and write the survivors as the next version (a delete-key delta in
        "mor" mode; with build_index=True, a full build of the survivors).
        Returns the new version — readers pinned to older versions still
        see the deleted rows, so a delete is also an auditable event, not
        a destructive rewrite."""
        ids_df = self.spark.createDataFrame([(i,) for i in ids], "id string")
        if self.write_mode == "mor" and not build_index:
            return mor.mor_delete(ids_df, self._table, key="id")
        survivors = self.documents().join(F.broadcast(ids_df), "id", "left_anti")
        return self._build(survivors) if build_index else self._write_full(survivors)

    # ------------------------------------------------------------ search

    def search_by_text(
        self,
        texts: list[str],
        limit: int = 3,
        filter: str | None = None,
        use_index: bool = False,
        n_probe: int = 4,
    ) -> DataFrame:
        """Batch searchByText: embed every query text, cosine top-`limit`
        per query, optional SQL predicate applied BEFORE scoring (J3).
        use_index=True probes the `n_probe` nearest cells of the snapshot
        it ranks whenever centroids exist, and searches exactly before
        the first index build.  Returns (query_id, id, rank, score) —
        query_id indexes `texts`."""
        # the queries are encoded here, on the driver: the matrix entry
        # points take them as they are, with no DataFrame round trip
        qids = np.arange(len(texts), dtype=np.int64)
        qmat = self._encode(texts, self.dim)
        corpus = self.documents()
        if filter:
            corpus = corpus.where(filter)
        if use_index and self._load_centroids() is not None:
            return ivf_search_matrix(
                qids, qmat, self._with_cell_column(corpus), self.centroids, k=limit, n_probe=n_probe,
                corpus_id="id", corpus_vec="vector",
            )
        return knn_topk_matrix(
            qids, qmat, corpus, k=limit, corpus_id="id", corpus_vec="vector"
        )

    def search_results_with_docs(self, hits: DataFrame) -> DataFrame:
        """Join hits back to full documents (the reference returns whole
        docs per hit, main_server.py:43-44).  Hits are tiny — broadcast."""
        return self.documents().join(F.broadcast(hits), "id", "inner")
