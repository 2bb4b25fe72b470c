"""VectorCollection — the reference SDK's surface, Spark-backed.

A user of the reference works through the tcvectordb client:
    create_collection(shard=3, embedding=..., index=[PRIMARY id, VECTOR
    cosine, FILTER title])                         (TencentVDB.py:21-61)
    coll.upsert(documents=[...], build_index=True) (TencentVDB.py:63-79)
    coll.searchByText(embeddingItems=[txt], limit=3, filter=...)
                                                   (main_server.py:40-44)

This class reproduces that contract on parquet + the engine's operators:
server-side embedding → the batch embed stage; HNSW → an IVF index whose
cell is a column of the collection; upsert-by-id → a merge-on-read
write; filtered search → predicate pushdown before scoring.  As in the
reference, the index is part of the write: every version stores each
row's `centroid_id`, assigned in the pass that embeds the row, so a
search ranks the snapshot it reads with no side table to join.
Batch-first: `search_by_text` takes a LIST of queries and answers them
in one Spark job (the reference loops one HTTP call per query — SURVEY
§4's first deleted bottleneck).

Storage is one layout: a base plus at most one cumulative delta.  Every
version `v=N` (versioning.py: staged, then promoted, then the pointer
flips) holds parquet and a manifest (versioning.write_manifest) naming
its kind, a delta's base version and the Spark schema; every read passes
that schema to `spark.read.schema`, so no read runs an inference job.  A
base is a full snapshot, hash-partitioned by id into `shards` files.  A
delta holds every change since its base in one table: upserted rows, and
deleted keys marked by the `_deleted` column.  Reading any version is one
plan, whatever the number of writes since its base:

    base ⟕anti (every delta key)  ∪  delta rows not marked deleted

A write with build_index=False folds the previous delta and its batch
into the next delta, at O(batch × writes since the base) whatever the
size of the collection; the MAX_DELTA_WRITES-th write since the base, a
full index build, compact() and a first write write a new base instead.
This is the merge-on-read of Iceberg equality deletes and Hudi MOR, with
the Iceberg spec's per-version manifest (https://iceberg.apache.org/spec/);
one cumulative delta, not a chain, keeps the read at one scan of the
base and delta files and one broadcast anti-join.
"""

from __future__ import annotations

import os
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from crawling_vectordb_llm_spark import versioning as V
from crawling_vectordb_llm_spark.embedding import hash_encode_batch, make_embed_udf
from crawling_vectordb_llm_spark.functions.vector import l2_normalize
from crawling_vectordb_llm_spark.operators.ivf import assign_centroids, kmeans_centroids
from crawling_vectordb_llm_spark.operators.knn import knn_topk_matrix
from crawling_vectordb_llm_spark.operators.merge import greatest_per_key
from crawling_vectordb_llm_spark.session import local_frame

#: The write that brings the writes since the base to this count writes a
#: new base instead of a delta, so a delta holds at most
#: MAX_DELTA_WRITES - 1 writes.  Measured on a 40k-doc collection with
#: 400-doc upserts and the constant lifted (4 cores, 7g heap, medians of
#: 3 reps, cache cleared after every call), in two runs: a delta upsert
#: took 1.0-1.4 s at every count from 1 to 16 writes since the base; an
#: exact search of 48 texts took 0.60-0.65 s on a base and 0.72-0.89 s
#: with 1-13 writes in the delta, and at 14-16 writes 0.86-1.01 s in one
#: run and 0.75-0.79 s in the other; rewriting the base (compact) took
#: 0.70-0.96 s.  8 keeps reads inside the range that was flat in both
#: runs, and spreads a base rewrite at about 0.1 s per write.
MAX_DELTA_WRITES = 8

#: the delta column that marks a row as a deleted key
_DELETED = "_deleted"


def _resolved(rows: DataFrame, delta: DataFrame) -> DataFrame:
    """The snapshot that `rows` stand for: a base's rows, whose `_deleted`
    is null, and the rows of its `delta`.  One broadcast anti-join drops
    every base row whose id the delta holds and every delta row marked
    deleted, which matches its own key."""
    keys = F.broadcast(delta.select(F.col("id").alias("_key")))
    hit = (F.col("id") == F.col("_key")) & F.coalesce(F.col(_DELETED), F.lit(True))
    return rows.join(keys, hit, "left_anti").drop(_DELETED)


class VectorCollection:
    """Parquet-backed vector collection with embed-on-write, merge-on-read
    upsert and delete, and (optionally IVF-accelerated) cosine search.
    Every version has a nullable `centroid_id int` column: null until the
    first index build, then each write assigns its rows' cells against
    the stored centroids."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        dim: int = 64,
        shards: int = 3,
        n_centroids: int = 16,
        encode_batch: Callable[[list[str], int], np.ndarray] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.dim = dim
        self.shards = shards
        self.n_centroids = n_centroids
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

    def _manifest(self, version: int | None = None) -> dict | None:
        """Manifest of `version` (default: the pointer's); None for an
        empty collection.  A version without one predates the manifest
        layout: every read and write refuses it, before writing."""
        v = version if version is not None else V.latest_version(self._table)
        if v is None:
            return None
        m = V.read_manifest(self._table, v)
        if m is None:
            raise ValueError(
                f"{self.path} predates the manifest layout (v={v} has no "
                "manifest): rebuild the collection from its documents"
            )
        return m

    def _dir(self, version: int) -> str:
        return os.path.join(self._table, f"v={version}")

    def _scan(self, m: dict) -> DataFrame:
        """The parquet of one version, read with its manifest's schema."""
        return self.spark.read.schema(m["schema"]).parquet(self._dir(m["version"]))

    def documents(self, version: int | None = None) -> DataFrame:
        """Current (or pinned — time travel) snapshot of the collection:
        one plan over the version's base and delta, built with no Spark
        job."""
        m = self._manifest(version)
        if m is None:
            raise FileNotFoundError(f"no versions at {self._table}")
        if m["kind"] == "base":
            return self._scan(m)
        # the base and the delta in one scan, where the base reads a null
        # `_deleted`: a union of two scans cost an exact search 0.07 s
        # more at 40k docs
        both = self.spark.read.schema(m["schema"]).parquet(
            self._dir(m["base"]), self._dir(m["version"])
        )
        return _resolved(both, self._scan(m))

    def delta_chain_length(self) -> int:
        """Writes since the base that the current delta holds (0 on a
        base): the delta's size, and the next fold's cost, grow with it."""
        m = self._manifest()
        return 0 if m is None else m["version"] - m["base"]

    def compact(self) -> int:
        """Fold the delta into a new base, as a NEW version — pinned
        readers untouched."""
        return self._write_base(self.documents())

    # ------------------------------------------------------------ writes

    def upsert(self, docs: DataFrame, build_index: bool = True) -> None:
        """Embed-on-write + merge-by-id — the TencentVDB.py:63-79
        contract, bulk.  Across writes the later write wins for an id;
        within one batch, of the rows that share an id the greatest by
        the batch's columns in order is kept, so the survivor does not
        depend on partitioning.  The rows written get their cells in the
        pass that embeds them.

        build_index=True is a full build: centroids are fitted on the
        merged rows and those rows are written once, with cells, as a new
        base.  build_index=False assigns only the incoming rows against
        the stored centroids (the 100 TB ingest cadence) and lands them
        in the delta; an updated id gets its new cell, and before the
        first build the cells stay null.

        Every version stays immutable under concurrent readers until the
        pointer flips (versioning.py), which is also what lets a write
        read its own previous version safely."""
        m = self._manifest()
        embedded = docs.withColumn("vector", self._embed_udf(F.col("text"))).withColumn(
            "vector", l2_normalize("vector").cast("array<float>")
        )
        # a full build assigns every cell after its fit: null until then
        incoming = self._with_cells(embedded, None if build_index else self._load_centroids())
        self._write(m, incoming.withColumn(_DELETED, F.lit(False)), build_index)

    def delete(self, ids: list[str], build_index: bool = False) -> int:
        """Delete-by-id (the CRUD op the reference approximates with
        upsert-overwrite): the ids land in the delta as deleted keys (with
        build_index=True, a full build of the survivors).  Returns the new
        version — readers pinned to older versions still see the deleted
        rows, so a delete is also an auditable event, not a destructive
        rewrite."""
        m = self._manifest()
        if m is None:
            raise FileNotFoundError(f"no versions at {self._table}")
        fields = [f for f in m["schema"] if f.name not in ("id", _DELETED)]
        keys = local_frame(self.spark, [(i,) for i in ids], "id string").select(
            F.col("id").cast(m["schema"]["id"].dataType).alias("id"),
            *(F.lit(None).cast(f.dataType).alias(f.name) for f in fields),
            F.lit(True).alias(_DELETED),
        )
        return self._write(m, keys, build_index)

    def _write(self, m: dict | None, change: DataFrame, build_index: bool) -> int:
        """Land `change` (rows with `_deleted`) on the version `m` as the
        next version: the folded delta, or a new base when this is a full
        build, a first write or the MAX_DELTA_WRITES-th write since the
        base.  Returns the new version."""
        delta = self._fold(m, change)
        if m is None:  # a first write is an upsert: every row is live
            rows = delta.drop(_DELETED)
        elif build_index or m["version"] - m["base"] + 1 >= MAX_DELTA_WRITES:
            base = self._scan(self._manifest(m["base"]))
            rows = _resolved(
                base.withColumn(_DELETED, F.lit(None).cast("boolean")).unionByName(delta), delta
            )
        else:
            return self._commit(delta, base=m["base"])
        return self._build(rows) if build_index else self._write_base(rows)

    def _fold(self, m: dict | None, change: DataFrame) -> DataFrame:
        """The delta of every change since the base, `change` included:
        per id, the row of the latest write, and within `change` the
        greatest row by its columns in order — one aggregate, so the row
        kept is fixed.  Column names and types are checked against the
        collection's before anything is written."""
        tagged = change.withColumn("_write", F.lit(1))
        if m is not None:
            if m["kind"] == "delta":
                prev = self._scan(m)
            else:
                prev = local_frame(
                    self.spark,
                    [],
                    StructType([*m["schema"].fields, StructField(_DELETED, BooleanType())]),
                )
            tagged = prev.withColumn("_write", F.lit(0)).unionByName(tagged)
        cols = [c for c in change.columns if c != "id"]
        return greatest_per_key(tagged.select("id", "_write", *cols), "id").drop("_write")

    def _commit(self, rows: DataFrame, base: int | None = None) -> int:
        """`rows` as the next version with its manifest: a base, or a
        delta of version `base`."""
        staged = V.stage_path(self._table)
        rows.write.mode("overwrite").parquet(staged)
        V.write_manifest(staged, rows.schema, base)
        return V.promote_staged(self._table, staged)

    def _write_base(self, rows: DataFrame) -> int:
        return self._commit(rows.repartition(self.shards, "id"))

    def build_index(self, incremental: bool = False) -> None:
        """Full build: fit the centroids on the current snapshot, rewrite
        it with every row's cell as a new base, and persist the centroid
        table, so a fresh session — or another node — can assign and
        search without refitting.  incremental=True builds only when no
        index exists: once one does, every write already assigns its
        rows' cells."""
        if not (incremental and os.path.exists(self._centroids_path)):
            self._build(self.documents())

    def _build(self, rows: DataFrame) -> int:
        """Fit centroids on `rows`, write them with cells as a new base
        and persist the centroids.  Returns the new version.  `rows` is
        cached across the fit and the write, so the plan under it (an
        upsert's embedding and merge) runs once and the centroids are
        fitted on the very vectors that are written."""
        rows = rows.persist()
        try:
            self.centroids = kmeans_centroids(rows, self.n_centroids, vec_col="vector")
            v = self._write_base(self._with_cells(rows, self.centroids))
        finally:
            rows.unpersist()
        local_frame(
            self.spark,
            [(i, [float(x) for x in self.centroids[i]]) for i in range(len(self.centroids))],
            "centroid_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(self._centroids_path)
        return v

    def _with_cells(self, rows: DataFrame, centroids: np.ndarray | None) -> DataFrame:
        """`rows` with `centroid_id` set to each vector's nearest centroid,
        or null when there are no centroids."""
        if centroids is None:
            return rows.withColumn("centroid_id", F.lit(None).cast("int"))
        return assign_centroids(rows, centroids, vec_col="vector")

    def _load_centroids(self) -> np.ndarray | None:
        """Centroid matrix from this instance or the persisted table; None
        before the first index build."""
        if self.centroids is None and os.path.exists(self._centroids_path):
            rows = sorted(
                self.spark.read.schema("centroid_id int, centroid array<double>")
                .parquet(self._centroids_path)
                .collect(),
                key=lambda r: r["centroid_id"],
            )
            self.centroids = np.array([r["centroid"] for r in rows], dtype=np.float64)
        return self.centroids

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
        the first index build.  Both paths run one kernel
        (knn.knn_topk_matrix) and rank on (6-dp score desc, id asc), so
        tied scores — duplicate texts embed to identical vectors — come
        back in id order at any partitioning, and with every cell probed
        the two paths return the same rows.  Returns (query_id, id,
        rank, score) — query_id indexes `texts`."""
        # the queries are encoded here, on the driver: the kernel takes
        # them as they are, with no DataFrame round trip
        qids = np.arange(len(texts), dtype=np.int64)
        qmat = self._encode(texts, self.dim)
        corpus = self.documents()
        if filter:
            corpus = corpus.where(filter)
        centroids = self._load_centroids() if use_index else None
        return knn_topk_matrix(
            qids, qmat, corpus, k=limit, centroids=centroids, n_probe=n_probe,
            corpus_id="id", corpus_vec="vector",
        )

    def search_results_with_docs(self, hits: DataFrame) -> DataFrame:
        """Join hits back to full documents (the reference returns whole
        docs per hit, main_server.py:43-44).  Hits are tiny — broadcast."""
        return self.documents().join(F.broadcast(hits), "id", "inner")
