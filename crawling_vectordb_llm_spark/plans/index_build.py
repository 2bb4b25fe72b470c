"""Ingest + index build — the reference's §3.1 lifecycle, Spark-batch.

`python TencentVDB.py` does: DDL → crawl → clean → per-doc upsert with
server-side embed + HNSW insert + shard placement (TencentVDB.py:102-107).
The engine's equivalent is one lazy plan per artifact, bulk-written:

  documents ──clean──▶ embed (iterator pandas_udf) ──normalize──▶
    ├─ collection table  (bucketed by id — shard placement analog)
    ├─ IVF artifacts     (centroid matrix + centroid_id assignment —
    │                     the batch "HNSW index")
    └─ LSH band-row table (the dedup index artifact that
                          operators/incremental_dedup.py probes)

`build_index=True` per upsert (TencentVDB.py:79) becomes: recompute
artifacts after each bulk merge — cheap because each is one linear pass.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.embedding import make_embed_udf
from crawling_vectordb_llm_spark.functions.text import clean_text
from crawling_vectordb_llm_spark.functions.vector import l2_normalize
from crawling_vectordb_llm_spark.operators.dedup import lsh_band_rows
from crawling_vectordb_llm_spark.operators.ivf import (
    assign_centroids,
    kmeans_centroids,
)


def ingest_documents(docs: DataFrame, dim: int = 64) -> DataFrame:
    """clean → embed → normalize: the row transform chain (P4/P5 + S5's
    server-side embedding made explicit)."""
    embed = make_embed_udf(dim=dim)
    # the embed stage is the CPU-bound hot path: spread it across all cores
    # BEFORE the UDF (a single-file source otherwise runs it on 1 partition).
    # Only pay the exchange when the source is actually under-partitioned
    # (r13, guide §2.4 "remove shuffles outright"): the unconditional
    # repartition shuffled the full text payload even when the input
    # already had >= cores partitions — a wasted full-payload exchange on
    # every well-laid-out source (any large parquet scan, and the bench's
    # pre-partitioned ingest input; measured 1.47 s -> 1.04 s median on
    # the 100k-row ingest protocol).
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    out = docs.where(F.col("text").isNotNull() & (F.length("text") > 0))
    if docs.rdd.getNumPartitions() < parallelism:
        out = out.repartition(parallelism)
    return (
        out.withColumn("text", clean_text("text"))
        .withColumn("vector", embed(F.col("text")))
        .withColumn("vector", l2_normalize("vector").cast("array<float>"))
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    dim: int = 64,
    n_centroids: int = 16,
    shards: int = 3,
) -> dict[str, str]:
    """Materialize the collection + every index artifact under out_dir.
    Returns artifact paths."""
    ingested = ingest_documents(docs, dim=dim)
    coll_path = os.path.join(out_dir, "collection")
    (
        ingested.repartition(shards, "doc_id")
        .write.mode("overwrite")
        .parquet(coll_path)
    )
    collection = spark.read.parquet(coll_path)

    centroids = kmeans_centroids(collection, n_centroids, vec_col="vector")
    cent_path = os.path.join(out_dir, "centroids.npy")
    np.save(cent_path, centroids)

    assigned_path = os.path.join(out_dir, "ivf_assignment")
    assign_centroids(
        collection.select("doc_id", "vector"), centroids, vec_col="vector"
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(assigned_path)

    bands_path = os.path.join(out_dir, "lsh_band_rows")
    lsh_band_rows(collection).write.mode("overwrite").parquet(bands_path)

    # PQ codes: the m-bytes-per-vector search table (operators/pq.py) —
    # at 100 TB the ADC scan reads THIS artifact, not the collection
    from crawling_vectordb_llm_spark.operators.pq import pq_encode, pq_train

    books = pq_train(collection, vec_col="vector")
    books_path = os.path.join(out_dir, "pq_codebooks.npy")
    np.save(books_path, books)
    codes_path = os.path.join(out_dir, "pq_codes")
    pq_encode(collection, books, id_col="doc_id", vec_col="vector").write.mode(
        "overwrite"
    ).parquet(codes_path)

    return {
        "collection": coll_path,
        "centroids": cent_path,
        "ivf_assignment": assigned_path,
        "lsh_band_rows": bands_path,
        "pq_codebooks": books_path,
        "pq_codes": codes_path,
    }
