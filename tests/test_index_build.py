"""§3.1 ingest lifecycle: build every index artifact, then answer a query
from them."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.operators.ivf import ivf_search
from crawling_vectordb_llm_spark.plans.index_build import build_index

from .conftest import SF_SMALL


def test_build_index_and_search_from_artifacts(spark, tmp_path):
    docs = read_table(spark, SF_SMALL, "documents")
    arts = build_index(spark, docs, str(tmp_path), n_centroids=8)

    collection = spark.read.parquet(arts["collection"])
    assert collection.count() == docs.count()
    row = collection.select(F.size("vector").alias("d")).first()
    assert row["d"] == 64
    # vectors are normalized at ingest
    norm = collection.select(
        F.aggregate(
            F.col("vector").cast("array<double>"),
            F.lit(0.0),
            lambda a, x: a + x * x,
        ).alias("n2")
    ).first()["n2"]
    assert abs(norm - 1.0) < 1e-6

    centroids = np.load(arts["centroids"])
    assert centroids.shape == (8, 64)

    assigned = spark.read.parquet(arts["ivf_assignment"])
    assert assigned.count() == docs.count()
    # partitioned-by-centroid layout: searching probes a subset of cells
    queries = collection.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("vector").alias("query_vec")
    )
    hits = ivf_search(
        queries, assigned, centroids, k=3, n_probe=3,
        corpus_id="doc_id", corpus_vec="vector",
    ).collect()
    rank1 = {r["query_id"]: r["doc_id"] for r in hits if r["rank"] == 1}
    assert rank1 == {0: 0, 1: 1, 2: 2}  # each doc finds itself

    # LSH index: one row per band (8) for every doc with >= 3 tokens
    band_rows = spark.read.parquet(arts["lsh_band_rows"])
    per_doc = {
        r["__id"]: r["count"]
        for r in band_rows.groupBy("__id").count().collect()
    }
    signed = collection.where(F.size(F.split("text", " ")) >= 3)
    assert per_doc == {r["doc_id"]: 8 for r in signed.select("doc_id").collect()}
    assert per_doc

def test_ivf_assignment_layout_prunes_partitions(spark, tmp_path):
    """The centroid-partitioned layout is the whole point of IVF at scale:
    a probe of specific cells must reach the scan as PartitionFilters
    (directory pruning — unprobed cells are never read), not a post-scan
    filter."""
    docs = read_table(spark, SF_SMALL, "documents")
    arts = build_index(spark, docs, str(tmp_path), n_centroids=8)
    assigned = spark.read.parquet(arts["ivf_assignment"])
    probed = assigned.where(F.col("centroid_id").isin(1, 3))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    # and the pruned scan returns exactly the probed cells' rows
    expect = assigned.collect()
    got = probed.collect()
    assert {r["centroid_id"] for r in got} <= {1, 3}
    assert len(got) == sum(1 for r in expect if r["centroid_id"] in (1, 3))


def test_build_index_emits_pq_artifacts(spark, tmp_path):
    """build_index also materializes the PQ search table: codebooks
    (m, n_codes, dim/m) + an m-codes-per-doc parquet keyed like the
    collection."""
    docs = read_table(spark, SF_SMALL, "documents").limit(100)
    arts = build_index(spark, docs, str(tmp_path), n_centroids=4)
    books = np.load(arts["pq_codebooks"])
    assert books.shape == (8, 16, 8)  # m=8, 16 codes, 64/8 dims
    codes = spark.read.parquet(arts["pq_codes"])
    coll = spark.read.parquet(arts["collection"])
    assert codes.count() == coll.count()
    row = codes.first()
    assert len(row["codes"]) == 8
    assert set(codes.columns) == {"doc_id", "codes"}
