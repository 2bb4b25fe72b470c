"""kNN operator properties (SURVEY §5: self-consistency checks for the
non-SQL paths) + numpy/SQL strategy agreement."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.operators.knn import (
    knn_join_numpy,
    knn_join_sql,
    threshold_similarity_join,
)

from .conftest import SF_SMALL


def _queries(emb, n=5):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_self_is_rank_one(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    out = knn_join_numpy(_queries(emb), emb, k=3, corpus_id="vec_id").collect()
    rank1 = {r["query_id"]: (r["vec_id"], r["score"]) for r in out if r["rank"] == 1}
    for qid, (vid, score) in rank1.items():
        assert vid == qid
        assert abs(score - 1.0) < 1e-9


def test_topk_subset_of_topk_plus_one(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    k3 = {
        (r["query_id"], r["vec_id"])
        for r in knn_join_numpy(_queries(emb), emb, k=3, corpus_id="vec_id").collect()
    }
    k4 = {
        (r["query_id"], r["vec_id"])
        for r in knn_join_numpy(_queries(emb), emb, k=4, corpus_id="vec_id").collect()
    }
    assert k3 <= k4


def test_numpy_and_sql_strategies_agree(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    a = knn_join_numpy(_queries(emb), emb, k=5, corpus_id="vec_id").collect()
    b = knn_join_sql(_queries(emb), emb, k=5, corpus_id="vec_id").collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    sa = {key(r): (r["vec_id"], r["score"]) for r in a}
    sb = {key(r): (r["vec_id"], r["score"]) for r in b}
    assert sa == sb


def _planted_vectors(spark, n=240, d=12, seed=5):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, d))
    for i in range(0, n // 2, 4):
        mat[i + 1] = mat[i] + rng.normal(scale=0.05, size=d)
    # exact-duplicate triples: 6-dp score ties (1.0) whose members hash
    # to different blocks
    for i in range(n // 2, n - 3, 9):
        mat[i + 1] = mat[i + 2] = mat[i]
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df.repartition(5), mat


@pytest.mark.parametrize("n_blocks", [1, 3, 7])
def test_threshold_join_blocked_multi_block_exact(spark, n_blocks):
    """Every block count gives the numpy brute-force pair set, each
    unordered pair once — catches rows lost or duplicated at block
    boundaries."""
    df, mat = _planted_vectors(spark)
    tau = 0.5
    nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = nm @ nm.T
    ii, jj = np.nonzero(np.triu(sims >= tau, k=1))
    expected = {
        (int(i), int(j), round(float(sims[i, j]), 6)) for i, j in zip(ii, jj)
    }
    rows = threshold_similarity_join(
        df, tau, n_blocks=n_blocks, gemm_chunk_rows=16
    ).collect()
    got = [(r["a_id"], r["b_id"], r["score"]) for r in rows]
    assert len(got) == len(set(got))
    assert set(got) == expected
    assert sum(sc == 1.0 for _, _, sc in got) >= 3 * 13  # 13 triples


def test_threshold_join_blocked_never_collects_to_driver(spark, monkeypatch):
    """VERDICT r1 #1 regression: the join must not materialize its input
    on the driver.  DataFrame.collect is poisoned for the whole
    build+execute; only the final result may be fetched (via toPandas)."""
    from pyspark.sql import DataFrame as SparkDataFrame

    emb = read_table(spark, SF_SMALL, "embeddings")

    def _boom(self):
        raise AssertionError("driver collect() inside threshold_similarity_join")

    monkeypatch.setattr(SparkDataFrame, "collect", _boom)
    out = threshold_similarity_join(emb, 0.4, n_blocks=4).toPandas()
    assert len(out) > 0


def test_threshold_join_symmetric_bound(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    rows = threshold_similarity_join(emb, 0.4).collect()
    for r in rows:
        assert r["a_id"] < r["b_id"]
        assert r["score"] >= 0.4 - 1e-9


def test_late_interaction_rank1_self_retrieval(spark):
    """Multi-vector max-pool retrieval: the rank-1 doc for a query built
    from doc i's first 200 chars must be doc i itself."""
    from crawling_vectordb_llm_spark.suite import QUERIES

    rows = QUERIES["late_interaction_search"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    top = {r["query_id"]: r["doc_id"] for r in rows if r["rank"] == 1}
    assert top == {i: i for i in range(5)}


def test_mmr_rerank_properties(spark):
    """MMR output: 5 picks per query, a subset of the candidate pool,
    rank-1 = highest-relevance doc, deterministic across runs, and picks
    are less mutually similar than the plain top-5."""
    from crawling_vectordb_llm_spark.suite import QUERIES

    def run():
        return QUERIES["mmr_rerank_topk"](spark, "/root/testdata/sf0.001").collect()

    a, b = run(), run()
    key = lambda rows: sorted((r["query_id"], r["mmr_rank"], r["doc_id"]) for r in rows)  # noqa: E731
    assert key(a) == key(b)  # deterministic
    by_q = {}
    for r in a:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        assert len(rows) == 5
        first = min(rows, key=lambda r: r["mmr_rank"])
        assert first["score"] == max(r["score"] for r in rows)
        # self-retrieval: rank-1 for query q is vector q itself
        assert first["doc_id"] == q


def test_cross_encoder_rerank_self_retrieval_and_determinism(spark):
    """The blended rank-1 for query i must be doc i (retrieval cosine 1.0
    with its own vector and perfect token overlap with its own text), and
    reruns are identical."""
    from crawling_vectordb_llm_spark.suite import QUERIES

    def run():
        return QUERIES["cross_encoder_rerank"](
            spark, "/root/testdata/sf0.001"
        ).collect()

    a, b = run(), run()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    top = {r["query_id"]: r for r in a if r["ce_rank"] == 1}
    for q, r in top.items():
        assert r["doc_id"] == q
        assert r["ce_e6"] == 1_000_000  # Dice(set, itself) = 1 exactly
        assert r["retrieval_e6"] == 1_000_000
        assert r["blended_e12"] == 1_000_000_000_000
