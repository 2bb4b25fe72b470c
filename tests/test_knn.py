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


_TIE_ORACLE = """
SELECT query_id, id, CAST(rank AS INT) AS rank, ROUND(score, 6) AS score FROM (
  SELECT query_id, id, score, row_number() OVER (
           PARTITION BY query_id ORDER BY ROUND(score, 6) DESC, id) AS rank
  FROM (SELECT q.query_id, c.id, list_cosine_similarity(q.qv, c.v) AS score
        FROM q CROSS JOIN c)
) WHERE rank <= {k}
"""


def _tie_oracle(qids, qmat, ids, mat, k):
    """The (6-dp score desc, id asc) top k of every query, by DuckDB."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("q", pd.DataFrame({"query_id": qids, "qv": list(qmat)}))
    con.register("c", pd.DataFrame({"id": ids, "v": list(mat)}))
    return sorted(con.execute(_TIE_ORACLE.format(k=k)).fetchall())


def _rows(df, id_col):
    return sorted(
        (r["query_id"], r[id_col], r["rank"], round(r["score"], 6)) for r in df.collect()
    )


def test_query_topk_keeps_tie_order_at_any_partitioning(spark, tmp_path):
    """Exact copies of a query vector tie at 6 dp; every query-side top-k
    keeps the lowest ids among them, whatever the partitioning and row
    order: knn_join_numpy, knn_join_sql, ivf_search with every cell
    probed, and VectorCollection.search_by_text on both paths, each
    equal to a DuckDB row_number oracle."""
    from crawling_vectordb_llm_spark.embedding import hash_encode_batch
    from crawling_vectordb_llm_spark.operators.ivf import (
        assign_centroids,
        ivf_search,
        kmeans_centroids,
    )
    from crawling_vectordb_llm_spark.vectorstore import VectorCollection

    k, n, d = 5, 600, 16
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(n, d))
    qmat = rng.normal(size=(3, d))
    ids = rng.permutation(n)  # shuffled row order, scattered ids
    mat[:12] = qmat[0]  # 12 exact copies of query 0
    mat[12:20] = qmat[1] * rng.uniform(0.5, 2.0, size=(8, 1))  # 8 scaled copies
    vecs = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(q, [float(x) for x in v]) for q, v in enumerate(qmat)],
        "query_id long, query_vec array<double>",
    )
    want = _tie_oracle(np.arange(3), qmat, ids, mat, k)
    assert [r[1] for r in want[:k]] == sorted(ids[:12])[:k]

    texts = [f"common words {i % 50} of doc {i}" for i in range(200)]
    texts[:10] = ["the same duplicated text"] * 10
    texts[10:16] = ["another shared body"] * 6
    doc_ids = [f"d{i:03d}" for i in rng.permutation(200)]
    docs = spark.createDataFrame(list(zip(doc_ids, texts)), "id string, text string")
    asks = ["the same duplicated text", "another shared body", texts[40]]

    for p in (1, 3, 7):
        corpus = vecs.repartition(p)
        cents = kmeans_centroids(corpus, 4)
        assigned = assign_centroids(corpus, cents)
        assert _rows(knn_join_numpy(queries, corpus, k, corpus_id="vec_id"), "vec_id") == want
        assert _rows(knn_join_sql(queries, corpus, k, corpus_id="vec_id"), "vec_id") == want
        assert _rows(ivf_search(queries, assigned, cents, k, n_probe=4), "vec_id") == want

        coll = VectorCollection(spark, str(tmp_path / f"c{p}"), dim=d, shards=p, n_centroids=4)
        coll.upsert(docs.repartition(p), build_index=True)
        stored = coll.documents().select("id", "vector").toPandas()
        coll_want = _tie_oracle(
            np.arange(3), hash_encode_batch(asks, d), stored["id"].to_numpy(),
            np.array(stored["vector"].tolist(), dtype=np.float64), k,
        )
        exact = coll.search_by_text(asks, limit=k)
        ivf = coll.search_by_text(asks, limit=k, use_index=True, n_probe=4)
        assert exact.columns == ivf.columns == ["query_id", "id", "rank", "score"]
        assert _rows(exact, "id") == coll_want
        assert _rows(ivf, "id") == coll_want
