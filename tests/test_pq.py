"""Product-quantization ANN (operators/pq.py): codebook shape, encode
determinism, ADC shortlist recall, and exact agreement of the reranked
pipeline with exact kNN (SURVEY §5 self-consistency strategy)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.operators.knn import knn_join_numpy
from crawling_vectordb_llm_spark.operators.pq import (
    pq_adc_shortlist,
    pq_encode,
    pq_knn_rerank,
    pq_train,
)

from .conftest import SF_SMALL

# 64 codes/subspace (not 16): order-pinned codebook draws (ADVICE r3) need
# the finer ADC resolution for exact-recovery margins on isotropic fixtures
M, CODES = 8, 64


def _queries(emb, n=5):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_codebook_shape_and_determinism(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    b1 = pq_train(emb, M, CODES)
    b2 = pq_train(emb, M, CODES)
    assert b1.shape == (M, CODES, 64 // M)
    assert np.array_equal(b1, b2)


def test_encode_codes_in_range(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    books = pq_train(emb, M, CODES)
    rows = pq_encode(emb, books, "vec_id").collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["codes"]) == M
        assert all(0 <= c < CODES for c in r["codes"])


def test_adc_shortlist_recall(spark):
    """The 256-candidate ADC shortlist must contain the true top-3 for
    every query (recall@3 == 1.0) — the property that makes the reranked
    output exactly match exact kNN."""
    emb = read_table(spark, SF_SMALL, "embeddings")
    books = pq_train(emb, M, CODES)
    encoded = pq_encode(emb, books, "vec_id")
    cand = pq_adc_shortlist(_queries(emb), encoded, books, 256, corpus_id="vec_id")
    cand_set = {(r["query_id"], r["vec_id"]) for r in cand.collect()}
    exact = knn_join_numpy(_queries(emb), emb, k=3, corpus_id="vec_id").collect()
    missing = [(r["query_id"], r["vec_id"]) for r in exact
               if (r["query_id"], r["vec_id"]) not in cand_set]
    assert not missing, f"shortlist missed true top-k pairs: {missing}"


def test_pq_rerank_matches_exact_knn(spark):
    emb = read_table(spark, SF_SMALL, "embeddings")
    got = {
        (r["query_id"], r["vec_id"], r["rank"], round(r["score"], 6))
        for r in pq_knn_rerank(
            _queries(emb), emb, k=3, shortlist=256, n_codes=CODES, corpus_id="vec_id"
        ).collect()
    }
    want = {
        (r["query_id"], r["vec_id"], r["rank"], round(r["score"], 6))
        for r in knn_join_numpy(_queries(emb), emb, k=3, corpus_id="vec_id").collect()
    }
    assert got == want


def test_ivfpq_recall_and_determinism(spark):
    """IVF-PQ approximate top-10 must recall >= 0.8 of the exact top-10
    (n_probe=12 of 16 cells, 64 codes, 256 shortlist on the 500-row fixture;
    measured 0.94 — probing fewer cells of an isotropic corpus caps recall
    near probed-fraction, so 8/16 sat at ~0.78) and be
    deterministic across runs."""
    from crawling_vectordb_llm_spark.operators.pq import ivfpq_topk

    emb = read_table(spark, SF_SMALL, "embeddings")
    q = _queries(emb, 5)
    got = ivfpq_topk(q, emb, k=10, n_centroids=16, n_probe=12,
                     n_codes=CODES, shortlist=256, corpus_id="vec_id")
    pairs = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_join_numpy(q, emb, k=10, corpus_id="vec_id").collect()
    }
    assert len(pairs & exact) / len(exact) >= 0.8
    again = {
        (r["query_id"], r["vec_id"])
        for r in ivfpq_topk(q, emb, k=10, n_centroids=16, n_probe=12,
                            n_codes=CODES, shortlist=256, corpus_id="vec_id").collect()
    }
    assert pairs == again
    # self-retrieval: each query's own vector survives coarse pruning
    # (it lives in the cell the query scores highest) and ranks first
    rank1 = {r["query_id"]: r["vec_id"] for r in got.collect() if r["rank"] == 1}
    assert rank1 == {i: i for i in range(5)}


def test_auto_m_subvectors_rule():
    """r11 (VERDICT r10 #2): IVF-PQ's subquantizer count must track
    DIMENSION at a fixed 8-dim sub-vector width — m = max(8, dim // 8),
    descending to the nearest divisor for irregular dims.  d=64 MUST
    resolve to 8 (bit-compat with every prior d=64 artifact); the
    reference's d=1024 (TencentVDB.py:46) resolves to 128 so ADC
    resolution is d-invariant (the fixed m=8 crammed 128 dims into 16
    codes there — AB_DIM_r10.json thin-margin history)."""
    from crawling_vectordb_llm_spark.operators.pq import auto_m_subvectors

    assert auto_m_subvectors(64) == 8
    assert auto_m_subvectors(1024) == 128
    assert auto_m_subvectors(384) == 48   # MiniLM width
    assert auto_m_subvectors(768) == 96   # BERT-base width
    # irregular dims: nearest divisor at or below max(8, dim // 8)
    assert auto_m_subvectors(100) == 10
    assert auto_m_subvectors(3) == 3
    for d in (3, 64, 100, 384, 768, 1024):
        m = auto_m_subvectors(d)
        assert d % m == 0
    # degenerate-descent guard (ADVICE r11): a prime dim like 97 would
    # descend from 12 all the way to m=1 — one 16-code codebook over the
    # whole residual, worse ADC rank quality than the fixed m=8 it
    # replaced.  Fail loudly instead of silently collapsing.
    import pytest

    with pytest.raises(ValueError, match="pad the embedding"):
        auto_m_subvectors(97)


def test_bounded_sample_reuse_contract_and_ivfpq_identity(spark):
    """r14 (VERDICT r13 #5): ivfpq_topk reuses the k-means fit sample as
    the residual-codebook sample when both caps cover the whole corpus.
    Pin the contract that makes that bit-exact — bounded_random_sample
    returns the IDENTICAL pinned row list for ANY cap >= n — plus the
    n_out count, and that ivfpq output is unchanged vs the r13 tree's
    two-sample shape (same rows through both samples => same codebooks
    => same shortlist => same rerank)."""
    from crawling_vectordb_llm_spark.catalog import read_table
    from crawling_vectordb_llm_spark.operators.ivf import (
        bounded_random_sample,
    )

    emb = read_table(spark, SF_SMALL, "embeddings")
    n1, n2 = {}, {}
    r1 = bounded_random_sample(emb, ["embedding"], 10_000, 42, n_out=n1)
    r2 = bounded_random_sample(emb, ["embedding"], 20_000, 7, n_out=n2)
    assert n1["n"] == n2["n"] == len(r1) == len(r2)
    assert [tuple(r) for r in r1] == [tuple(r) for r in r2]

    from crawling_vectordb_llm_spark.operators.pq import ivfpq_topk
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = sorted(
        tuple(r) for r in ivfpq_topk(queries, emb, k=5, n_probe=8).collect()
    )
    assert len(out) == 25 and len({t[0] for t in out}) == 5


def test_known_count_skips_the_sample_probe_and_count(spark):
    """A caller that already counted the corpus passes n.  Above the
    sample limit the fit then runs no limit probe and no count, and
    samples the identical rows; at or under it, the probe becomes one
    plain collect of the identical rows."""
    from crawling_vectordb_llm_spark.operators.ivf import kmeans_centroids

    rng = np.random.default_rng(0)
    n = 12_000  # above kmeans_centroids' 10k sample floor
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(n)]
    df = (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartition(4)
        .localCheckpoint()
    )
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def fit_jobs(group, df=df, **kw):
        sc.setJobGroup(group, group)
        try:
            cents = kmeans_centroids(df, 4, "embedding", seed=1, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        return cents, [store.job(j).name() for j in ids]

    probed, probed_jobs = fit_jobs("test-kmeans-probe")
    known, known_jobs = fit_jobs("test-kmeans-known-n", n=n)
    assert np.array_equal(probed, known)
    # jobs are named by call site: the sampled collect alone remains; the
    # probe's collect and the count are gone
    assert len(set(known_jobs)) == 1 and set(known_jobs) < set(probed_jobs)
    assert len(set(probed_jobs) - set(known_jobs)) == 2

    small = df.where("vec_id < 3000").localCheckpoint()  # under the 10k floor
    probed, probed_jobs = fit_jobs("test-kmeans-small-probe", df=small)
    known, known_jobs = fit_jobs("test-kmeans-small-known-n", df=small, n=3000)
    assert np.array_equal(probed, known)
    assert len(known_jobs) == 1 and known_jobs[0].startswith("collect at")
    assert len(probed_jobs) >= len(known_jobs)
