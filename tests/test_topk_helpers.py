"""global_topk_ranked (operators/topk.py, VERDICT r4 #8): whole-table
top-k with a dense rank via TakeOrdered + sorted-array posexplode —
must match row_number semantics without any global WindowExec."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.topk import global_topk_ranked


def test_matches_row_number_semantics(spark):
    df = spark.createDataFrame(
        [("a", 5), ("b", 9), ("c", 9), ("d", 1), ("e", 7)], "name string, n int"
    )
    out = global_topk_ranked(
        df, [(-F.col("n")).alias("neg"), F.col("name")], ["name", "n"], 3
    ).collect()
    # order: n desc, name asc -> b(9),c(9),e(7); ranks 1..3
    assert [(r["name"], r["n"], r["rank"]) for r in out] == [
        ("b", 9, 1),
        ("c", 9, 2),
        ("e", 7, 3),
    ]


def test_k_larger_than_table(spark):
    df = spark.createDataFrame([("x", 2), ("y", 1)], "name string, n int")
    out = global_topk_ranked(df, [F.col("n")], ["name", "n"], 10).collect()
    assert [(r["name"], r["rank"]) for r in out] == [("y", 1), ("x", 2)]


def test_empty_input_yields_zero_rows(spark):
    df = spark.createDataFrame([], "name string, n int")
    out = global_topk_ranked(df, [F.col("n")], ["name", "n"], 5)
    assert out.count() == 0
    assert out.columns == ["name", "n", "rank"]


def test_no_window_exec_in_plan(spark):
    df = spark.createDataFrame([("a", 1)], "name string, n int")
    out = global_topk_ranked(df, [F.col("n")], ["name", "n"], 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowExec" not in plan and "Window" not in plan
    assert "TakeOrdered" in plan


def _toy_ann_frames(spark, n_queries):
    qs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(n_queries)],
        "query_id long, query_vec array<float>",
    )
    corpus = spark.createDataFrame(
        [(i, [float(i % 5), 0.5, 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    return qs, corpus


def test_query_collect_guard_raises_over_cap(spark):
    """VERDICT r5 #3: every query-side collect in the ANN ladder must
    raise a clear ValueError over max_query_rows instead of OOM-ing."""
    import numpy as np
    import pytest

    from crawling_vectordb_llm_spark.operators import ivf, knn, pq

    qs, corpus = _toy_ann_frames(spark, 6)
    cents = np.eye(3, dtype=np.float64)[:2]
    books = np.tile(np.eye(3, dtype=np.float64)[None, :2, :1], (3, 1, 1))
    codes = corpus.selectExpr("vec_id", "array(0, 0, 0) as codes")
    with pytest.raises(
        ValueError,
        match="knn_join_numpy.*max_query_rows.*knn.threshold_similarity_join",
    ):
        knn.knn_join_numpy(qs, corpus, k=2, corpus_id="vec_id", max_query_rows=5)
    with pytest.raises(ValueError, match="knn_quantized_rerank.*max_query_rows"):
        knn.knn_quantized_rerank(
            qs, corpus, k=2, corpus_id="vec_id", max_query_rows=5
        )
    with pytest.raises(ValueError, match="ivf_search.*max_query_rows"):
        ivf.ivf_search(
            qs, corpus.selectExpr("*", "0 as centroid_id"),
            cents, k=2, n_probe=1, max_query_rows=5,
        )
    with pytest.raises(ValueError, match="pq_adc_shortlist.*max_query_rows"):
        pq.pq_adc_shortlist(qs, codes, books, shortlist=4, max_query_rows=5)
    with pytest.raises(ValueError, match="ivfpq_topk.*max_query_rows"):
        pq.ivfpq_topk(qs, corpus, k=2, max_query_rows=5)


def test_query_collect_guard_noop_below_cap(spark):
    """Below the cap the guard must not change behavior: same result as
    an uncapped run."""
    from crawling_vectordb_llm_spark.operators import knn

    qs, corpus = _toy_ann_frames(spark, 4)
    capped = knn.knn_join_numpy(
        qs, corpus, k=3, corpus_id="vec_id", max_query_rows=4
    )
    wide = knn.knn_join_numpy(
        qs, corpus, k=3, corpus_id="vec_id", max_query_rows=1_000_000
    )
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(capped.collect(), key=key) == sorted(wide.collect(), key=key)
