"""BM25 scoring against a DuckDB reference on a tiny corpus built to hit
the edge cases: tf > 1, a query term absent from the corpus, a term
repeated within one query, queries sharing terms, the empty token that a
double space leaves, and a null text.  Also pins the operator's Spark job
count so a return to the multi-scan shape fails."""

from __future__ import annotations

import math

import duckdb
import pytest

from crawling_vectordb_llm_spark.operators import bm25
from crawling_vectordb_llm_spark.operators.bm25 import B, K1, bm25_scores, bm25_topk

DOCS = [
    (1, "spark spark spark engine"),
    (2, "spark  query engine"),
    (3, "hash join on the data table"),
    (4, None),
    (5, "data data table scan spark"),
    (6, "query plan"),
    (7, "engine"),
]
QUERIES = [
    (0, "spark engine"),
    (1, "spark spark query"),
    (2, "zzz absent"),
    (3, "data table zzz"),
    (4, "engine query"),
]
# derived (query_id, term) rows, duplicates and the empty token included
QTERMS = [(10, "spark"), (10, "spark"), (10, ""), (11, "data"), (11, "zzz"), (12, "")]

# Jobs the multi-scan shape (full token-stream tf and df aggregations,
# a dl re-scan and join, a separate stats action) ran for
# bm25_topk(...).collect() on DOCS / QUERIES.
MULTI_SCAN_JOBS = 14


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bm25") / "docs")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def _reference(pairs: list[tuple[int, str]]) -> dict:
    """(query_id, doc_id) -> score, the oracle's SQL over DOCS."""
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    con.execute("CREATE TABLE q (query_id BIGINT, term VARCHAR)")
    con.executemany("INSERT INTO q VALUES (?, ?)", pairs)
    rows = con.sql(f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(22,6))) AS DOUBLE)
           / COUNT(*) AS avgdl
  FROM documents
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), qterms AS (SELECT DISTINCT query_id, term FROM q),
partial AS (
  SELECT q.query_id, tf.doc_id,
         CAST(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
              * (tf.tf * ({K1} + 1)) / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / s.avgdl))
              AS DECIMAL(18,9)) AS sc
  FROM qterms q
  JOIN tf ON tf.term = q.term
  JOIN dfreq d ON d.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id, stats s
)
SELECT query_id, doc_id, ROUND(CAST(SUM(sc) AS DOUBLE), 6) AS score
FROM partial GROUP BY 1, 2
""").fetchall()
    return {(q, d): s for q, d, s in rows}


def test_topk_matches_reference(docs):
    ref = _reference([(qid, t) for qid, text in QUERIES for t in text.split()])
    want = {}
    for qid, _ in QUERIES:
        hits = sorted(
            ((d, s) for (q, d), s in ref.items() if q == qid), key=lambda x: (-x[1], x[0])
        )
        for rank, (d, s) in enumerate(hits[:3], start=1):
            want[(qid, rank)] = (d, s)
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in bm25_topk(docs, QUERIES, k=3).collect()
    }
    assert got == want
    # the absent-only query returns nothing; the repeated term counts once
    assert not any(q == 2 for q, _ in got)
    once = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in bm25_topk(docs, [(1, "spark query")], k=3).collect()
    }
    assert once == {key: v for key, v in got.items() if key[0] == 1}


def test_scores_match_reference_for_derived_terms(spark, docs):
    qterms = spark.createDataFrame(QTERMS, "query_id long, term string")
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in bm25_scores(docs, qterms).collect()}
    assert got == _reference(QTERMS)
    # the empty token from the double space scores only doc 2
    assert {d for q, d in got if q == 12} == {2}


def test_tf_above_one_hand_computed(docs):
    """Doc 1 holds 'spark' 3 times in 4 tokens; 7 docs, 22 tokens (the
    null text counts as a document with no length), df(spark) = 3."""
    idf = math.log((7 - 3 + 0.5) / (3 + 0.5) + 1.0)
    tf_part = 3 * (K1 + 1) / (3 + K1 * (1 - B + B * 4 / (22 / 7)))
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, [(0, "spark")], k=10).collect()
    }
    assert set(got) == {1, 2, 5}
    assert abs(got[1] - idf * tf_part) < 1e-6


def test_query_side_bounded_by_bytes(spark, docs, monkeypatch):
    monkeypatch.setattr(bm25, "MAX_QUERY_BYTES", 64)
    with pytest.raises(ValueError, match="MAX_QUERY_BYTES=64"):
        bm25_topk(docs, [(0, "x" * 60)])
    qterms = spark.createDataFrame([(i, "spark") for i in range(20)], "query_id long, term string")
    with pytest.raises(ValueError, match="MAX_QUERY_BYTES=64"):
        bm25_scores(docs, qterms)


def test_duplicate_qterms_past_the_row_cap_are_kept(spark, docs, monkeypatch):
    """64 bytes caps the collect at 9 rows.  Forty duplicates of one pair
    and one extra pair after them are 2 distinct pairs, 25 bytes: both
    are scored, none is cut off by the cap."""
    monkeypatch.setattr(bm25, "MAX_QUERY_BYTES", 64)
    pairs = [(10, "spark")] * 40 + [(11, "data")]
    qterms = spark.createDataFrame(pairs, "query_id long, term string").coalesce(1)
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in bm25_scores(docs, qterms).collect()}
    assert got == _reference(pairs)
    assert {q for q, _ in got} == {10, 11}


def test_single_scan_job_count(spark, docs):
    sc = spark.sparkContext
    group = "test-bm25-job-count"
    sc.setJobGroup(group, "bm25_topk job count")
    try:
        bm25_topk(docs, QUERIES, k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= MULTI_SCAN_JOBS // 2
