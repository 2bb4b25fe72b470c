"""BM25 keyword search — the lexical complement to the vector search path
(the reference retrieves by embedding only; a training-data/RAG pipeline
needs both, and hybrid = union of the two candidate sets).

Filter-then-verify over one tokenization.  The query side is small (a few
words per query), so its distinct term set T is built on the driver and
inlined into the plan as a literal.  One projection over the documents computes
`dl` (the token count) and `hit = array_intersect(words, T)`, the distinct
query terms the document contains; every term outside T is dropped there,
before any shuffle.  Two actions follow:

A. one small aggregation over `posexplode_outer(hit)` yields `df` per
   query term, the document count `n` (one first row per document) and
   the exact `decimal(22,6)` sum of `dl` for `avgdl`;
B. the documents with a hit explode `hit`, take
   `tf = dl - size(array_remove(words, term))`, broadcast-join the
   `(query_id, term, df, n, avgdl)` literal relation and sum the per-term
   scores per (query, doc) behind one exchange on query_id, which the
   per-query rank window reuses.

Shuffle volume is therefore bounded by (documents with a hit) x (query
terms they contain), not by the corpus token stream; `dl` rides the
stream that is already cut to query terms, so no `dl` re-scan or join
remains.  Native array functions only: a `filter(words, w ->
array_contains(T, w))` lambda measured 1.9x slower at 40k documents.

Determinism for the oracle: per-(query, doc, term) partial scores are cast
to DECIMAL(18,9) before the final sum, so the score is order-independent
and bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.topk import grouped_topk
from crawling_vectordb_llm_spark.session import local_frame

K1 = 1.2
B = 0.75

# Bound on the query side, in bytes: 8 per query id plus each term's
# UTF-8 length, over the distinct (query_id, term) pairs.  The term set is
# inlined into the plan as a literal array that every task intersects
# with every document, and the pairs are broadcast, so the bound keeps
# both small.  Queries are a few words each; an eval set's token sets run
# to kilobytes.  Read at call time.
MAX_QUERY_BYTES = 4 << 20
_QUERY_ID_BYTES = 8


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 docs per keyword query.  queries = [(query_id, text)]."""
    pairs = {(qid, t) for qid, text in queries for t in text.split()}
    scored = _bm25(docs, pairs, "long", id_col, text_col, "bm25_topk")
    return grouped_topk(
        scored, ["query_id"], [F.desc("score"), F.asc(id_col)], k
    )


def bm25_scores(
    docs: DataFrame,
    qterms: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 scores (query_id, id_col, score) for (query_id, term) pairs —
    the entry for queries that are DERIVED relations (e.g. a document's
    own token set for self-retrieval evaluation) instead of driver
    literals, so callers can filter the scored relation (exclude
    self-matches, thresholds) BEFORE ranking.  `qterms` is collected once,
    bounded by MAX_QUERY_BYTES; duplicate pairs count once."""
    # every distinct pair costs at least the id's bytes, so this many rows
    # already exceed the bound: a collect cut short by the limit always
    # raises below, and the collect never transfers more than that
    cap = MAX_QUERY_BYTES // _QUERY_ID_BYTES + 1
    rows = (
        qterms.select("query_id", "term")
        .where(F.col("term").isNotNull())
        .distinct()
        .limit(cap)
        .collect()
    )
    pairs = {(r[0], r[1]) for r in rows}
    qid_t = qterms.schema["query_id"].dataType.simpleString()
    return _bm25(docs, pairs, qid_t, id_col, text_col, "bm25_scores")


def _bm25(
    docs: DataFrame,
    pairs: set,
    qid_t: str,
    id_col: str,
    text_col: str,
    caller: str,
) -> DataFrame:
    """Scores for distinct driver-side (query_id, term) pairs."""
    size = sum(_QUERY_ID_BYTES + len(t.encode("utf-8")) for _, t in pairs)
    if size > MAX_QUERY_BYTES:
        raise ValueError(
            f"{caller}: query terms exceed MAX_QUERY_BYTES={MAX_QUERY_BYTES} "
            f"({size} bytes); the term set is inlined into the plan and "
            "broadcast to every task and must stay small — batch the queries"
        )
    spark = docs.sparkSession
    id_t = docs.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, {id_col} {id_t}, score double"
    # a term holding a space can never equal a token, so the term set
    # travels as ONE space-joined literal, tokenized like the documents
    # (a literal array costs a JVM call per element to build)
    terms = sorted({t for _, t in pairs if " " not in t})
    if not terms:
        return local_frame(spark, [], out_schema)

    words = F.split(F.col(text_col), " ")
    tok = docs.select(
        F.col(id_col),
        words.alias("words"),
        F.size(words).alias("dl"),
        F.array_intersect(words, F.split(F.lit(" ".join(terms)), " ")).alias("hit"),
    )

    # A: df per query term (rollup groups) and n / avgdl over each
    # document's first row (the grand-total group), in one action; a
    # document without hits has one row, with a null pos
    first = F.coalesce(F.col("pos"), F.lit(0)) == 0
    n_col = F.count(F.when(first, 1))
    stats = (
        tok.select(F.posexplode_outer("hit").alias("pos", "term"), "dl")
        .rollup("term")
        .agg(
            F.grouping("term").alias("total"),
            F.count(F.lit(1)).alias("df"),
            n_col.alias("n"),
            (
                F.sum(F.when(first, F.col("dl").cast("decimal(22,6)"))).cast("double")
                / n_col
            ).alias("a"),
        )
        .where(F.col("term").isNotNull() | (F.col("total") == 1))
        .collect()
    )
    dfreq = {r["term"]: r["df"] for r in stats if r["total"] == 0}
    total = next(r for r in stats if r["total"] == 1)
    n_docs, avgdl = total["n"], total["a"]
    if not dfreq:
        return local_frame(spark, [], out_schema)
    # n and avgdl ride as columns of the broadcast pairs, not literals:
    # Spark inlines a double literal into the generated Java, so a corpus
    # that grew would compile new classes on every call
    qt = local_frame(
        spark,
        [
            (q, t, dfreq[t], float(n_docs), float(avgdl))
            for q, t in pairs
            if t in dfreq
        ],
        f"query_id {qid_t}, term string, df long, n double, avgdl double",
    )

    # B: score only the documents with a hit (explode drops the rest)
    tf = (
        tok.select(id_col, "words", "dl", F.explode("hit").alias("term"))
        .select(
            id_col,
            "dl",
            "term",
            (F.col("dl") - F.size(F.array_remove("words", F.col("term")))).alias("tf"),
        )
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
    )
    partial = F.broadcast(qt).join(tf, "term").select(
        "query_id",
        id_col,
        # DECIMAL(18,9): coarse enough that a 1-2 ulp ln() difference
        # between JVM and libm can't straddle a rounding boundary,
        # exact enough for stable 6dp final scores
        (idf * tf_part).cast("decimal(18,9)").alias("s"),
    )
    # one exchange on query_id alone serves both this sum and the per-query
    # rank window callers put on top (a (query_id, doc) exchange would not)
    return partial.repartition("query_id").groupBy("query_id", id_col).agg(
        F.round(F.sum("s").cast("double"), 6).alias("score")
    )
