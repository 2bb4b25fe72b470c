"""Vector subsystem queries: kNN search (J1/J2), threshold similarity join,
normalize-at-ingest, label centroids, hash-embedding round trip.

Oracles use DuckDB `list_cosine_similarity` on DOUBLE[] casts so both
engines do float64 math over identical float32 inputs; scores are rounded
to 6 dp on BOTH sides (FIXTURES.md determinism rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import table_path
from crawling_vectordb_llm_spark.embedding import make_embed_udf
from crawling_vectordb_llm_spark.functions import vector as V
from crawling_vectordb_llm_spark.operators.knn import (
    knn_join_numpy,
    knn_join_sql,
    threshold_similarity_join,
)
from crawling_vectordb_llm_spark.plans.rag import search_pipeline
from crawling_vectordb_llm_spark.suite.dedup_suite import (
    BOUNDED_GRAPH_CTES,
    TOPK_K,
    TOPK_TAU,
)
from crawling_vectordb_llm_spark.suite.registry import query

N_QUERIES = 5
TOP_K = 3


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, "embeddings"))


_KNN_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {nq}
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS score
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, vec_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@query("knn_topk", oracle=_KNN_ORACLE.format(nq=N_QUERIES, k=TOP_K))
def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: top-3 cosine per query — the numpy/GEMM scale path."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join_numpy(queries, emb, k=TOP_K, corpus_id="vec_id")
    return out.select("query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "score")


@query("knn_topk_sql", oracle=_KNN_ORACLE.format(nq=20, k=10))
def q_knn_topk_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 variant: pure-SQL cosine (whole-stage codegen), k=10, 20 queries."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join_sql(queries, emb, k=10, corpus_id="vec_id")
    return out.select("query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "score")


@query(
    "similarity_threshold_join",
    oracle="""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
""",
)
def q_similarity_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join flavor of J1 (SURVEY §2.5): all pairs cosine >= tau."""
    return threshold_similarity_join(_emb(spark, sf_dir), tau=0.4)


@query(
    "similarity_topk_join",
    oracle="WITH " + BOUNDED_GRAPH_CTES + """
SELECT item_id, neighbor_id, CAST(rnk AS INT) AS rank, score
FROM ranked WHERE rnk <= {k}
""".format(k=TOPK_K),
)
def q_similarity_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-output similarity self-join (VERDICT r6 #1 headline): every
    vector's top-k cosine neighbors at >= tau via the blocked-GEMM grid
    with per-task top-k emission — output <= n·k rows (linear) where the
    all-pairs threshold join's output is quadratic at a loose tau
    (measured marginal exponent 2.0, BENCH_SF1_r06)."""
    from crawling_vectordb_llm_spark.operators.knn import (
        topk_similarity_self_join,
    )

    return topk_similarity_self_join(_emb(spark, sf_dir), k=TOPK_K, tau=TOPK_TAU)


@query(
    "vector_normalize",
    oracle="""
SELECT vec_id,
       ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 6) AS norm,
       ROUND(embedding[1] / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[]))), 6) AS first_unit
FROM embeddings
""",
)
def q_vector_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 ingest-side normalization: L2 norm + first normalized component."""
    emb = _emb(spark, sf_dir)
    return emb.select(
        "vec_id",
        F.round(V.l2_norm("embedding"), 6).alias("norm"),
        F.round(V.l2_normalize("embedding")[0], 6).alias("first_unit"),
    )


@query(
    "centroid_per_label",
    oracle="""
SELECT e.label, d.dim,
       ROUND(CAST(SUM(CAST(CAST(e.embedding[d.dim] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*), 6) AS avg_val
FROM embeddings e, generate_series(1, 64) AS d(dim)
GROUP BY e.label, d.dim
""",
)
def q_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (IVF build block): array avg via posexplode.

    Decimal-cast sums make the result order-independent and bit-identical
    to the oracle (SURVEY §7 hard part c)."""
    emb = _emb(spark, sf_dir)
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("col").cast("decimal(18,9)").alias("val"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(
            F.sum("val").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_val")
    )


_RAG_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {nq}
), ranked AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) DESC,
                    e.vec_id ASC) AS rank
  FROM q CROSS JOIN embeddings e
), hits AS (
  SELECT * FROM ranked WHERE rank <= {k}
), agg AS (
  SELECT h.query_id,
         string_agg(substr(d.text, 1, 200), chr(10) ORDER BY h.rank) AS context,
         string_agg(d.source || '     ' || CAST(d.doc_id AS VARCHAR),
                    chr(10) || chr(10) ORDER BY h.rank) AS citations
  FROM hits h JOIN documents d ON d.doc_id = h.doc_id
  GROUP BY h.query_id
)
SELECT query_id, context, citations,
       substr('summarize according to "query", content: ' || context, 1, 20000) AS prompt
FROM agg
"""


@query("rag_search_pipeline", oracle=_RAG_ORACLE.format(nq=N_QUERIES, k=TOP_K))
def q_rag_search_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: embed-free searchByText → ordered concat → prompt → cite
    (reference main_server.py:40-51, 142-143, 171-174)."""
    return search_pipeline(spark, sf_dir, n_queries=N_QUERIES, k=TOP_K)


_RAG_GEN_ORACLE = (
    _RAG_ORACLE.format(nq=N_QUERIES, k=TOP_K)
    .replace(
        "SELECT query_id, context, citations,",
        "SELECT query_id, 'summary('"
        " || array_to_string(list_slice(string_split_regex(trim(context), '\\s+'), 1, 12), ' ')"
        " || ') [' || CAST(LEAST(length('summarize according to \"query\", content: ' || context), 8000) AS VARCHAR)"
        " || ' chars in]' || chr(10) || chr(10) || citations AS response,",
    )
    .replace(
        "substr('summarize according to \"query\", content: ' || context, 1, 20000) AS prompt\nFROM agg",
        "context AS __drop\nFROM agg",
    )
)
# keep only (query_id, response)
_RAG_GEN_ORACLE = f"SELECT query_id, response FROM ({_RAG_GEN_ORACLE})"


@query("rag_generate", oracle=_RAG_GEN_ORACLE)
def q_rag_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: full RAG tail — search → prompt → batch generate (deterministic
    extractive stand-in via iterator pandas_udf; real LLM plugs in at the
    same seam) → citations appended (main_server.py:151-174)."""
    from crawling_vectordb_llm_spark.plans.generate import rag_generate

    hits = search_pipeline(spark, sf_dir, n_queries=N_QUERIES, k=TOP_K)
    return rag_generate(hits)


def _md5_embed_fragment(src: str, name: str, dim: int = 64) -> str:
    """Reusable CTE chain replaying the DEFAULT hash embedder
    (embedding.py hash_encode_batch) in DuckDB over `src` (a subquery
    producing (id, txt)): token bucket/sign from md5 (hex-pair
    arithmetic reproduces the little-endian first-4-bytes mod dim and
    the byte-4 parity sign exactly), integer-valued bucket sums
    (order-free), float64 L2 normalize, float32 cast (the udf emits
    array<float>).  Emits CTE `{name}` with columns (id, e DOUBLE[])."""

    def hx(i: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"

    bucket = (
        f"({hx(1)}*16 + {hx(2)} + ({hx(3)}*16 + {hx(4)})*256"
        f" + ({hx(5)}*16 + {hx(6)})*65536"
        f" + ({hx(7)}*16 + {hx(8)})*16777216) % {dim}"
    )
    sign = f"CASE WHEN ({hx(10)} % 2) = 1 THEN 1.0 ELSE -1.0 END"
    return f"""{name}_toks AS (
  SELECT id,
         CASE WHEN regexp_replace(lower(txt), '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(
                     regexp_replace(lower(txt), '^\\s+|\\s+$', '', 'g'),
                     '\\s+')
         END AS tk
  FROM ({src})
), {name}_feats AS (
  SELECT id,
         list_transform(list_transform(tk, t -> md5(t)),
                        h -> struct_pack(b := {bucket}, s := {sign})) AS fs
  FROM {name}_toks
), {name}_raw AS (
  SELECT id,
         list_transform(range(0, {dim}),
           j -> COALESCE(list_sum(
                  list_transform(fs, f -> CASE WHEN f.b = j THEN f.s
                                               ELSE 0.0 END)), 0.0)) AS v
  FROM {name}_feats
), {name}_nrm AS (
  SELECT id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS n
  FROM {name}_raw
), {name} AS (
  SELECT id,
         CASE WHEN n > 0
              THEN list_transform(v, x -> CAST(CAST(x / n AS FLOAT) AS DOUBLE))
              ELSE v END AS e
  FROM {name}_nrm
)"""


def _hash_embed_oracle(dim: int = 64, n_queries: int = 5, k: int = 3) -> str:
    """md5-embed replay + cosine top-k — upgrades the S7 embed stage
    itself from property-tested to value-oracled."""
    frag = _md5_embed_fragment(
        "SELECT doc_id AS id, text AS txt FROM documents", "emb", dim
    )
    return f"""
WITH {frag}, renamed AS (
  SELECT id AS doc_id, e FROM emb
), scored AS (
  SELECT q.doc_id AS query_id, c.doc_id,
         list_cosine_similarity(q.e, c.e) AS score
  FROM renamed q CROSS JOIN renamed c
  WHERE q.doc_id < {n_queries}
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, CAST(rank AS INT) AS rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@query("embed_knn_self", oracle=_hash_embed_oracle())
def q_embed_knn_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-embed document texts (the S7 embedding stage: iterator
    pandas_udf, md5 bag-of-hashed-words stand-in — a real model plugs
    into the same seam), then kNN each of the first 5 docs against the
    embedded corpus.  Now oracle-gated end-to-end (the oracle replays
    the embedder's md5 bucket/sign arithmetic in SQL); the rank-1 =
    self property stays pinned in tests."""
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    embed = make_embed_udf(dim=64)
    emb = docs.select("doc_id", embed(F.col("text")).alias("vector"))
    queries = emb.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("vector").alias("query_vec")
    )
    return knn_join_numpy(
        queries, emb, k=3, corpus_id="doc_id", corpus_vec="vector"
    )


@query(
    "embedding_quantize",
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), s AS (
  SELECT vec_id, e,
         GREATEST(list_max(list_transform(e, x -> abs(x))) / 127.0, 1e-12) AS scale
  FROM v
), q AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS qv
  FROM s
)
SELECT vec_id,
       ROUND(scale, 8) AS scale8,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max,
       CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
       ROUND(list_sum(list_transform(range(1, len(e) + 1),
                                     i -> abs(e[i] - qv[i] * scale)))
             / len(e), 6) AS mean_abs_err
FROM q
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization (functions/vector.py): per-vector
    scale, quantized extrema, exact integer L1 mass, and the mean absolute
    reconstruction error — the compression stage a 100 TB embedding store
    runs at ingest (4x smaller scans; float rerank only on the short list)."""
    emb = _emb(spark, sf_dir)
    d = emb.select(
        "vec_id",
        V.as_double_array("embedding").alias("e"),
        V.int8_scale("embedding").alias("scale"),
    )
    d = d.withColumn("qv", V.int8_quantize(F.col("e"), F.col("scale")))
    err_sum = F.aggregate(
        F.zip_with("e", "qv", lambda x, q: F.abs(x - q * F.col("scale"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return d.select(
        "vec_id",
        F.round("scale", 8).alias("scale8"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
        F.round(err_sum / F.size("e"), 6).alias("mean_abs_err"),
    )


@query("quantized_knn_rerank", oracle=_KNN_ORACLE.format(nq=N_QUERIES, k=TOP_K))
def q_quantized_knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: int8 shortlist scan + exact float64 rerank
    (operators/knn.py knn_quantized_rerank).  With a 4k shortlist the
    rerank recovers the exact top-k on this corpus, so the EXACT-kNN
    oracle doubles as a recall@k == 1.0 assertion — any shortlist miss
    shows up as a hash mismatch."""
    from crawling_vectordb_llm_spark.operators.knn import knn_quantized_rerank

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_quantized_rerank(queries, emb, k=TOP_K, corpus_id="vec_id")
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "score"
    )


@query("pq_knn_rerank", oracle=_KNN_ORACLE.format(nq=N_QUERIES, k=TOP_K))
def q_pq_knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/pq.py): 8 subvector codebooks of 64
    codes compress each 64-d vector to 8 bytes (32x less scan than float32),
    ADC table-lookup scoring builds the shortlist, exact float64 rerank
    restores the true top-k.  Oracle = exact kNN, so a shortlist recall
    miss is a hash mismatch — same gate as quantized_knn_rerank.
    Gate sizing: on the isotropic hash-embedding fixture (no cluster
    structure — PQ's worst case) the measured worst true-top-5 ADC rank
    at sf0.1 is ~1100/2000 with 16 codes but 150/2000 with 64 (ADVICE r3
    repartition fix shifted the draw and exposed the old 128-shortlist
    as luck; r4 pinned 64 codes + fixed 512).  Since r5 the shortlist is
    ADAPTIVE — ceil(0.15 * corpus_rows), 2x the measured worst fraction,
    scaling with n instead of over-fetching (the fixed 512 did ~1.7x the
    rerank work this corpus needs; the fraction is scale-free on
    isotropic geometry so the margin holds at every sf)."""
    from crawling_vectordb_llm_spark.operators.pq import pq_knn_rerank

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_knn_rerank(
        queries, emb, k=TOP_K, shortlist=None, n_codes=64, corpus_id="vec_id"
    )
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "score"
    )


def _late_interaction_oracle(k_chunks: int = 64, k_docs: int = 3) -> str:
    """Replay chunking (1-based 150-char steps, 200-char substr — the
    exact chunk_documents arithmetic), md5-embed every chunk and query,
    per-query top-`k_chunks` chunk candidates (tie-break = chunk_key
    string order, matching Spark), ColBERT-style max-pool to doc level,
    top-`k_docs`."""
    chunks_src = (
        "SELECT doc_id || '#' || CAST((u.start - 1) // 150 AS VARCHAR) AS id, "
        "substr(text, CAST(u.start AS INT), 200) AS txt "
        "FROM documents, "
        "unnest(generate_series(1, greatest(length(text), 1), 150)) AS u(start)"
    )
    queries_src = (
        "SELECT doc_id AS id, substr(text, 1, 200) AS txt "
        "FROM documents WHERE doc_id < 5"
    )
    return f"""
WITH {_md5_embed_fragment(chunks_src, "cemb")},
{_md5_embed_fragment(queries_src, "qemb")},
cand AS (
  SELECT q.id AS query_id, c.id AS chunk_key,
         list_cosine_similarity(q.e, c.e) AS s
  FROM qemb q CROSS JOIN cemb c
), topc AS (
  SELECT query_id, chunk_key, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, chunk_key ASC) AS rn
  FROM cand
), pooled AS (
  SELECT query_id,
         CAST(string_split(chunk_key, '#')[1] AS BIGINT) AS doc_id,
         MAX(ROUND(s, 6)) AS doc_score
  FROM topc WHERE rn <= {k_chunks}
  GROUP BY 1, 2
)
SELECT query_id, doc_id, doc_score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY doc_score DESC, doc_id ASC) AS INT)
         AS rank
FROM pooled
QUALIFY rank <= {k_docs}
"""


@query("late_interaction_search", oracle=_late_interaction_oracle())
def q_late_interaction_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector (late-interaction) retrieval, now oracle-gated
    end-to-end (chunking + md5-embed replay + max-pool in SQL) —
    documents are chunked (200 chars, 50 overlap), each CHUNK
    hash-embedded, and a doc's score for a query is the MAX over its
    chunk scores (ColBERT-style max-pool reduced to one vector per
    chunk).  Long documents stop losing to truncation: a match anywhere
    in the doc surfaces it.

    Scale shape: chunk explosion is map-only; chunk scoring reuses the
    per-partition GEMM + local-top-k combine (shuffle independent of
    corpus size); max-pool is one (query, doc) aggregation over the
    surviving candidates; rank-1 self-retrieval asserted in tests."""
    from crawling_vectordb_llm_spark.embedding import make_embed_udf
    from crawling_vectordb_llm_spark.operators.chunking import chunk_documents
    from crawling_vectordb_llm_spark.operators.topk import grouped_topk

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    embed = make_embed_udf(dim=64)
    chunks = chunk_documents(docs, size=200, overlap=50).select(
        "doc_id",
        F.concat_ws("#", F.col("doc_id"), F.col("chunk_id")).alias("chunk_key"),
        embed(F.col("chunk_text")).alias("vector"),
    )
    queries = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"),
        embed(F.substring("text", 1, 200)).alias("query_vec"),
    )
    # per-chunk top-64 candidates per query, then max-pool to doc level
    hits = knn_join_numpy(
        queries, chunks, k=64, corpus_id="chunk_key", corpus_vec="vector"
    )
    doc_scores = (
        hits.withColumn(
            "doc_id", F.split("chunk_key", "#")[0].cast("long")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.max("score"), 6).alias("doc_score"))
    )
    return grouped_topk(
        doc_scores, ["query_id"], [F.desc("doc_score"), F.asc("doc_id")], 3
    )


def _mmr_oracle(k: int = 5, n_cand: int = 20, lam: float = 0.7) -> str:
    """Replay the greedy MMR loop by UNROLLING it: k chained CTE steps,
    each picking the argmax of lam·rel − (1−lam)·max-sim-to-selected over
    the not-yet-selected candidates (QUALIFY row_number) — greedy
    sequential selection needs no recursion when k is a literal.  The
    penalty weight is written `(1.0 - {lam})` so the oracle's double is
    bit-identical to Python's `1.0 - lam` (0.3 ≠ 1.0-0.7 in IEEE754!);
    ties break exactly like np.argmax over the (rel DESC, id ASC)-sorted
    candidate order: mmr DESC, rel DESC, doc_id ASC."""
    steps = []
    prevs = []
    for i in range(1, k + 1):
        if i == 1:
            steps.append(f"""sel1 AS (
  SELECT query_id, doc_id, s, {lam} * s AS mmr_raw, 1 AS r
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY {lam} * s DESC, s DESC, doc_id ASC) = 1
)""")
        else:
            prev_union = " UNION ALL ".join(
                f"SELECT query_id, doc_id FROM sel{j}" for j in range(1, i)
            )
            steps.append(f"""prev{i} AS (
  {prev_union}
), sel{i} AS (
  SELECT query_id, doc_id, s, mmr_raw, {i} AS r
  FROM (
    SELECT c.query_id, c.doc_id, c.s,
           {lam} * c.s - (1.0 - {lam}) * MAX(sm.sim) AS mmr_raw
    FROM cand c
    JOIN prev{i} p ON p.query_id = c.query_id
    JOIN sims sm ON sm.query_id = c.query_id
                AND sm.a_id = c.doc_id AND sm.b_id = p.doc_id
    LEFT JOIN prev{i} x ON x.query_id = c.query_id AND x.doc_id = c.doc_id
    WHERE x.doc_id IS NULL
    GROUP BY c.query_id, c.doc_id, c.s
  )
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY mmr_raw DESC, s DESC, doc_id ASC) = 1
)""")
        prevs.append(f"SELECT query_id, doc_id, s, mmr_raw, r FROM sel{i}")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS raw
  FROM embeddings q CROSS JOIN embeddings e
  WHERE q.vec_id < 5
), cand AS (
  SELECT query_id, doc_id, ROUND(raw, 6) AS s
  FROM (
    SELECT query_id, doc_id, raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY raw DESC, doc_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {n_cand}
), sims AS (
  SELECT c.query_id, c.doc_id AS a_id, d.doc_id AS b_id,
         list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                CAST(eb.embedding AS DOUBLE[])) AS sim
  FROM cand c
  JOIN cand d ON d.query_id = c.query_id AND d.doc_id <> c.doc_id
  JOIN embeddings ea ON ea.vec_id = c.doc_id
  JOIN embeddings eb ON eb.vec_id = d.doc_id
), {", ".join(steps)}
SELECT query_id, doc_id, s AS score,
       CAST(r AS INT) AS mmr_rank, ROUND(mmr_raw, 6) AS mmr_score
FROM ({" UNION ALL ".join(prevs)})
"""


@query("mmr_rerank_topk", oracle=_mmr_oracle())
def q_mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval, now oracle-gated (the greedy loop is
    unrolled into k chained SQL steps — see _mmr_oracle): exact kNN
    top-20 candidates per query, then greedy maximal-marginal-relevance
    pick of 5 inside applyInPandas (one shuffle on query_id; the N²
    novelty term runs over the bounded candidate set, never the corpus).
    Determinism and diversity-dominance stay pinned in tests."""
    from crawling_vectordb_llm_spark.operators.mmr import mmr_rerank

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cands = knn_join_numpy(
        queries, emb, k=20, corpus_id="vec_id", corpus_vec="embedding"
    ).select("query_id", F.col("vec_id").alias("doc_id"), "score")
    with_vecs = cands.join(
        emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vector")),
        "doc_id",
    )
    return mmr_rerank(with_vecs, k=5, lam=0.7)


@query(
    "hard_negative_mining",
    oracle="""
WITH scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         b.vec_id AS neg_id,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS score
  FROM embeddings a JOIN embeddings b
    ON a.label <> b.label AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 20
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                               ORDER BY score DESC, neg_id) AS rank
  FROM scored
)
SELECT anchor_id, anchor_label, neg_id, CAST(rank AS INT) AS rank, score
FROM ranked WHERE rank <= 3
""",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per anchor,
    the top-3 most-similar vectors with a DIFFERENT label — the pairs that
    teach a model the most.  Same broadcast-anchor × corpus scan shape as
    filtered kNN (the label predicate prunes before scoring); ranking is
    the standard per-group window with id tie-break."""
    emb = _emb(spark, sf_dir)
    anchors = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        V.as_double_array("embedding").alias("__qv"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        V.as_double_array("embedding").alias("__cv"),
    )
    scored = (
        F.broadcast(anchors)
        .join(
            corpus,
            (F.col("anchor_label") != F.col("neg_label"))
            & (F.col("anchor_id") != F.col("neg_id")),
        )
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            F.round(V.cosine(F.col("__qv"), F.col("__cv")), 6).alias("score"),
        )
    )
    from crawling_vectordb_llm_spark.operators.topk import grouped_topk

    return grouped_topk(
        scored, ["anchor_id"], [F.desc("score"), F.asc("neg_id")], 3
    ).select(
        "anchor_id",
        "anchor_label",
        "neg_id",
        F.col("rank").cast("int").alias("rank"),
        "score",
    )


@query(
    "context_budget_pack",
    oracle="""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS score,
         d.n_chars
  FROM embeddings a
  JOIN embeddings b ON a.vec_id <> b.vec_id
  JOIN documents d ON d.doc_id = b.vec_id
  WHERE a.vec_id < 5
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) AS rank
  FROM scored
), packed AS (
  SELECT *, SUM(n_chars) OVER (PARTITION BY query_id ORDER BY rank
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum_chars
  FROM ranked
)
SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score,
       CAST(cum_chars AS BIGINT) AS cum_chars
FROM packed WHERE cum_chars <= 6000
""",
)
def q_context_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context packing under a character budget: rank retrieved docs by
    similarity and keep the prefix whose cumulative length fits 6000 chars
    (the reference's truncation bound, Crawling.py:45) — budget-aware
    selection instead of the reference's blind per-doc truncate.  The
    ranking and cumsum share one query_id shuffle."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    docs = spark.read.parquet(table_path(sf_dir, "documents")).select(
        F.col("doc_id"), "n_chars"
    )
    anchors = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), V.as_double_array("embedding").alias("__qv")
    )
    corpus = emb.select(
        F.col("vec_id").alias("doc_id"), V.as_double_array("embedding").alias("__cv")
    )
    scored = (
        F.broadcast(anchors)
        .join(corpus, F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(V.cosine(F.col("__qv"), F.col("__cv")), 6).alias("score"),
        )
        .join(docs, "doc_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("int"))
    wc = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.withColumn("cum_chars", F.sum("n_chars").over(wc).cast("bigint"))
        .where(F.col("cum_chars") <= 6000)
        .select("query_id", "doc_id", "rank", "score", "cum_chars")
    )


_PAGERANK_TAIL = """
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT a AS u, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY a),
r0 AS (SELECT id, 1.0 / cnt AS r FROM nodes CROSS JOIN n),
c1 AS (SELECT e.b AS id, CAST(floor(r0.r / deg.d * 1e9 + 0.5) AS BIGINT) AS c
       FROM edges e JOIN r0 ON e.a = r0.id JOIN deg ON deg.u = e.a),
s1 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c1 GROUP BY id),
r1 AS (SELECT nodes.id, 0.15 / cnt + 0.85 * (COALESCE(s1.s, 0) / 1e9) AS r
       FROM nodes CROSS JOIN n LEFT JOIN s1 ON s1.id = nodes.id),
c2 AS (SELECT e.b AS id, CAST(floor(r1.r / deg.d * 1e9 + 0.5) AS BIGINT) AS c
       FROM edges e JOIN r1 ON e.a = r1.id JOIN deg ON deg.u = e.a),
s2 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c2 GROUP BY id),
r2 AS (SELECT nodes.id, 0.15 / cnt + 0.85 * (COALESCE(s2.s, 0) / 1e9) AS r
       FROM nodes CROSS JOIN n LEFT JOIN s2 ON s2.id = nodes.id),
c3 AS (SELECT e.b AS id, CAST(floor(r2.r / deg.d * 1e9 + 0.5) AS BIGINT) AS c
       FROM edges e JOIN r2 ON e.a = r2.id JOIN deg ON deg.u = e.a),
s3 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c3 GROUP BY id)
SELECT nodes.id AS vec_id,
       CAST(floor((0.15 / cnt + 0.85 * (COALESCE(s3.s, 0) / 1e9)) * 1e6 + 0.5)
            AS BIGINT) AS pr_e6
FROM nodes CROSS JOIN n LEFT JOIN s3 ON s3.id = nodes.id
"""


def _pagerank_query(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """3 power iterations of PageRank (damping 0.85) over an undirected
    pair list, fixed-pointed to integer nano-units per edge contribution
    so the result is bit-identical to the unrolled-CTE oracle."""
    nodes = emb.select(F.col("vec_id").alias("id"))
    n = nodes.count()
    edges = pairs.select(
        F.col("a_id").alias("a"), F.col("b_id").alias("b")
    ).unionAll(pairs.select(F.col("b_id").alias("a"), F.col("a_id").alias("b")))
    edges = edges.localCheckpoint()
    deg = edges.groupBy(F.col("a").alias("u")).agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    r = nodes.withColumn("r", F.lit(1.0 / n))
    for _ in range(3):
        # fixed-point nano-unit contributions: floor(x*1e9 + 0.5) is the
        # same IEEE op sequence in both engines (ROUND(double) is not —
        # BigDecimal-exact vs multiply-based implementations disagree on
        # the .5 boundaries this very rounding manufactures)
        contrib = (
            edges.join(F.broadcast(r), edges["a"] == r["id"])
            .join(F.broadcast(deg), edges["a"] == deg["u"])
            .select(
                F.col("b").alias("id"),
                F.floor(F.col("r") / F.col("d") * F.lit(1e9) + F.lit(0.5))
                .cast("bigint")
                .alias("c"),
            )
        )
        sums = contrib.groupBy("id").agg(F.sum("c").cast("bigint").alias("s"))
        r = nodes.join(sums, "id", "left").select(
            "id",
            (
                F.lit(0.15 / n)
                + F.lit(0.85) * (F.coalesce("s", F.lit(0)) / F.lit(1e9))
            ).alias("r"),
        )
    return r.select(
        F.col("id").alias("vec_id"),
        F.floor(F.col("r") * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("pr_e6"),
    )


@query(
    "similarity_pagerank",
    oracle="WITH " + BOUNDED_GRAPH_CTES + """,
nodes AS (SELECT vec_id AS id FROM embeddings),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
pairs AS (SELECT a_id AS a, b_id AS b FROM bounded_edges),"""
    + _PAGERANK_TAIL,
)
def q_similarity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank-style centrality over the BOUNDED similarity graph (r6 #1:
    top-k >=tau edges, linear in the corpus): 3 power iterations of
    PageRank (damping 0.85) — high-rank vectors sit in dense similarity
    neighborhoods, and on the k-NN graph those neighborhoods are exactly
    what survives the emission cap.  Cross-engine exactness via the same
    nano-unit fixed-point trick as the all-pairs variant; the oracle
    unrolls the same 3 iterations over the same bounded graph."""
    emb = _emb(spark, sf_dir)
    from crawling_vectordb_llm_spark.suite.dedup_suite import _bounded_edges

    pairs = _bounded_edges(emb).select("a_id", "b_id")
    return _pagerank_query(emb, pairs)


@query(
    "similarity_pagerank_allpairs",
    oracle="""
WITH nodes AS (SELECT vec_id AS id FROM embeddings),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.35
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
deg AS (SELECT a AS u, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY a),
r0 AS (SELECT id, 1.0 / cnt AS r FROM nodes CROSS JOIN n),
c1 AS (SELECT e.b AS id, CAST(floor(r0.r / deg.d * 1e9 + 0.5) AS BIGINT) AS c
       FROM edges e JOIN r0 ON e.a = r0.id JOIN deg ON deg.u = e.a),
s1 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c1 GROUP BY id),
r1 AS (SELECT nodes.id, 0.15 / cnt + 0.85 * (COALESCE(s1.s, 0) / 1e9) AS r
       FROM nodes CROSS JOIN n LEFT JOIN s1 ON s1.id = nodes.id),
c2 AS (SELECT e.b AS id, CAST(floor(r1.r / deg.d * 1e9 + 0.5) AS BIGINT) AS c
       FROM edges e JOIN r1 ON e.a = r1.id JOIN deg ON deg.u = e.a),
s2 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c2 GROUP BY id),
r2 AS (SELECT nodes.id, 0.15 / cnt + 0.85 * (COALESCE(s2.s, 0) / 1e9) AS r
       FROM nodes CROSS JOIN n LEFT JOIN s2 ON s2.id = nodes.id),
c3 AS (SELECT e.b AS id, CAST(floor(r2.r / deg.d * 1e9 + 0.5) AS BIGINT) AS c
       FROM edges e JOIN r2 ON e.a = r2.id JOIN deg ON deg.u = e.a),
s3 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c3 GROUP BY id)
SELECT nodes.id AS vec_id,
       CAST(floor((0.15 / cnt + 0.85 * (COALESCE(s3.s, 0) / 1e9)) * 1e6 + 0.5)
            AS BIGINT) AS pr_e6
FROM nodes CROSS JOIN n LEFT JOIN s3 ON s3.id = nodes.id
""",
)
def q_similarity_pagerank_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED variant: PageRank over the full tau=0.35 cosine graph —
    kept as the explicit all-pairs form (edge volume is the measured
    quadratic term; prefer `similarity_pagerank`, the bounded graph).
    Scale shape per iteration is unchanged: one edge-side join against
    the broadcast rank table plus one aggregation shuffle on the
    destination id."""
    emb = _emb(spark, sf_dir)
    pairs = threshold_similarity_join(emb, tau=0.35).select("a_id", "b_id")
    return _pagerank_query(emb, pairs)


_CROSS_ENCODER_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS s
  FROM q CROSS JOIN embeddings e
), ranked AS (
  SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC)
           AS r
  FROM scored
), shortlist AS (
  SELECT query_id, doc_id,
         CAST(FLOOR(ROUND(s, 6) * 1e6 + 0.5) AS BIGINT) AS retrieval_e6
  FROM ranked WHERE r <= 10
), toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE list_distinct(string_split_regex(
                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+'))
         END AS tok
  FROM documents
), ce AS (
  SELECT s.query_id, s.doc_id, s.retrieval_e6,
         CASE WHEN len(qt.tok) + len(dt.tok) = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR(2000000.0 * len(list_intersect(qt.tok, dt.tok))
                              / (len(qt.tok) + len(dt.tok)) + 0.5) AS BIGINT)
         END AS ce_e6
  FROM shortlist s
  JOIN toks qt ON qt.doc_id = s.query_id
  JOIN toks dt ON dt.doc_id = s.doc_id
)
SELECT query_id, doc_id, retrieval_e6, ce_e6,
       (retrieval_e6 + ce_e6) * 500000 AS blended_e12,
       CAST(row_number() OVER (
          PARTITION BY query_id
          ORDER BY (retrieval_e6 + ce_e6) DESC, doc_id ASC) AS INT) AS ce_rank
FROM ce
"""


@query("cross_encoder_rerank", oracle=_CROSS_ENCODER_ORACLE)
def q_cross_encoder_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precision tier of the retrieval stack, now oracle-gated
    (VERDICT r2 #3): exact cosine kNN builds a top-10 shortlist per query
    (queries = vectors 0..4, query text = the same-id document), then the
    cross-encoder pandas_udf scores each (query, doc) PAIR with the
    deterministic token-overlap Dice stand-in (a real model plugs into
    the same make_cross_encoder_udf seam) and the 50/50 blend re-ranks.

    All scores are emitted in FIXED-POINT (..._e6 / ..._e12 integers):
    Dice = floor(2e6·|q∩d| / (|q|+|d|) + 0.5) is the identical IEEE
    int→double→divide→floor sequence in Spark and DuckDB, and the blend
    (retrieval_e6 + ce_e6)·500000 is exact integer arithmetic — half of
    all blended values land exactly on a 6-dp rounding boundary (both
    addends live on the 1e-6 grid), where Spark's BigDecimal ROUND and
    DuckDB's multiply-based ROUND disagree, so double-rounding is the one
    thing this query must not do.  Pairwise cost is |queries| × k, never
    the corpus."""
    from crawling_vectordb_llm_spark.plans.rerank import (
        make_cross_encoder_udf,
    )

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    hits = knn_join_sql(queries, emb, k=10, corpus_id="vec_id").select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.floor(F.col("score") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("retrieval_e6"),
    )
    texts = docs.select("doc_id", "text")
    shortlist = hits.join(
        F.broadcast(
            texts.withColumnRenamed("doc_id", "query_id").withColumnRenamed(
                "text", "query_text"
            )
        ),
        "query_id",
    ).join(texts.withColumnRenamed("text", "doc_text"), "doc_id")

    def dice_e6(qs: list, ds: list) -> list:
        import math

        out = []
        for q, d in zip(qs, ds):
            a, b = set(q.split()), set(d.split())
            denom = len(a) + len(b)
            out.append(
                float(math.floor(2000000.0 * len(a & b) / denom + 0.5))
                if denom
                else 0.0
            )
        return out

    ce = make_cross_encoder_udf(dice_e6)
    scored = shortlist.withColumn(
        "ce_e6", ce(F.col("query_text"), F.col("doc_text")).cast("bigint")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.col("retrieval_e6") + F.col("ce_e6")), F.asc("doc_id")
    )
    return scored.select(
        "query_id",
        "doc_id",
        "retrieval_e6",
        "ce_e6",
        ((F.col("retrieval_e6") + F.col("ce_e6")) * F.lit(500000)).alias(
            "blended_e12"
        ),
        F.row_number().over(w).cast("int").alias("ce_rank"),
    )


_HAMMING_ORACLE = """
WITH words AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, 33),
           i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                     THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS w0,
         list_sum(list_transform(range(1, 33),
           i -> CASE WHEN CAST(embedding[i + 32] AS DOUBLE) > 0
                     THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS w1
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         bit_count(xor(q.w0, c.w0)) + bit_count(xor(q.w1, c.w1)) AS hamming
  FROM words q CROSS JOIN words c
  WHERE q.vec_id < 5
), ranked AS (
  SELECT query_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, CAST(hamming AS INT) AS hamming
FROM ranked WHERE rank <= 10
"""


@query("hamming_sign_ann", oracle=_HAMMING_ORACLE)
def q_hamming_sign_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization + Hamming top-k — the 32x storage
    reduction rung below int8/PQ on the quantization ladder: each 64-d
    float vector collapses to two 32-bit sign words packed in BIGINTs,
    search is XOR + popcount, and the whole pipeline (packing, distance,
    ranking) runs as JVM codegen with no Python and no float I/O.  At
    100 TB the packed-word table is the scan target (16 bytes/vector vs
    256) and this stage is the candidate generator in front of an exact
    rerank (knn_rerank_shortlist), exactly like the int8 path
    (knn_quantized_rerank).  Two 32-bit words rather than one 64-bit word
    keeps every shift below the sign bit — identical semantics in both
    engines — and generalizes to any dim/32 words."""
    from crawling_vectordb_llm_spark.operators.topk import grouped_topk

    emb = _emb(spark, sf_dir)
    words = emb.select("vec_id", V.sign_pack_words("embedding", 64).alias("w"))
    q = F.broadcast(
        words.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("w").alias("qw")
        )
    )
    scored = q.crossJoin(words).select(
        "query_id",
        "vec_id",
        V.hamming_distance("qw", "w").alias("hamming"),
    )
    return grouped_topk(
        scored, ["query_id"], [F.asc("hamming"), F.asc("vec_id")], 10
    ).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"),
        F.col("hamming").cast("int").alias("hamming"),
    )


@query("hamming_knn_rerank", oracle=_KNN_ORACLE.format(nq=N_QUERIES, k=TOP_K))
def q_hamming_knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN with the binary rung as stage 1: Hamming-over-sign-
    words shortlist (XOR+popcount codegen scan of 16-byte rows) → exact
    float64 cosine rerank of the shortlist only (shared
    knn_rerank_shortlist).  The oracle is EXACT kNN, so this entry is a
    recall=1.0 gate exactly like quantized_knn_rerank — if the sign-bit
    stage ever sheds a true top-3 neighbor at the fixture scale, the
    hash comparison fails.  Shortlist is SCALE-AWARE since r5:
    max(1024, ceil(0.15 n)).  The old fixed 200 was latently
    under-margined — measured worst true-top-3 hamming rank is 144/500
    (sf0.01, the only scale the driver oracle-checks), 640/2000
    (sf0.1, never oracle-checked), 1270/20000 on fresh-entropy sf1
    (0.064 n: the 64-bit sketch's contrast improves with n) — and the
    r4 replicated sf1 masked it because every vector had 10 hamming-0
    copies.  The floor covers every measured fixture; the 0.15 fraction
    (2.4x the sf1-fresh worst) governs at scale.  Economics unchanged:
    stage 1 scans 16 B/vector vs 256, stage 2 reranks shortlist only."""
    from crawling_vectordb_llm_spark.operators.knn import knn_rerank_shortlist
    from crawling_vectordb_llm_spark.operators.topk import (
        adaptive_shortlist,
        grouped_topk,
    )

    emb = _emb(spark, sf_dir)
    shortlist = adaptive_shortlist(emb.count(), floor=1024)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    words = emb.select("vec_id", V.sign_pack_words("embedding", 64).alias("w"))
    q = F.broadcast(
        words.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("w").alias("qw")
        )
    )
    scored = q.crossJoin(words).select(
        "query_id", "vec_id", V.hamming_distance("qw", "w").alias("h")
    )
    cand = grouped_topk(
        scored, ["query_id"], [F.asc("h"), F.asc("vec_id")], shortlist
    ).select("query_id", "vec_id")
    return knn_rerank_shortlist(
        cand, queries, emb, k=TOP_K, corpus_id="vec_id"
    ).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "score"
    )


_ROCCHIO_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), scored1 AS (
  SELECT q.query_id, e.vec_id, q.qv,
         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS s
  FROM q CROSS JOIN embeddings e
), ranked1 AS (
  SELECT query_id, vec_id, qv,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC)
           AS rank
  FROM scored1
), fb AS (
  SELECT r1.query_id, r1.qv,
         CAST(e1.embedding AS DOUBLE[]) AS v1,
         CAST(e2.embedding AS DOUBLE[]) AS v2,
         CAST(e3.embedding AS DOUBLE[]) AS v3
  FROM (SELECT query_id, qv, vec_id FROM ranked1 WHERE rank = 1) r1
  JOIN (SELECT query_id, vec_id FROM ranked1 WHERE rank = 2) r2 USING (query_id)
  JOIN (SELECT query_id, vec_id FROM ranked1 WHERE rank = 3) r3 USING (query_id)
  JOIN embeddings e1 ON e1.vec_id = r1.vec_id
  JOIN embeddings e2 ON e2.vec_id = r2.vec_id
  JOIN embeddings e3 ON e3.vec_id = r3.vec_id
), expanded AS (
  SELECT query_id,
         list_transform(range(1, len(qv) + 1),
           i -> 0.7 * qv[i] + 0.3 * ((v1[i] + v2[i] + v3[i]) / 3.0)) AS ev
  FROM fb
), scored2 AS (
  SELECT x.query_id, e.vec_id,
         list_cosine_similarity(x.ev, CAST(e.embedding AS DOUBLE[])) AS s
  FROM expanded x CROSS JOIN embeddings e
), ranked2 AS (
  SELECT query_id, vec_id, s,
         row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id ASC)
           AS rank
  FROM scored2
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank, ROUND(s, 6) AS score
FROM ranked2 WHERE rank <= 5
"""


@query("rocchio_expansion_search", oracle=_ROCCHIO_ORACLE)
def q_rocchio_expansion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio): retrieve top-3 per query,
    expand the query vector toward their elementwise mean (q' = 0.7·q +
    0.3·centroid), re-search with q' — the classic recall-improving
    second pass a RAG stack runs when first-pass retrieval is thin.  Two
    exact kNN passes composed entirely from JVM expressions; the top-3
    vectors join back by EXPLICIT rank (three equi-joins, not an
    aggregation) so the float summation order is pinned and the DuckDB
    oracle reproduces the expansion bit-for-bit.

    Scale shape: pass 1 is the broadcast-queries kNN (shuffle independent
    of corpus size); the feedback join touches k rows per query; pass 2
    re-broadcasts the 5 expanded vectors — corpus is never shuffled."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pass1 = knn_join_sql(q, emb, k=3, corpus_id="vec_id")

    def _vec_at(rank: int, alias: str) -> DataFrame:
        return (
            pass1.where(F.col("rank") == rank)
            .select("query_id", "vec_id")
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .select("query_id", V.as_double_array("embedding").alias(alias))
        )

    fb = (
        q.select("query_id", V.as_double_array("query_vec").alias("qv"))
        .join(_vec_at(1, "v1"), "query_id")
        .join(_vec_at(2, "v2"), "query_id")
        .join(_vec_at(3, "v3"), "query_id")
    )
    expanded = fb.select(
        "query_id",
        F.zip_with(
            F.col("qv"),
            # left-associative (v1+v2)+v3, matching the oracle's
            # v1[i]+v2[i]+v3[i] exactly — float + is non-associative, so
            # v1+(v2+v3) could drift 1 ulp and flip a 6-dp rounding edge
            # (ADVICE r2)
            F.zip_with(
                F.zip_with(F.col("v1"), F.col("v2"), lambda a, b: a + b),
                F.col("v3"),
                lambda a, b: a + b,
            ),
            lambda qx, sx: qx * 0.7 + (sx / 3.0) * 0.3,
        ).alias("query_vec"),
    )
    return knn_join_sql(expanded, emb, k=5, corpus_id="vec_id").select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "score"
    )


# ------------------------------------------------- ANN recall gates (r3)
#
# The ANN queries themselves (ann_ivf_topk / ann_ivfpq_topk / lsh_ann_topk)
# stay rows-only — their result sets are engine-specific by the nature of
# approximate search.  These companion queries graduate the OPERATORS to
# DuckDB-gated checks via the approx_distinct/HLL pattern (VERDICT r1 #6):
# Spark computes recall@10 against its own EXACT kNN in-query and emits a
# boolean that the value hash pins to TRUE, so the correctness artifact
# fails the moment an index regression drops recall below the gate.
# Thresholds carry real margin below measured recall at every fixture sf
# (ivf n_probe=8: 0.82-0.86; ivfpq n_probe=12/shortlist=256: 0.79-0.96;
# lsh: 0.70-1.0) because k-means assignment is float-order-sensitive
# run-to-run even with a fixed seed (LSH is fully seed-deterministic).


def _recall_gate(
    ann: DataFrame, exact: DataFrame, n_queries: int, k: int, threshold: float
) -> DataFrame:
    """mean recall@k of `ann` vs `exact` (both (query_id, vec_id)) as a
    single gated row — a broadcast-able self-contained check: both inputs
    are n_queries*k rows regardless of corpus size."""
    hits = ann.select("query_id", "vec_id").join(
        exact.select("query_id", "vec_id"), ["query_id", "vec_id"]
    )
    return hits.agg(
        F.lit(n_queries).cast("int").alias("n_queries"),
        F.lit(k).cast("int").alias("k"),
        (F.count(F.lit(1)) / (n_queries * k) >= threshold).alias("recall_ok"),
    )


_GATE_ORACLE = (
    "SELECT CAST(10 AS INT) AS n_queries, CAST(10 AS INT) AS k, "
    "TRUE AS recall_ok"
)


def _gate_queries(emb: DataFrame, n_queries: int = 10) -> DataFrame:
    """THE query set every recall gate and its exact baseline share — a
    single definition so the ANN side and the exact side can never
    silently diverge if the selection changes."""
    return emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _exact_top10(emb: DataFrame, n_queries: int = 10) -> DataFrame:
    return knn_join_numpy(
        _gate_queries(emb, n_queries), emb, k=10, corpus_id="vec_id"
    )


@query("ann_ivf_recall_gate", oracle=_GATE_ORACLE)
def q_ann_ivf_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN graduated to an oracle gate: n_probe=8 of 16 cells (half the
    corpus pruned) must keep mean recall@10 >= 0.7 vs exact GEMM kNN
    (measured 0.82-0.86 across sf0.001/0.01/0.1)."""
    from crawling_vectordb_llm_spark.operators.ivf import ivf_topk

    emb = _emb(spark, sf_dir)
    ann = ivf_topk(_gate_queries(emb), emb, k=10, n_centroids=16, n_probe=8)
    return _recall_gate(ann, _exact_top10(emb), n_queries=10, k=10, threshold=0.7)


@query("ann_ivfpq_recall_gate", oracle=_GATE_ORACLE)
def q_ann_ivfpq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ graduated to an oracle gate: coarse pruning (12/16 cells) +
    residual PQ ADC + scale-aware exact rerank must keep mean recall@10
    >= 0.65.  Shortlist = max(256, ceil(0.15 n)) since r5: the fixed 256
    was sized for <=2k corpora (measured 0.79-0.96 across driver sfs,
    0.92 at the checked sf0.01) but collapsed to 0.27 on the 20k
    fresh-entropy isotropic sf1 fixture — 16-code residual ADC keeps a
    roughly corpus-proportional candidate band, so the shortlist must
    track n (measured at n=20k: 256 -> 0.27, 2000 -> 0.67, 3000 -> 0.76;
    isotropic geometry is ADC's worst case, clustered corpora sit far
    higher — SCALE.md clustered measurement)."""
    from crawling_vectordb_llm_spark.operators.pq import ivfpq_topk

    emb = _emb(spark, sf_dir)
    from crawling_vectordb_llm_spark.operators.topk import adaptive_shortlist

    ann = ivfpq_topk(
        _gate_queries(emb), emb, k=10, n_centroids=16, n_probe=12,
        shortlist=adaptive_shortlist(emb.count(), floor=256),
    )
    return _recall_gate(ann, _exact_top10(emb), n_queries=10, k=10, threshold=0.65)


@query("lsh_ann_recall_gate", oracle=_GATE_ORACLE)
def q_lsh_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH ANN graduated to an oracle gate:
    6-table LSH top-10 (euclidean-on-normalized == cosine rank) must keep
    mean recall@10 >= 0.6 vs exact kNN.  Fully seed-deterministic
    (hyperplanes derive from seed=42); measured 0.70/0.70/1.0 at
    sf0.001/0.01/0.1."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from crawling_vectordb_llm_spark.operators.topk import grouped_topk

    emb = _emb(spark, sf_dir)
    feats = emb.select(
        "vec_id", array_to_vector(V.l2_normalize("embedding")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=0.5, numHashTables=6, seed=42,
    )
    model = lsh.fit(feats)
    queries = feats.join(
        _gate_queries(emb).select("query_id"),
        feats["vec_id"] == F.col("query_id"),
    ).select("query_id", "features")
    joined = model.approxSimilarityJoin(
        queries, feats, threshold=1.2, distCol="dist"
    ).select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("vec_id"),
        F.col("dist").alias("dist"),
    )
    ann = grouped_topk(joined, ["query_id"], [F.asc("dist"), F.asc("vec_id")], 10)
    return _recall_gate(ann, _exact_top10(emb), n_queries=10, k=10, threshold=0.6)


def _retrieval_eval_oracle(n_queries: int = 15, k: int = 10) -> str:
    """BM25-retrieval-vs-embedding-qrels IR metrics, replayed end-to-end
    in SQL: md5-embed cosine top-k (minus self) defines the relevant set,
    BM25 over each query doc's own distinct tokens (minus self) is the
    system under test, and recall/MRR/nDCG use the SAME 9-dp gain/IDCG
    literals the Spark operator bakes in (operators/eval.py) — no runtime
    log2 on either engine."""
    from crawling_vectordb_llm_spark.operators.eval import (
        dcg_gain_literals,
        idcg_literals,
    )

    frag = _md5_embed_fragment(
        "SELECT doc_id AS id, text AS txt FROM documents", "emb"
    )
    gains = ", ".join(
        f"({r + 1}, CAST('{g}' AS DECIMAL(18,9)))"
        for r, g in enumerate(dcg_gain_literals(k))
    )
    idcg_list = ", ".join(f"CAST('{v}' AS DECIMAL(18,9))" for v in idcg_literals(k))
    return f"""
WITH {frag}, vq AS (
  SELECT id AS query_id, e AS qv FROM emb WHERE id < {n_queries}
), vscored AS (
  SELECT vq.query_id, c.id AS doc_id,
         list_cosine_similarity(vq.qv, c.e) AS score
  FROM vq CROSS JOIN emb c WHERE c.id <> vq.query_id
), qrels AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id) AS rk
    FROM vscored) WHERE rk <= {k}
), toks AS (
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
), qterms AS (
  SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id < {n_queries}
), bpartial AS (
  SELECT q.query_id, tf.doc_id,
         CAST(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
              * (tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
              AS DECIMAL(18,9)) AS sc
  FROM qterms q
  JOIN tf ON tf.term = q.term AND tf.doc_id <> q.query_id
  JOIN dfreq d ON d.term = q.term
  JOIN dl ON dl.doc_id = tf.doc_id, stats s
), bscored AS (
  SELECT query_id, doc_id, ROUND(CAST(SUM(sc) AS DOUBLE), 6) AS score
  FROM bpartial GROUP BY 1, 2
), branks AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rk
  FROM bscored QUALIFY rk <= {k}
), gains(rank, gain) AS (VALUES {gains}),
n_rel AS (
  SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY query_id
), hits AS (
  SELECT b.query_id, b.rk FROM branks b JOIN qrels r USING (query_id, doc_id)
), agg AS (
  SELECT h.query_id, COUNT(*) AS n_hits, MIN(h.rk) AS first_rank,
         SUM(g.gain) AS dcg
  FROM hits h JOIN gains g ON g.rank = h.rk GROUP BY h.query_id
)
SELECT n.query_id,
       ROUND(COALESCE(a.n_hits, 0) / LEAST(n.n_rel, {k}), 6) AS recall_at_k,
       ROUND(COALESCE(1.0 / a.first_rank, 0.0), 6) AS mrr,
       ROUND(COALESCE(CAST(a.dcg AS DOUBLE), 0.0)
             / CAST(list_extract([{idcg_list}],
                                 LEAST(n.n_rel, {k})) AS DOUBLE), 6) AS ndcg
FROM n_rel n LEFT JOIN agg a USING (query_id)
"""


@query("retrieval_eval_bm25", oracle=_retrieval_eval_oracle())
def q_retrieval_eval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed IR evaluation (operators/eval.py): embedding-cosine
    top-10 (self excluded) is the relevance ground truth, BM25 retrieval
    from each query doc's own token set (self excluded) is the system
    under test, and recall@10 / MRR@10 / nDCG@10 come out per query —
    the metric layer every retriever in this engine (exact, IVF, PQ,
    LSH, Hamming, hybrid) can be tuned against at corpus scale."""
    from crawling_vectordb_llm_spark.operators.bm25 import bm25_scores
    from crawling_vectordb_llm_spark.operators.eval import retrieval_metrics
    from crawling_vectordb_llm_spark.operators.topk import grouped_topk

    n_queries, k = 15, 10
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    embed = make_embed_udf(dim=64)
    emb = docs.select("doc_id", embed(F.col("text")).alias("v"))
    q = F.broadcast(
        emb.where(F.col("doc_id") < n_queries).select(
            F.col("doc_id").alias("query_id"),
            V.as_double_array("v").alias("qv"),
        )
    )
    c = emb.select("doc_id", V.as_double_array("v").alias("cv"))
    vscored = (
        q.crossJoin(c)
        .where(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id", V.cosine("qv", "cv").alias("score"))
    )
    qrels = grouped_topk(
        vscored, ["query_id"], [F.desc("score"), F.asc("doc_id")], k
    ).select("query_id", "doc_id")

    qterms = (
        docs.where(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split("text", " ")).alias("term"),
        )
    )
    retrieved = grouped_topk(
        bm25_scores(docs, qterms).where(F.col("doc_id") != F.col("query_id")),
        ["query_id"],
        [F.desc("score"), F.asc("doc_id")],
        k,
    )
    return retrieval_metrics(retrieved, qrels, k)


@query(
    "centroid_classifier_assign",
    oracle="""
WITH anchors AS (
  SELECT vec_id AS aid, CAST(embedding AS DOUBLE[]) AS av
  FROM embeddings WHERE vec_id < 10
), lab AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         (SELECT a.aid FROM anchors a
          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av) DESC,
                   a.aid ASC
          LIMIT 1) AS cls
  FROM embeddings e
), cent AS (
  SELECT l.cls, d.dim,
         ROUND(CAST(SUM(CAST(l.v[d.dim] AS DECIMAL(18,9))) AS DOUBLE)
               / COUNT(*), 6) AS val
  FROM lab l, generate_series(1, 64) AS d(dim)
  WHERE l.vec_id % 5 <> 0
  GROUP BY l.cls, d.dim
), carr AS (
  SELECT cls, list(val ORDER BY dim) AS cvec FROM cent GROUP BY cls
), scored AS (
  SELECT l.vec_id, l.cls AS true_cls, c.cls,
         list_cosine_similarity(l.v, c.cvec) AS raw,
         row_number() OVER (
           PARTITION BY l.vec_id
           ORDER BY list_cosine_similarity(l.v, c.cvec) DESC, c.cls ASC) AS rn
  FROM lab l CROSS JOIN carr c
  WHERE l.vec_id % 5 = 0
)
SELECT vec_id, CAST(cls AS BIGINT) AS pred_class,
       ROUND(raw, 6) AS score,
       (cls = true_cls) AS correct
FROM scored WHERE rn = 1
""",
)
def q_centroid_classifier_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification — the workhorse taxonomy /
    domain labeler of large-scale curation.  The class structure is
    geometric (the fixture's `label` column is random, so it would only
    measure chance): every vector's TRUE class is its cosine-nearest of
    10 anchor vectors (vec_id<10, a fixed Voronoi partition), centroids
    are trained on the vec_id%5!=0 split only, and each held-out vector
    is assigned to the nearest learned centroid — `correct` measures
    real train/held-out generalization (~0.48 at sf0.01 vs 0.10 chance;
    cells and their means genuinely disagree under cosine, so the op is
    not self-fulfilling).  Centroid values go through decimal-exact sums
    rounded at 6 dp (the centroid_per_label convention), so both engines
    score against bit-identical centroids and the argmax is stable
    cross-engine.

    Scale shape: labeling is a broadcast-cross against 10 anchor rows +
    per-row argmax (map-only); training is one (class, dim)-keyed
    partial-aggregable shuffle over exploded vectors; assignment is a
    second broadcast-cross against the #classes-row centroid table with
    max_by argmax — no window over the corpus, no driver collect; the
    exact plan that survives a 100 TB corpus with a fixed label set."""
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = vecs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("aid"), F.col("v").alias("av")
    )
    # true class: cosine-nearest anchor (argmax via max_by, tie -> lower aid).
    # Materialized once: both the centroid-training branch and the held-out
    # branch read `lab`, and without the checkpoint the whole anchor-labeling
    # broadcast-cross would execute twice (verified in the PLANS.md audit)
    lab = (
        vecs.crossJoin(F.broadcast(anchors))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("aid"),
                F.struct(
                    V.cosine(F.col("v"), F.col("av")).alias("s"),
                    (-F.col("aid")).alias("neg"),
                ),
            ).alias("cls"),
            F.first("v").alias("v"),
        )
    ).localCheckpoint()
    cent_vals = (
        lab.where(F.col("vec_id") % 5 != 0)
        .select("cls", F.posexplode("v"))
        .select(
            "cls",
            (F.col("pos") + 1).alias("dim"),
            F.col("col").cast("decimal(18,9)").alias("val"),
        )
        .groupBy("cls", "dim")
        .agg(
            F.round(F.sum("val").cast("double") / F.count(F.lit(1)), 6).alias("val")
        )
    )
    carr = cent_vals.groupBy("cls").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "val"))), lambda s: s["val"]
        ).alias("cvec")
    )
    held = lab.where(F.col("vec_id") % 5 == 0).select(
        "vec_id", F.col("cls").alias("true_cls"), "v"
    )
    scored = held.crossJoin(
        F.broadcast(carr.select(F.col("cls").alias("cand_cls"), "cvec"))
    ).withColumn("raw", V.cosine(F.col("v"), F.col("cvec")))
    best = scored.groupBy("vec_id", "true_cls").agg(
        F.max_by(
            F.struct(F.col("cand_cls").alias("pred_class"), F.col("raw")),
            F.struct(F.col("raw"), (-F.col("cand_cls")).alias("neg")),
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.pred_class").cast("bigint").alias("pred_class"),
        F.round(F.col("b.raw"), 6).alias("score"),
        (F.col("b.pred_class") == F.col("true_cls")).alias("correct"),
    )
