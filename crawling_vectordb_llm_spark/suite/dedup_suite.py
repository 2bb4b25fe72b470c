"""Deduplication queries (north-star ops): exact, n-gram Jaccard,
embedding-cosine near-dup (oracle-checked) + MinHash-LSH and SimHash
(rows-only — engine-specific hashes; verified by property tests instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import table_path
from crawling_vectordb_llm_spark.operators import dedup as D
from crawling_vectordb_llm_spark.operators.knn import threshold_similarity_join
from crawling_vectordb_llm_spark.suite.registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(table_path(sf_dir, "documents"))


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash — one shuffle of (hash, id)."""
    return D.exact_dedup_groups(_docs(spark, sf_dir))


@query(
    "paragraph_dedup",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), c AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ') AS chunk
  FROM t, unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS u(i)
  WHERE array_to_string(list_slice(ws, i * 10 + 1, i * 10 + 10), ' ') <> ''
), r AS (
  SELECT *, row_number() OVER (PARTITION BY chunk
                               ORDER BY doc_id, chunk_idx) AS rn
  FROM c
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                           ORDER BY chunk_idx), '') AS kept_text
FROM r GROUP BY doc_id
""",
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup (operators/dedup.py paragraph_dedup):
    split docs into 10-word chunks, keep each distinct chunk's globally
    first occurrence, reassemble surviving text per doc."""
    return D.paragraph_dedup(_docs(spark, sf_dir), chunk_words=10)


@query(
    "ngram_jaccard_pairs",
    oracle="""
WITH sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
         )) AS shingles
  FROM documents
  WHERE doc_id < 60 AND len(string_split(text, ' ')) >= 3
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       ROUND(len(list_intersect(a.shingles, b.shingles))
             / GREATEST(len(list_distinct(list_concat(a.shingles, b.shingles))), 1), 6)
         AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
""",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard over same-lang pairs (bounded subset —
    the exact-verify stage of the near-dup pipeline)."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 60)
    sh = d.select(
        "doc_id", "lang", D.word_shingles("text", 3).alias("shingles")
    ).where(F.size("shingles") > 0)
    a = sh.select(
        F.col("doc_id").alias("a_id"), F.col("lang"), F.col("shingles").alias("a_sh")
    )
    b = sh.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("shingles").alias("b_sh"),
    )
    return (
        a.join(b, (a["lang"] == b["b_lang"]) & (a["a_id"] < b["b_id"]))
        .select(
            "a_id", "b_id", D.ngram_jaccard(F.col("a_sh"), F.col("b_sh")).alias("jaccard")
        )
    )


# --- bounded similarity graph (VERDICT r6 #1) -------------------------------
# At a loose tau the >=tau PAIR VOLUME is quadratic in the corpus (r6
# three-point bench: marginal exponent 2.0 exactly — 4,470 → 3.84M edges
# for 30× data), so every all-pairs consumer dies at 100× scale no matter
# how good its plan is.  The headline graph/dedup consumers below now run
# on the BOUNDED graph — each item's top-k cosine neighbors at >= tau,
# union-symmetrized — whose size is <= n·k, linear.  The old unbounded
# forms are kept as explicit `_allpairs` variants.
TOPK_K = 10
TOPK_TAU = 0.35

# Shared DuckDB CTE chain computing the same bounded graph: rank every
# directed >=tau pair per item on (6-dp score DESC, neighbor ASC) — the
# operator's exact total order — keep rank <= k, symmetrize via
# LEAST/GREATEST + DISTINCT.  Compose as "WITH " + CTES (or
# "WITH RECURSIVE " for fixpoint consumers).
BOUNDED_GRAPH_CTES = """scored AS (
  SELECT a.vec_id AS item_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS s
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= {tau}
), ranked AS (
  SELECT item_id, neighbor_id, ROUND(s, 6) AS score,
         row_number() OVER (PARTITION BY item_id
                            ORDER BY ROUND(s, 6) DESC, neighbor_id ASC) AS rnk
  FROM scored
), bounded_edges AS (
  SELECT DISTINCT LEAST(item_id, neighbor_id) AS a_id,
                  GREATEST(item_id, neighbor_id) AS b_id, score
  FROM ranked WHERE rnk <= {k}
)""".format(tau=TOPK_TAU, k=TOPK_K)


def _bounded_edges(emb: DataFrame) -> DataFrame:
    """The bounded k-NN graph every headline consumer runs on, via the
    HYBRID dispatch (r9): `topk_similarity_self_join` routes small
    corpora to the exact triangular block-GEMM and large ones to the
    IVF-cell-pruned composition (`ivf_pruned_topk_join`, which itself
    falls back to the block grid when pruning would not pay; recall 1.0
    by the angular triangle inequality — outputs bit-identical, so the
    one oracle covers every path).  This recovers the r7
    small-corpus walls the unconditional IVF switch had regressed
    1.4–1.5× (VERDICT r8 'what's wrong'): sf1/sf3 fixtures
    (20k/60k vectors) stay on the IVF path, driver fixtures (<=2k) on
    the brute path (crossover re-measured at ≈25-40k in
    AB_HYBRID_r10.json after r9's slice-labeling bug, VERDICT r9).

    Exponent caveat (r11): the sf9 third point showed the IVF arm's
    two-point e≈1.0–1.1 was overhead amortization — on the isotropic
    fixtures the prune admits the full grid and compute is Θ(n²·d)
    for ANY exact method (admit_rate 1.0, EXP_SF9_DIAG_r11.json;
    e 1.41–1.83 at 60k→180k, AB_EXPONENT_SF9_r11.json).  With cluster
    structure (the real-encoder regime) the same step measures e≈1
    (CLUSTERED_SF9_r11.json); the r11 f32-prefilter kernel halves the
    structure-free constant (knn.py BRUTE_TOPK_MAX_ROWS block)."""
    from crawling_vectordb_llm_spark.operators.knn import (
        topk_edges,
        topk_similarity_self_join,
    )

    return topk_edges(
        topk_similarity_self_join(emb, k=TOPK_K, tau=TOPK_TAU)
    )


@query(
    "embedding_near_dup",
    oracle="WITH " + BOUNDED_GRAPH_CTES
    + "\nSELECT a_id, b_id, score FROM bounded_edges",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate EDGES, bounded emission (r6 #1):
    each vector's top-k >=tau neighbors, union-symmetrized — at most n·k
    edges at any corpus size, vs the quadratic all-pairs volume of
    `embedding_near_dup_allpairs`."""
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return _bounded_edges(emb)


@query(
    "embedding_near_dup_allpairs",
    oracle="""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.35
""",
)
def q_embedding_near_dup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED near-dup pairs — the explicit all-pairs variant.  Output
    is quadratic at a loose tau (measured e=2.0); prefer
    `embedding_near_dup` (top-k emission) at scale."""
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return threshold_similarity_join(emb, tau=0.35)


_CLUSTER_TAIL = """, sym AS (
  SELECT a_id AS a, b_id AS b FROM bounded_edges
  UNION SELECT b_id AS a, a_id AS b FROM bounded_edges
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
), labels AS (
  SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
"""


def _cluster_query(spark: SparkSession, pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """Edges → component labels → (vec_id, cluster_id, cluster_size)."""
    from pyspark.sql import Window

    from crawling_vectordb_llm_spark.operators.components import (
        connected_components,
    )

    labels = connected_components(pairs).withColumnRenamed("node", "vec_id")
    out = (
        emb.select("vec_id")
        .join(labels, "vec_id", "left")
        .select(
            "vec_id", F.coalesce("component", "vec_id").alias("cluster_id")
        )
    )
    return out.select(
        "vec_id",
        "cluster_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .alias("cluster_size"),
    )


@query(
    "dedup_clusters",
    oracle="WITH RECURSIVE " + BOUNDED_GRAPH_CTES + _CLUSTER_TAIL,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED near-dup clusters (r6 #1): top-k >=tau edges (linear in the
    corpus) → alternating large-star/small-star connected components →
    every vector labeled with its component min and the cluster size.
    Near-duplicates are, by definition, in each other's nearest
    neighborhoods, so the k-NN graph preserves exactly the dense clusters
    dedup cares about while dropping the quadratic weak-edge volume that
    buries the `_allpairs` form at 100× scale.  The oracle computes the
    same bounded graph + fixpoint as a recursive CTE."""
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = _bounded_edges(emb).select("a_id", "b_id")
    return _cluster_query(spark, pairs, emb)


@query(
    "dedup_clusters_allpairs",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.35
), sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
), labels AS (
  SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
""",
)
def q_dedup_clusters_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED variant: clusters over the full >=tau pair set.  The CC
    algorithm is the same O(log n)-round shuffle; the edge GENERATION is
    the quadratic term (measured e=2.0) — kept for parity/verification,
    not the scale path."""
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = threshold_similarity_join(emb, tau=0.35).select("a_id", "b_id")
    return _cluster_query(spark, pairs, emb)


@query(
    "ivf_pruned_near_dup",
    oracle="WITH " + BOUNDED_GRAPH_CTES + """
SELECT item_id, neighbor_id, CAST(rnk AS INT) AS rank, score
FROM ranked WHERE rnk <= {k}
""".format(k=TOPK_K),
)
def q_ivf_pruned_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates→verify near-dup with BOUNDED emission (r6 #1): IVF cells
    + angular-triangle-inequality prune generate candidate cell pairs
    (recall 1.0 by construction), each admitted block task emits only
    per-item local top-k, and a global merge ranks — output <= n·k
    directed edges.  Oracle = exact per-item rank filter over the full
    pair list; hash-matching it demonstrates the whole 100 TB
    candidates → verify → bounded-output shape end-to-end."""
    from crawling_vectordb_llm_spark.operators.ivf import ivf_pruned_topk_join

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return ivf_pruned_topk_join(emb, tau=TOPK_TAU, k=TOPK_K)


@query(
    "ivf_pruned_near_dup_allpairs",
    oracle="""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS score
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.35
""",
)
def q_ivf_pruned_near_dup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED variant of the composed candidates→verify pipeline
    (VERDICT r2 #2): IVF-pruned cell pairs, blocked exact GEMM verify,
    full >=tau emission.  Oracle = the full exact threshold join.  The
    candidate stage prunes compute, but OUTPUT volume is still the
    quadratic term at a loose tau — prefer `ivf_pruned_near_dup`."""
    from crawling_vectordb_llm_spark.operators.ivf import (
        ivf_pruned_threshold_join,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return ivf_pruned_threshold_join(emb, tau=0.35)


@query(
    "near_dup_pipeline_clusters",
    oracle="WITH RECURSIVE " + BOUNDED_GRAPH_CTES + _CLUSTER_TAIL,
)
def q_near_dup_pipeline_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL 100 TB embedding-dedup pipeline in one query, now with
    BOUNDED emission end-to-end (r6 #1): IVF-cell candidates →
    triangle-inequality prune → per-item top-k verify (output <= n·k) →
    union-symmetrize → alternating-star connected components → cluster
    labels + sizes.  Same oracle as dedup_clusters (bounded graph →
    recursive-CTE fixpoint), so the pruned front end provably loses
    nothing through the whole composition."""
    from crawling_vectordb_llm_spark.operators.ivf import ivf_pruned_topk_join
    from crawling_vectordb_llm_spark.operators.knn import topk_edges

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    directed = ivf_pruned_topk_join(emb, tau=TOPK_TAU, k=TOPK_K)
    pairs = topk_edges(directed).select("a_id", "b_id")
    return _cluster_query(spark, pairs, emb)


@query(
    "near_dup_pipeline_clusters_allpairs",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.35
), sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
), labels AS (
  SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
""",
)
def q_near_dup_pipeline_clusters_allpairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UNBOUNDED variant: IVF-pruned full >=tau pair emission → CC.  Kept
    for parity; the bounded `near_dup_pipeline_clusters` is the scale
    path."""
    from crawling_vectordb_llm_spark.operators.ivf import (
        ivf_pruned_threshold_join,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = ivf_pruned_threshold_join(emb, tau=0.35).select(
        "a_id", "b_id"
    )
    return _cluster_query(spark, pairs, emb)


def _portable_minhash_oracle(
    num_perm: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int = 50,
    tau: float = 0.2,
    pair_filter: str = "TRUE",
) -> str:
    """Generate the DuckDB replay of the ENTIRE MinHash ladder
    (operators/dedup.py minhash_near_dup_pairs): char-rolling shingle hashes,
    the (a·x+b) mod p permutation minima, the banded fold keys, the
    bucket-size flood cap, and the exact-Jaccard verify — every step
    bit-identical int64 arithmetic, so the LSH candidate generation
    itself (not just the verify) is value-checked."""
    P = D.MERSENNE31
    coeffs = D.perm_coeffs(num_perm)
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {P}))"
        for a, b in coeffs
    )

    def band_fold(b: int) -> str:
        expr = "CAST(0 AS BIGINT)"
        for r in range(rows_per_band):
            expr = f"(({expr}) * {D._BAND_C} + sig[{b * rows_per_band + r + 1}]) % {P}"
        return expr

    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, {band_fold(b)} AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
         )) AS shingles
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), h AS (
  SELECT doc_id, list_transform(shingles, s ->
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(s, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        (acc, x) -> (acc * {D._CHAR_B} + x) % {P})
  ) AS hs
  FROM sh
), sig AS (
  SELECT doc_id,
         [{sig_exprs}] AS sig
  FROM h
), banded AS (
{band_rows}
), buckets AS (
  SELECT band, band_hash FROM banded
  GROUP BY band, band_hash
  HAVING COUNT(*) BETWEEN 2 AND {max_bucket}
), cands AS (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
  FROM banded x
  JOIN buckets k ON x.band = k.band AND x.band_hash = k.band_hash
  JOIN banded y ON y.band = x.band AND y.band_hash = x.band_hash
                AND x.doc_id < y.doc_id
)
SELECT c.a_id, c.b_id,
       ROUND(len(list_intersect(a.shingles, b.shingles))
             / GREATEST(len(list_distinct(list_concat(a.shingles, b.shingles))), 1),
             6) AS jaccard
FROM cands c
JOIN sh a ON a.doc_id = c.a_id
JOIN sh b ON b.doc_id = c.b_id
WHERE len(list_intersect(a.shingles, b.shingles))
      / GREATEST(len(list_distinct(list_concat(a.shingles, b.shingles))), 1)
      >= {tau}
  AND ({pair_filter})
"""


@query(
    "incremental_near_dup",
    oracle=_portable_minhash_oracle(
        pair_filter="c.a_id % 2 = 1 OR c.b_id % 2 = 1"
    ),
)
def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup against a persisted LSH band index
    (operators/incremental_dedup.py): even-id docs play the
    already-indexed corpus, odd-id docs the incoming crawl batch.  Each
    doc is signed once; only buckets holding a batch doc emit pairs;
    the flood cap is evaluated on the COMBINED bucket membership — so
    the output is bit-identical to the full-corpus ladder restricted to
    pairs involving the batch, which is exactly what the oracle
    computes (same ladder replay, plus the odd-id pair filter)."""
    from crawling_vectordb_llm_spark.operators.incremental_dedup import (
        incremental_near_dup,
    )

    return incremental_near_dup(
        _docs(spark, sf_dir), F.col("doc_id") % 2 == 1, tau=0.2
    )


@query("minhash_lsh_near_dup", oracle=_portable_minhash_oracle())
def q_minhash_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) → LSH(8 bands × 4 rows) candidates →
    exact-Jaccard verify at tau=0.2.  The hash family is universal
    hashing over the Mersenne prime 2^31-1, so every stage — including
    the LSH bucketing itself — is reproduced bit-for-bit by the DuckDB
    oracle."""
    return D.minhash_near_dup_pairs(_docs(spark, sf_dir), tau=0.2)


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '', 'g') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(
                     regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')
         END AS tk
  FROM documents
), bits AS (
  -- bit j of a token's 64-bit hash = bit (j%8) of md5 byte j//8,
  -- recovered from the hex digest by pair arithmetic — exactly the
  -- little-endian first-8-bytes view simhash64 takes of md5
  SELECT doc_id,
    list_transform(range(0, 64), j ->
      CASE WHEN COALESCE(list_sum(list_transform(tk, t ->
        CASE WHEN (((strpos('0123456789abcdef', substr(md5(t), 2*(j//8)+1, 1))-1)*16
                   + (strpos('0123456789abcdef', substr(md5(t), 2*(j//8)+2, 1))-1))
                  >> (j % 8)) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
           THEN 1 ELSE 0 END) AS bv
  FROM toks
), banded AS (
  SELECT doc_id, bv, u.b AS band,
         list_sum(list_transform(range(0, 16),
                                 r -> bv[16*u.b + r + 1] * (1 << r))) AS key
  FROM bits, unnest([0, 1, 2, 3]) AS u(b)
), pairs AS (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
  FROM banded x
  JOIN banded y ON x.band = y.band AND x.key = y.key
               AND x.doc_id < y.doc_id
), hammed AS (
  SELECT p.a_id, p.b_id,
         CAST(list_sum(list_transform(range(0, 64), j ->
           CASE WHEN xa.bv[j+1] <> xb.bv[j+1] THEN 1 ELSE 0 END)) AS INT)
           AS hamming
  FROM pairs p
  JOIN bits xa ON xa.doc_id = p.a_id
  JOIN bits xb ON xb.doc_id = p.b_id
)
SELECT a_id, b_id, hamming FROM hammed WHERE hamming <= 3
"""


@query("simhash_near_dup", oracle=_SIMHASH_ORACLE)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 + banded hamming-ball candidates (≤ 3 bits), now
    oracle-gated: simhash64's token hash is md5-derived, so the oracle
    replays the per-bit ±1 vote, the sign, the four 16-bit pigeonhole
    band keys, and the exact hamming verify entirely in SQL — the sketch
    construction itself is value-checked, not just its planted-dup
    behavior."""
    sim = D.simhash64(_docs(spark, sf_dir))
    return D.simhash_near_dup_candidates(sim, max_hamming=3)


@query(
    "duplicate_ngram_spans",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 3),
           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' ')
         )) AS grams
  FROM documents WHERE len(string_split(text, ' ')) >= 5
), g AS (
  SELECT doc_id, unnest(grams) AS gram FROM sh
), agg AS (
  SELECT gram, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
  FROM g GROUP BY gram HAVING COUNT(*) >= 2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_docs DESC, gram) AS rank FROM agg
)
SELECT gram, n_docs, first_doc, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 50
""",
)
def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup signal (Lee et al., 'Deduplicating Training
    Data Makes Language Models Better'): 5-gram spans appearing in >= 2
    distinct documents, ranked by document frequency — the spans a
    substring-dedup pass would excise (vs the doc-level ladder above).
    One explode + one aggregation; the top-50 rank is a TakeOrdered +
    sorted-array posexplode (operators/topk.global_topk_ranked) — no
    global WindowExec anywhere in the plan (VERDICT r4 #8)."""
    from crawling_vectordb_llm_spark.operators.topk import global_topk_ranked

    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id", F.explode(D.word_shingles("text", 5)).alias("gram")
    )
    agg = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .where(F.col("n_docs") >= 2)
    )
    return global_topk_ranked(
        agg,
        [(-F.col("n_docs")).alias("neg_docs"), F.col("gram")],
        ["gram", "n_docs", "first_doc"],
        50,
    )


def _portable_minhash_clusters_oracle(tau: float = 0.2) -> str:
    """The portable-ladder pairs oracle wrapped with the recursive-CTE
    connected-components fixpoint and per-doc labeling — the text-side
    twin of the dedup_clusters oracle."""
    pairs_sql = _portable_minhash_oracle(tau=tau)
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
sym AS (
  SELECT a_id AS a, b_id AS b FROM pairs
  UNION
  SELECT b_id AS a, a_id AS b FROM pairs
), nodes AS (
  SELECT DISTINCT a AS id FROM sym
), reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
), labels AS (
  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
)
SELECT d.doc_id,
       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       (d.doc_id = COALESCE(l.cluster_id, d.doc_id)) AS is_canonical
FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
"""


@query("minhash_dedup_clusters", oracle=_portable_minhash_clusters_oracle())
def q_minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-dedup resolution path, now oracle-gated end-to-end
    via the portable hash family: MinHash → LSH candidates →
    exact-Jaccard verify (tau=0.2) → connected components → every doc
    labeled (cluster canonical = min doc_id, keep flag).  This is the
    pipeline a 100 TB corpus actually runs end-to-end; the oracle replays
    the whole ladder plus the recursive-CTE CC fixpoint."""
    from crawling_vectordb_llm_spark.operators.components import (
        connected_components,
    )

    docs = _docs(spark, sf_dir)
    pairs = D.minhash_near_dup_pairs(docs, tau=0.2).select(
        "a_id", "b_id"
    )
    labels = connected_components(pairs).withColumnRenamed("node", "doc_id")
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .withColumn("is_canonical", (F.col("doc_id") == F.col("cluster_id")))
    )


@query("semantic_dedup")
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/semdedup.py): k-means clusters over the
    embedding corpus, then a greedy intra-cluster cosine prune — drops
    documents semantically duplicating an already-kept lower id.  Not
    SQL-expressible (iterative float k-means + sequential greedy), so
    rows-only here; tests/test_semdedup.py pins planted-duplicate recall,
    lowest-id-wins election, determinism, and sub-cell safety."""
    from crawling_vectordb_llm_spark.operators.semdedup import semantic_dedup
    from crawling_vectordb_llm_spark.operators.topk import (
        adaptive_cluster_count,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return semantic_dedup(
        emb, tau=0.4, n_clusters=adaptive_cluster_count(emb.count()),
        seed=42,
    )


_TRIANGLE_TAIL = """, tri AS (
  SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
  FROM bounded_edges e1
  JOIN bounded_edges e2 ON e2.a_id = e1.b_id
  JOIN bounded_edges e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
)
SELECT node AS vec_id, COUNT(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri)
GROUP BY node
"""


@query(
    "triangle_count",
    oracle="WITH " + BOUNDED_GRAPH_CTES + _TRIANGLE_TAIL,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the BOUNDED similarity graph (r6 #1:
    top-k >=tau edges — at most n·k, so the wedge-join input is linear in
    the corpus instead of the measured-e=2.0 all-pairs volume).  Dense
    duplicate neighborhoods still show up as high triangle participation
    — a near-duplicate clique's edges are exactly its members' nearest
    neighbors.  The Spark side runs the degree-oriented wedge algorithm
    (skew-safe at 100 TB); the oracle is the naive id-ordered 3-way
    self-join over the same bounded graph, tractable at sf0.01."""
    from crawling_vectordb_llm_spark.operators.components import triangle_counts

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = _bounded_edges(emb).select("a_id", "b_id")
    return triangle_counts(pairs).select(
        F.col("node").alias("vec_id"), "n_triangles"
    )


@query(
    "triangle_count_allpairs",
    oracle="""
WITH pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.35
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node AS vec_id, COUNT(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri)
GROUP BY node
""",
)
def q_triangle_count_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED variant: triangles over the full >=tau graph.  Edge
    volume is the quadratic term; kept as the explicit all-pairs form."""
    from crawling_vectordb_llm_spark.operators.components import triangle_counts

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = threshold_similarity_join(emb, tau=0.35).select("a_id", "b_id")
    return triangle_counts(pairs).select(
        F.col("node").alias("vec_id"), "n_triangles"
    )


@query(
    "semantic_dedup_soundness",
    oracle="SELECT vec_id, TRUE AS ok FROM embeddings",
)
def q_semantic_dedup_soundness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup graduated to an oracle gate (r3): the verdict column set
    itself is not SQL-expressible (iterative k-means + greedy election),
    but its SOUNDNESS contract is checkable row-by-row in Spark and the
    value hash pins every row to ok=TRUE:

      * dropped rows must have a KEPT neighbor in the same ELECTION CELL
        (the `cell` key the operator itself ran the greedy pass in — the
        sub-split scope, not the whole centroid, so the gate stays exact
        even when an oversized cluster is id-hash split at scale) whose
        recomputed cosine is >= tau and equals the reported max_sim_kept
        to within one unit of the 6th decimal (the operator sums in numpy
        float64, the re-check in SQL zip_with float64 — a different
        summation order, so the last rounded digit may legally differ by
        one ulp-induced step);
      * kept rows must report the -1.0 sentinel;
      * the oracle's row count pins exactly-once coverage of the corpus.

    The re-verify join is dropped x kept WITHIN an election cell — the
    same O(sub-cell²) shape as the operator itself, so the gate scales
    wherever the operator does."""
    from crawling_vectordb_llm_spark.functions import vector as V
    from crawling_vectordb_llm_spark.operators.semdedup import semantic_dedup
    from crawling_vectordb_llm_spark.operators.topk import (
        adaptive_cluster_count,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    tau = 0.4
    verdicts = semantic_dedup(
        emb, tau=tau, n_clusters=adaptive_cluster_count(emb.count()),
        seed=42, include_cell=True,
    )
    with_vec = verdicts.join(emb.select("vec_id", "embedding"), "vec_id")
    kept = with_vec.where(F.col("keep")).select(
        F.col("cell").alias("k_cell"),
        F.col("embedding").alias("k_vec"),
    )
    dropped = with_vec.where(~F.col("keep"))
    # recompute every dropped row's best kept-neighbor cosine in its
    # election cell (kept and dropped are disjoint partitions of the
    # corpus, so the join can never self-match)
    best = (
        dropped.join(kept, dropped["cell"] == kept["k_cell"])
        .groupBy("vec_id", "max_sim_kept")
        .agg(
            F.round(
                F.max(V.cosine("embedding", "k_vec")), 6
            ).alias("best_kept_sim")
        )
        .select(
            "vec_id",
            (
                (F.col("best_kept_sim") >= tau - 1e-6)
                & (F.abs(F.col("best_kept_sim") - F.col("max_sim_kept")) <= 1.5e-6)
            ).alias("ok"),
        )
    )
    kept_ok = with_vec.where(F.col("keep")).select(
        "vec_id", (F.col("max_sim_kept") == F.lit(-1.0)).alias("ok")
    )
    return kept_ok.unionByName(best)


@query(
    "duplicate_span_excise",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), occ AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(list_slice(w, i, i + 4), ' ') AS gram
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM t)
), dup AS (
  SELECT gram, MIN(doc_id * 1000000 + pos) AS owner_key
  FROM occ GROUP BY gram HAVING COUNT(*) >= 2
), covered AS (
  SELECT doc_id, list_sort(list_distinct(list(cpos))) AS cov
  FROM (
    SELECT o.doc_id, unnest(range(o.pos, o.pos + 5)) AS cpos
    FROM occ o JOIN dup d USING (gram)
    WHERE o.doc_id * 1000000 + o.pos <> d.owner_key
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.w) AS INT) AS n_tokens,
       CAST(COALESCE(len(c.cov), 0) AS INT) AS n_excised,
       COALESCE(array_to_string(
         list_filter(
           list_transform(range(1, len(t.w) + 1),
                          i -> CASE WHEN c.cov IS NULL
                                      OR NOT list_contains(c.cov, i - 1)
                                    THEN t.w[i] END),
           x -> x IS NOT NULL),
         ' '), '') AS clean_text
FROM t LEFT JOIN covered c USING (doc_id)
""",
)
def q_duplicate_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup TRANSFORM (Lee et al. 2022) as a corpus pass:
    every 5-gram span occurring >= 2 times anywhere in the corpus is
    excised except its globally-first occurrence (min packed (doc, pos)
    key), and each document is reassembled without the covered tokens —
    the cleaned-corpus counterpart of the duplicate_ngram_spans signal.
    Four shuffles total (occurrence count+owner election, survivor
    join-back, per-doc covered-set regroup, final doc join), all JVM
    array exprs, no UDFs."""
    from crawling_vectordb_llm_spark.operators.dedup import (
        duplicate_span_excise,
    )

    return duplicate_span_excise(
        _docs(spark, sf_dir), n=5, min_count=2
    ).select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_excised").cast("int").alias("n_excised"),
        "clean_text",
    )


_SPLIT_CASE = """CASE WHEN substr(md5(CAST({col} AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
            WHEN substr(md5(CAST({col} AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
            ELSE 'test' END"""


@query(
    "leakage_safe_split",
    oracle="WITH RECURSIVE " + BOUNDED_GRAPH_CTES
    + """, sym AS (
  SELECT a_id AS a, b_id AS b FROM bounded_edges
  UNION SELECT b_id AS a, a_id AS b FROM bounded_edges
), reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
), labels AS (
  SELECT id AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY id
), assigned AS (
  SELECT vec_id, cluster_id,
         """ + _SPLIT_CASE.format(col="cluster_id") + """ AS split,
         """ + _SPLIT_CASE.format(col="vec_id") + """ AS naive_split
  FROM labels
), leak AS (
  SELECT cluster_id, (COUNT(DISTINCT naive_split) > 1) AS cluster_leaky
  FROM assigned GROUP BY cluster_id
)
SELECT a.vec_id, a.cluster_id, a.split, a.naive_split, k.cluster_leaky
FROM assigned a JOIN leak k ON a.cluster_id = k.cluster_id
""",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster-aware train/val/test split — the leakage-proof
    refinement of `hash_split_train_val`: near-duplicate documents MUST
    land in the same split (a test doc whose near-copy sits in train is
    contamination the benchmark can't see), so the routing hash is taken
    over the near-dup CLUSTER id, not the doc id.  Each vector reports
    its cluster, its cluster-routed split, the naive doc-id-routed split
    it would have gotten, and whether its cluster straddles splits under
    the naive rule (`cluster_leaky` — the rows that prove why
    cluster-aware routing matters; ~every multi-doc cluster has ~10%
    probability per extra member of leaking under naive hashing).

    Scale shape: bounded k-NN edges (n·k) → large-star/small-star CC →
    one groupBy(cluster) for the leak audit joined back on cluster_id —
    all shuffles are id-keyed and linear in the corpus; the md5 routing
    itself is a map-side expression exactly as in hash_split_train_val,
    so the split stays deterministic across engines, reruns, and corpus
    versions."""
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = _bounded_edges(emb).select("a_id", "b_id")
    from crawling_vectordb_llm_spark.operators.components import (
        connected_components,
    )

    labels = connected_components(pairs).withColumnRenamed("node", "vec_id")
    assigned = (
        emb.select("vec_id")
        .join(labels, "vec_id", "left")
        .select(
            "vec_id", F.coalesce("component", "vec_id").alias("cluster_id")
        )
    )

    def _split(col: str) -> F.Column:
        h2 = F.substring(F.md5(F.col(col).cast("string")), 1, 2)
        return (
            F.when(h2 < "e6", "train").when(h2 < "f3", "val").otherwise("test")
        )

    assigned = assigned.select(
        "vec_id",
        "cluster_id",
        _split("cluster_id").alias("split"),
        _split("vec_id").alias("naive_split"),
    )
    leak = assigned.groupBy("cluster_id").agg(
        (F.countDistinct("naive_split") > 1).alias("cluster_leaky")
    )
    return assigned.join(leak, "cluster_id").select(
        "vec_id", "cluster_id", "split", "naive_split", "cluster_leaky"
    )


KCORE_K = 2
KCORE_ROUNDS = 16


def _kcore_oracle() -> str:
    """Unrolled-peel k-core oracle: exactly KCORE_ROUNDS degree-prune
    stages over the bounded near-dup graph.  Every stage CTE is
    MATERIALIZED — e{i} is referenced three times by stage i+1 (once
    directly, twice through n{i+1}), so plain CTE inlining would blow up
    3^rounds on the quadratic scored join (the bigram-oracle lesson,
    text_suite.py)."""
    parts = [
        "WITH ",
        BOUNDED_GRAPH_CTES,
        """, sym AS MATERIALIZED (
  SELECT a_id AS a, b_id AS b FROM bounded_edges
  UNION SELECT b_id AS a, a_id AS b FROM bounded_edges
), e0 AS MATERIALIZED (SELECT a, b FROM sym)""",
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""", n{i} AS MATERIALIZED (
  SELECT a AS id FROM e{i - 1} GROUP BY a HAVING COUNT(*) >= {KCORE_K}
), e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i - 1} e
  JOIN n{i} x ON e.a = x.id JOIN n{i} y ON e.b = y.id
)"""
        )
    parts.append(
        f"""
SELECT a AS vec_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{KCORE_ROUNDS} GROUP BY a
"""
    )
    return "".join(parts)


@query("kcore_spam_filter", oracle=_kcore_oracle())
def q_kcore_spam_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-core detection on the bounded near-dup graph: the k-core
    (k=2, 16-round peel budget) isolates cyclically-dense document
    groups where every member has >= 2 near-duplicate neighbors INSIDE
    the group (triangles and denser — isolated pairs and chains peel
    away; the fixture's planted dup clusters yield no 3-core, so k=2 is
    the smallest k that separates structure here, and k is a knob) — the standard graph-density spam signal that raw degree
    can't fake (a single hub page inflates degree; it cannot inflate its
    neighbors' mutual density).  Organic near-dup pairs and chains peel
    away; only genuinely dense duplication cores survive, each surviving
    vector reported with its in-core degree.

    The peel-round budget is part of the operator's semantics (pinned at
    16, `KCORE_ROUNDS`, so an unrolled SQL oracle replays it exactly); fixture graphs
    reach their fixpoint inside the budget (measured 10/9/3/1 rounds at
    sf0.001/sf0.01/sf0.1/fresh-sf1 — chain peeling removes two chain
    ends per round, so depth shrinks as planted clusters densify;
    asserted in tests/test_r8_ops.py), and at 100 TB the budget is a knob — each
    round costs one O(E) degree aggregation plus two node-set
    semi-joins, nothing scales with round count but wall time."""
    from crawling_vectordb_llm_spark.operators.components import kcore_nodes

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = _bounded_edges(emb).select("a_id", "b_id")
    out = kcore_nodes(pairs, k=KCORE_K, rounds=KCORE_ROUNDS)
    return out.select(F.col("node").alias("vec_id"), "core_degree")
