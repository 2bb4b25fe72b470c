"""k-nearest-neighbor search operators (batch ANN build).

The reference's core query op is `coll.searchByText(embeddingItems=[txt],
limit=3, params=SearchParams(ef=100))` — server-side HNSW, COSINE, top-3
(reference main_server.py:40-44; index DDL TencentVDB.py:46).  Spark has no
online ANN index, so the engine provides batch equivalents:

1. `knn_join_sql`    — exact, pure-SQL cosine (codegen path).  Broadcast the
                       query set, score every (query, doc) pair JVM-side,
                       rank with a window.  The right plan when the query
                       set is small (it is: a broadcast hint keeps the big
                       corpus side shuffle-free until the tiny ranked
                       output).
2. `knn_join_numpy`  — exact, Arrow/numpy matrix path.  Per corpus
                       partition, one float64 GEMM scores the partition
                       against all queries, and only each partition's local
                       top-k survives — a map-side combine that shrinks the
                       shuffle from |corpus|×|queries| rows to
                       |partitions|×|queries|×k before the final window.
                       This is the 100 TB plan: shuffle size is independent
                       of corpus size.
3. `threshold_similarity_join` — all pairs with cosine >= tau (the range-
                       join flavor, SURVEY §2.5), used by near-dup dedup.
4. `ivf` (operators/ivf.py) — the approximate scale path: k-means
                       centroids, partition-by-centroid, probe nProbe cells.

Scores are computed in float64 and tie-broken by (score DESC, id ASC) so
output is deterministic (SURVEY §7 hard parts b/c).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.functions import vector as V
from crawling_vectordb_llm_spark.operators.topk import (
    DEFAULT_MAX_QUERY_ROWS,
    collect_query_rows,
    grouped_topk,
)


def knn_join_sql(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "doc_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Exact top-k cosine per query, entirely in Spark SQL expressions.

    Plan shape: BroadcastNestedLoopJoin(queries) over the corpus scan →
    codegen cosine → shuffle only on query_id for the rank window.  The
    expensive cross product never shuffles; it streams corpus partitions
    against the broadcast query table.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id), V.as_double_array(query_vec).alias("__qv")
        )
    )
    c = corpus.select(F.col(corpus_id), V.as_double_array(corpus_vec).alias("__cv"))
    scored = q.crossJoin(c).select(
        query_id,
        corpus_id,
        V.cosine(F.col("__qv"), F.col("__cv")).alias(score_col),
    )
    return grouped_topk(
        scored, [query_id], [F.desc(score_col), F.asc(corpus_id)], k
    ).select(query_id, corpus_id, "rank", F.round(score_col, 6).alias(score_col))


def knn_join_numpy(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "doc_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact top-k cosine via per-partition GEMM + local top-k.

    The query matrix is collected (it is the small side by contract — the
    reference issues one query text at a time; batches of ≤ ~100k queries ×
    64-1024 dims fit comfortably) and closed over; Spark pickles it once per
    task, and each Arrow batch is scored with one float64 matrix multiply.
    Emitting only the per-batch top-k is the map-side combine that keeps the
    final shuffle tiny at any corpus size.  The contract is now ENFORCED:
    a query side over max_query_rows raises instead of OOM-ing the driver
    (VERDICT r5 #3).
    """
    qrows = collect_query_rows(
        queries, query_id, query_vec, max_query_rows, caller="knn_join_numpy"
    )
    return knn_topk_matrix(
        np.array([r[0] for r in qrows]),
        np.array([r[1] for r in qrows], dtype=np.float64),
        corpus,
        k,
        query_id=query_id,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        score_col=score_col,
        query_id_type=queries.schema[query_id].dataType.simpleString(),
    )


def knn_topk_matrix(
    qids: np.ndarray,
    qmat: np.ndarray,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "doc_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
    query_id_type: str = "bigint",
) -> DataFrame:
    """knn_join_numpy's kernel over a query matrix already on the driver
    (row i of `qmat` is query `qids[i]`).  Callers that encode their
    queries on the driver (VectorCollection.search_by_text) enter here
    and skip the DataFrame round trip and its collect job."""
    spark = corpus.sparkSession
    qmat = np.asarray(qmat, dtype=np.float64)
    qnorm = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
    bq = spark.sparkContext.broadcast((qids, qnorm))

    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    out_schema = f"{query_id} {query_id_type}, {corpus_id} {cid_t}, {score_col} double"

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.array(list(pdf[corpus_vec]), dtype=np.float64)
            cn = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30)
            scores = qn @ cn.T  # (n_queries, batch)
            top = min(k, scores.shape[1])
            # local top-k per query within this batch
            idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            rows = {
                query_id: np.repeat(ids, top),
                corpus_id: pdf[corpus_id].to_numpy()[idx.ravel()],
                score_col: np.take_along_axis(scores, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    candidates = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score_partition, schema=out_schema
    )
    return grouped_topk(
        candidates, [query_id], [F.desc(score_col), F.asc(corpus_id)], k
    ).select(query_id, corpus_id, "rank", F.round(score_col, 6).alias(score_col))


def threshold_similarity_join(
    left: DataFrame,
    right: DataFrame | None,
    tau: float,
    left_id: str = "vec_id",
    left_vec: str = "embedding",
    right_id: str | None = None,
    right_vec: str | None = None,
    score_col: str = "score",
    strategy: str = "blocked",
    n_blocks: int | None = None,
    block_target_rows: int = 65_536,
    gemm_chunk_rows: int = 2_048,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """All pairs with cosine >= tau.  right=None → self-join (dedup shape):
    emits each unordered pair once (a_id < b_id).

    strategy="blocked" (default): EXACT distributed grid-blocked GEMM.
    Every id is hashed into one of P blocks; each row is shuffled to the
    block-PAIRS it participates in (triangular for the self-join: a row in
    block b is the A side of pairs (b, j>=b) and the B side of pairs
    (i<=b, b) — exactly P+1 copies per row regardless of b, so replication
    is even).  One `applyInPandas` task per block pair runs a chunked
    float64 GEMM and emits only the >= tau matches.  Nothing is ever
    collected to the driver and no side is broadcast, so the operator
    survives any corpus size: shuffle volume is (P+1)·n rows with
    P ≈ n / block_target_rows, the per-task score matrix is bounded by
    gemm_chunk_rows × block_target_rows, and compute parallelism is
    P(P+1)/2 tasks.  This is the semdedup.py cogroup-GEMM shape applied to
    an exact (unpruned) grid, per VERDICT r1 #1.

    strategy="broadcast" (alias "numpy", the r1 default): collect + broadcast
    the right side as one L2-normalized float64 matrix; each left partition
    does a single GEMM against it.  Fastest when the right side is small and
    guarded by `max_broadcast_rows` — exceeding it raises instead of
    OOM-ing the driver.

    strategy="sql": pure codegen zip_with/aggregate cosine over a broadcast
    nested-loop join — kept for the all-JVM plan shape.

    All strategies are exact and quadratic in compute; at 100 TB prefer a
    candidate generator (LSH bands, operators/dedup.py, or IVF cells,
    operators/ivf.py) to prune the pair space first, then verify with this
    operator on the candidates.
    """
    self_join = right is None
    right = left if right is None else right
    right_id = right_id or left_id
    right_vec = right_vec or left_vec

    if strategy == "sql":
        a = left.select(
            F.col(left_id).alias("a_id"), V.l2_normalize(left_vec).alias("__av")
        )
        b = right.select(
            F.col(right_id).alias("b_id"), V.l2_normalize(right_vec).alias("__bv")
        )
        pairs = F.broadcast(a).crossJoin(b)
        if self_join:
            pairs = pairs.where(F.col("a_id") < F.col("b_id"))
        return (
            pairs.withColumn(score_col, V.dot(F.col("__av"), F.col("__bv")))
            .where(F.col(score_col) >= tau)
            .select("a_id", "b_id", F.round(score_col, 6).alias(score_col))
        )

    if strategy in ("broadcast", "numpy"):
        return _threshold_join_broadcast(
            left, right, tau, self_join,
            left_id, left_vec, right_id, right_vec, score_col,
            max_broadcast_rows,
        )

    if strategy != "blocked":
        raise ValueError(f"unknown strategy {strategy!r}")

    aid_t = left.schema[left_id].dataType.simpleString()
    bid_t = right.schema[right_id].dataType.simpleString()

    if self_join:
        if n_blocks is None:
            n = left.count()
            n_blocks = _pick_blocks(
                n, block_target_rows, left.sparkSession.sparkContext.defaultParallelism
            )
        P = n_blocks
        blocked = left.select(
            F.col(left_id).alias("__id"),
            V.as_double_array(left_vec).alias("__v"),
            F.pmod(F.xxhash64(F.col(left_id)), F.lit(P)).cast("int").alias("__b"),
        )
        # triangular replication: pk encodes the ordered block pair (i, j), i<=j
        a_side = blocked.select(
            "__id", "__v", "__b",
            F.explode(F.sequence(F.col("__b"), F.lit(P - 1))).alias("__j"),
        ).select(
            "__id", "__v",
            (F.col("__b") * P + F.col("__j")).alias("__pk"),
            F.lit("a").alias("__role"),
        )
        b_side = blocked.select(
            "__id", "__v", "__b",
            F.explode(F.sequence(F.lit(0), F.col("__b"))).alias("__i"),
        ).select(
            "__id", "__v",
            (F.col("__i") * P + F.col("__b")).alias("__pk"),
            F.lit("b").alias("__role"),
        )
        replicated = a_side.unionByName(b_side)

        def _gemm_self(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            i, j = divmod(int(key[0]), P)
            if i == j:
                # diagonal pair: both roles carry the same block — use one copy
                a = pdf[pdf["__role"] == "a"]
                b = a
            else:
                a = pdf[pdf["__role"] == "a"]
                b = pdf[pdf["__role"] == "b"]
            out = _chunked_tau_gemm(
                a["__id"].to_numpy(), np.array(list(a["__v"]), dtype=np.float64),
                b["__id"].to_numpy(), np.array(list(b["__v"]), dtype=np.float64),
                tau, gemm_chunk_rows, triangular=(i == j), orient=True,
            )
            return pd.DataFrame(
                {"a_id": out[0], "b_id": out[1], score_col: out[2]}
            )

        return replicated.groupBy("__pk").applyInPandas(
            _gemm_self, schema=f"a_id {aid_t}, b_id {bid_t}, {score_col} double"
        )

    # distinct left/right relations: P x Q grid via cogroup
    if n_blocks is None:
        par = left.sparkSession.sparkContext.defaultParallelism
        nl, nr = left.count(), right.count()
        # grid tasks = P*Q; split the parallelism target across both axes
        side_par = max(1, int(par**0.5))
        P = _pick_blocks(nl, block_target_rows, side_par, triangular=False)
        Q = _pick_blocks(nr, block_target_rows, side_par, triangular=False)
    else:
        P = Q = n_blocks
    lrep = left.select(
        F.col(left_id).alias("__id"), V.as_double_array(left_vec).alias("__v"),
        F.pmod(F.xxhash64(F.col(left_id)), F.lit(P)).cast("int").alias("__b"),
        F.explode(F.sequence(F.lit(0), F.lit(Q - 1))).alias("__j"),
    ).select("__id", "__v", (F.col("__b") * Q + F.col("__j")).alias("__pk"))
    rrep = right.select(
        F.col(right_id).alias("__id"), V.as_double_array(right_vec).alias("__v"),
        F.pmod(F.xxhash64(F.col(right_id)), F.lit(Q)).cast("int").alias("__b"),
        F.explode(F.sequence(F.lit(0), F.lit(P - 1))).alias("__i"),
    ).select("__id", "__v", (F.col("__i") * Q + F.col("__b")).alias("__pk"))

    def _gemm_cross(key: tuple, lp: pd.DataFrame, rp: pd.DataFrame) -> pd.DataFrame:
        if len(lp) == 0 or len(rp) == 0:
            return pd.DataFrame({"a_id": [], "b_id": [], score_col: []})
        out = _chunked_tau_gemm(
            lp["__id"].to_numpy(), np.array(list(lp["__v"]), dtype=np.float64),
            rp["__id"].to_numpy(), np.array(list(rp["__v"]), dtype=np.float64),
            tau, gemm_chunk_rows, triangular=False, orient=False,
        )
        return pd.DataFrame({"a_id": out[0], "b_id": out[1], score_col: out[2]})

    return (
        lrep.groupBy("__pk")
        .cogroup(rrep.groupBy("__pk"))
        .applyInPandas(
            _gemm_cross, schema=f"a_id {aid_t}, b_id {bid_t}, {score_col} double"
        )
    )


# Corpus-size threshold for the hybrid bounded-join dispatch: at or below
# this many vectors the exact triangular-grid GEMM is cheaper than paying
# IVF's k-means + cell-replication overhead; above it the Θ(n²·d) GEMM
# flops take over (brute marginal exponent 1.75, AB_EXPONENT_POST_r08 —
# vs ~1.0 IVF-composed).  Measured bracket at d=64 (AB_HYBRID_r10.json,
# interleaved 7-rep medians of per-rep ratios, fixed-size slices labeled
# by measured count — supersedes AB_HYBRID_r09.json, whose mid point a
# slice bug displaced to 16,362 rows and whose 5-rep 60k walls spanned
# 1.25–12.5 s): brute 2.34×/2.54×/2.86×/2.46× faster at
# n=2,000/8,165/12,232/16,362; 1.69× at 20,000; IVF 1.09×/1.13× faster
# at 40,798/60,000 — the d=64 crossover sits at ≈25–40k.  The threshold
# sits below that on purpose: the give-up is bounded at the measured
# ≈1.7× in the narrow 16k–25k window (seconds either way), while the
# payoff is that a by-name 100 TB caller is never on the e≈1.75 path —
# and the crossover is geometry-dependent (it shrinks as clustering
# strengthens or admit-rate falls; the isotropic fixture is IVF's worst
# case because the angular prune admits almost every cell pair).
# Dimension: measured at the reference's d=1024 operating point
# (AB_DIM_r10.json, hash-embedded document text, same interleaved
# protocol at 5 reps/side vs the d=64 run's 7), d does
# NOT simply cancel — IVF's k-means/replication overheads scale with d
# harder than BLAS GEMM does, so brute leads 3.40×/4.95×/3.04×/2.88× at
# n=2,015/8,226/16,513/20,147, converging to 1.20× at 60,020 (crossover
# above 60k at d=1024).  The dispatch therefore never slows the d=1024
# caller below the threshold (brute is the faster side everywhere
# there), and above it gives up a bounded, n-shrinking ≤2.9× constant
# in exchange for the prune's structure-dependent win (see below).
# All four d=1024 ANN-ladder recall gates and the pruned-join
# bit-identity (recall 1.0 at any d by the angular triangle inequality)
# are green in the same artifact.
#
# r11 third-scale-point CORRECTION (AB_EXPONENT_SF9_r11.json +
# EXP_SF9_DIAG_r11.json): the "~1.0 IVF-composed" exponent the r8/r10
# two-point pairs measured was fixed overhead still amortizing.  On
# ISOTROPIC corpora the angular prune admits the full cell grid
# (admit_rate 1.0000 at 60k AND 180k, candidate ratio exactly 9.0=n²),
# so BOTH dispatch arms are Θ(n²·d) flops — at 180k the GEMM is 94% of
# the wall and the measured sf3→sf9 exponents ran 1.41–1.83.  That is
# the information cost of exact recall-1.0 top-k on structure-free
# geometry, not an operator defect (FAISS exact = brute GEMM for the
# same reason).  The dispatch still buys the smaller constant
# (replication ≤ C+1 vs P+1) and the prune converts CLUSTER STRUCTURE
# into skipped blocks — with cluster count ∝ n the same 60k→180k step
# runs at e≈1 (CLUSTERED_SF9_r11.json), which is the geometry real
# encoder embeddings have at 100 TB.  The f32-prefilter/f64-verify
# kernel below (r11) halves the DRAM-bandwidth-bound constant on both
# arms with output identical up to f64 summation-order ulps — the
# rescore sums via einsum, the pure path via BLAS dgemm, so a cosine
# within ~1 ulp of tau or of a 6-dp rounding boundary could in
# principle round differently; validated empirically by 0-row
# symmetric diffs on the full sf3 and sf9 fixtures plus adversarial
# planted near-tau pairs (KERNEL_DECOMP_r11.json,
# GEMM_PREFILTER_AB_r11.json); the gated approximate ladder (IVF probe
# / PQ / LSH) remains the sub-quadratic path when the corpus genuinely
# has no structure.
BRUTE_TOPK_MAX_ROWS = 16_384


def topk_similarity_self_join(
    df: DataFrame,
    k: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    block_target_rows: int = 65_536,
    gemm_chunk_rows: int = 2_048,
    score_col: str = "score",
    item_col: str = "item_id",
    neighbor_col: str = "neighbor_id",
    strategy: str = "auto",
    brute_max_rows: int = BRUTE_TOPK_MAX_ROWS,
    n_cells: "int | None" = None,
    gemm_prefilter: bool = True,
    stats_out: dict | None = None,
) -> DataFrame:
    """BOUNDED-OUTPUT similarity self-join (VERDICT r6 #1): for every item,
    its top-k cosine neighbors with score >= tau — the scale-safe emission
    mode for the loose-tau similarity consumers.

    Why this exists: `threshold_similarity_join` is exact and linear per
    OUTPUT row, but at a loose tau the output itself is quadratic in the
    corpus (the r6 three-point bench measured edge growth at marginal
    exponent 2.0 on isotropic geometry — 4,470 → 3.84M pairs for 30×
    data).  At 100 TB a fixed tau buries the run in pair emission no
    matter how good the plan is.  Capping emission at k per item bounds
    the output at n·k rows — linear — while keeping every strong edge a
    dedup/graph consumer actually uses (a near-duplicate's nearest
    neighbors are exactly the edges that form its cluster).

    Physical shape: the same triangular block grid as
    threshold_similarity_join(strategy="blocked") — every id hashes into
    one of P blocks, each row is shuffled to its P+1 block-pairs — but
    each block-pair task emits only each participating item's LOCAL top-k
    (both directions of the pair), so per-task output is (|A|+|B|)·k
    instead of the full >=tau pair volume.  A global grouped_topk merges
    the per-task lists: any globally top-k neighbor of an item has local
    rank < k in the one task that scored that pair (every candidate ahead
    of it locally is ahead globally too), so local truncation is a strict
    superset of the answer — the same admission argument as
    ivf_search's per-cell rank cap.  Shuffle volume is n·(P+1)·k score
    triples; nothing is collected to the driver.

    Determinism: local and global stages rank on the SAME total order —
    6-dp-rounded score desc, neighbor id asc (ids pre-sorted + stable
    argsort in the kernel) — so output is unique regardless of
    partitioning, and a DuckDB row_number oracle over the exact pair list
    reproduces it bit-for-bit.

    Output: (item_id, neighbor_id, rank, score) — DIRECTED.  Graph/dedup
    consumers symmetrize with `topk_edges` (union of directions, each
    unordered pair once).

    HYBRID DISPATCH (VERDICT r8 #3): `strategy="auto"` (the default, and
    what the `similarity_topk_join` registry entry and every graph/dedup
    consumer use) counts the corpus once and routes

      n <= brute_max_rows  ->  the exact triangular block-GEMM below
      n  > brute_max_rows  ->  `ivf_pruned_topk_join` (angular
                               triangle-inequality cell prune, recall
                               1.0 — outputs verified bit-identical,
                               tests/test_topk_join.py)

    so a 100 TB caller reaching for the primitive BY NAME gets the
    linear-exponent form automatically (the brute form's quadratic GEMM
    flops measured e≈1.75, AB_EXPONENT_POST_r08), while small corpora —
    including every per-cell subproblem the IVF form itself creates —
    keep the cheaper exact kernel.  `strategy="brute"`/`"ivf"` force a
    side (the A/B harness and the bit-identity tests use this).

    `n_cells=None` (the r12 default) makes the IVF arm's prune
    granularity GEOMETRY-ADAPTIVE: the fine grid is sized by
    `ivf.adaptive_cell_count(n)` (cells ∝ n, the sizing the clustered
    e=1.056 scale point needed hand-set in r11 — CLUSTERED_SF9_r11) and
    `ivf._plan_cell_grid` falls back to the coarse blocked grid by a
    measured cost model when the corpus has no structure to prune, with
    an admit-rate guardrail naming the recall-gated approximate ladder
    (VERDICT r11 #1).  An explicit integer pins the historical fixed
    grid.
    """
    spark = df.sparkSession
    if strategy not in ("auto", "brute", "ivf"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # Count only when the dispatch or the brute block picker needs it —
    # a forced strategy="ivf" call must not pay a full scan for a value
    # the ivf branch never reads (ADVICE r9).
    n = (
        df.count()
        if (strategy == "auto" or (strategy == "brute" and n_blocks is None))
        else None
    )
    if strategy == "auto":
        strategy = "brute" if n <= brute_max_rows else "ivf"
    if strategy == "ivf":
        from crawling_vectordb_llm_spark.operators.ivf import (
            ivf_pruned_topk_join,
        )

        return ivf_pruned_topk_join(
            df,
            tau=tau,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            gemm_chunk_rows=gemm_chunk_rows,
            score_col=score_col,
            item_col=item_col,
            neighbor_col=neighbor_col,
            gemm_prefilter=gemm_prefilter,
            stats_out=stats_out,
        )
    if stats_out is not None:
        # the brute arm has no prune plan to report, but a caller
        # branching on the telemetry should still learn which arm ran
        stats_out.update(n=n, strategy="brute")
    if n_blocks is None:
        n_blocks = _pick_blocks(
            n, block_target_rows, spark.sparkContext.defaultParallelism
        )
    P = n_blocks
    id_t = df.schema[id_col].dataType.simpleString()
    blocked = df.select(
        F.col(id_col).alias("__id"),
        V.as_double_array(vec_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(P)).cast("int").alias("__b"),
    )
    a_side = blocked.select(
        "__id", "__v", "__b",
        F.explode(F.sequence(F.col("__b"), F.lit(P - 1))).alias("__j"),
    ).select(
        "__id", "__v",
        (F.col("__b") * P + F.col("__j")).alias("__pk"),
        F.lit("a").alias("__role"),
    )
    # Diagonal tasks (i == j) score the 'a' copy against itself, so rows
    # ship to their own block only in the 'a' role — excluding __i == __b
    # here halves the largest tasks' input (ADVICE r7; the filter, not
    # sequence(0, __b - 1), because sequence(0, -1) is the Spark
    # descending range [0, -1], not empty).
    b_side = blocked.select(
        "__id", "__v", "__b",
        F.explode(F.sequence(F.lit(0), F.col("__b"))).alias("__i"),
    ).where(F.col("__i") != F.col("__b")).select(
        "__id", "__v",
        (F.col("__i") * P + F.col("__b")).alias("__pk"),
        F.lit("b").alias("__role"),
    )
    replicated = a_side.unionByName(b_side)

    def _topk_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = divmod(int(key[0]), P)
        a = pdf[pdf["__role"] == "a"]
        b = a if i == j else pdf[pdf["__role"] == "b"]
        out = _topk_tau_gemm(
            a["__id"].to_numpy(), np.array(list(a["__v"]), dtype=np.float64),
            b["__id"].to_numpy(), np.array(list(b["__v"]), dtype=np.float64),
            tau, k, gemm_chunk_rows, diagonal=(i == j),
            prefilter=gemm_prefilter,
        )
        return pd.DataFrame(
            {item_col: out[0], neighbor_col: out[1], score_col: out[2]}
        )

    candidates = replicated.groupBy("__pk").applyInPandas(
        _topk_pair,
        schema=f"{item_col} {id_t}, {neighbor_col} {id_t}, {score_col} double",
    )
    return grouped_topk(
        candidates, [item_col], [F.desc(score_col), F.asc(neighbor_col)], k
    ).select(
        item_col, neighbor_col, F.col("rank").cast("int").alias("rank"), score_col
    )


def topk_edges(
    directed: DataFrame,
    item_col: str = "item_id",
    neighbor_col: str = "neighbor_id",
    score_col: str = "score",
) -> DataFrame:
    """Symmetrize a directed top-k neighbor list into the UNION k-NN graph:
    each unordered pair once as (a_id < b_id) with its (symmetric, already
    6-dp-rounded) score.  This is the bounded edge set the graph/cluster
    consumers run on — at most n·k edges, linear in the corpus."""
    return directed.select(
        F.least(item_col, neighbor_col).alias("a_id"),
        F.greatest(item_col, neighbor_col).alias("b_id"),
        F.col(score_col).alias(score_col),
    ).distinct()


def _f32_margin(dim: int) -> float:
    """Admission margin for the f32-prefilter GEMM (r11): the worst-case
    f32 accumulation error of a d-term unit-vector dot is ~d*eps32
    (gamma_d bound); 4x that — floored at 1e-4 — gives >=4x headroom at
    any dim (d=64: 1e-4 vs ~7.6e-6 bound; d=1024: 4.9e-4 vs ~1.2e-4).
    Every pair whose TRUE f64 cosine >= tau provably survives the
    f32 mask at tau - margin; survivors are re-scored in f64 and
    re-cut at tau, so the output is the exact-join output."""
    return max(1e-4, 4.0 * dim * float(np.finfo(np.float32).eps))


def _f64_rescore(
    am: np.ndarray, bm: np.ndarray, ri: np.ndarray, ci: np.ndarray
) -> np.ndarray:
    """Exact f64 cosine of candidate pairs only — sliced so the two
    gathered (step, d) float64 temporaries stay near a fixed ~64 MB
    budget at ANY dimension (step = 2^26 bytes / row bytes, floored at
    4096 rows: 65,536 rows at d=64, 8,192 at the reference's d=1024 —
    a fixed 2^16 step would gather ~1 GiB per slice at d=1024 under
    32-way task concurrency, ADVICE r11) even when a dup-dense block
    admits millions of candidates."""
    out = np.empty(len(ri), dtype=np.float64)
    step = max(4096, (1 << 26) // (8 * am.shape[1]))
    for s in range(0, len(ri), step):
        sl = slice(s, s + step)
        out[sl] = np.einsum("ij,ij->i", am[ri[sl]], bm[ci[sl]])
    return out


def _topk_tau_gemm(
    a_ids: np.ndarray,
    a_mat: np.ndarray,
    b_ids: np.ndarray,
    b_mat: np.ndarray,
    tau: float,
    k: int,
    chunk_rows: int,
    diagonal: bool,
    prefilter: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Directed per-item local top-k of cosine >= tau between two id sets.

    Emits (item, neighbor, score6) for BOTH directions of the block pair:
    A items ranked over B (complete per A-chunk — each A row sees every B
    column), and, when the blocks differ, B items ranked over A (per-chunk
    partial top-k merged by one vectorized rank pass at the end, the
    ivf_search lexsort shape).  diagonal=True scores one set against
    itself (symmetric matrix — the per-row direction alone covers every
    item) with the self-pair masked out.

    Ranking is on round(score, 6) desc, id asc.  Selection is
    OUTPUT-SENSITIVE (r8): the >=tau mask is extracted sparse
    (np.nonzero) and only the surviving candidates are lexsort-ranked —
    rank cost ∝ candidates, not |chunk|×|B| (the previous full-row
    stable argsort was O(|B| log |B|) per row for a k of 10 and
    dominated the kernel: 25 s vs the threshold join's 4.5 s at sf3 for
    the same block grid; the sparse form microbenches 4.5× faster than
    even that full-sort at 10% planted-dup density).  ids are pre-sorted
    ascending, so index order = id order and the lexsort tiebreak
    matches the global grouped_topk stage and the SQL row_number oracle
    exactly.

    prefilter=True (r11, the default): the chunk GEMM runs in FLOAT32
    (half the memory traffic, ~2x the BLAS rate — sgemm vs dgemm), the
    >=tau mask admits at tau - _f32_margin(d), and only the admitted
    candidates are re-scored in f64 and re-cut at tau — same output
    pairs and 6-dp scores as the f64 GEMM up to f64 summation-order
    ulps (the rescore is einsum, the pure path BLAS dgemm; equality is
    validated empirically on full fixtures and planted near-tau pairs,
    ADVICE r11), at roughly half the flop-bound wall.  The sf3->sf9 third scale point showed the
    bounded-join consumers GEMM-bound on the isotropic fixtures
    (EXP_SF9_DIAG_r11.json: the angular prune admits ~every cell pair
    with no cluster structure to skip, so compute is the full pairwise
    grid); this halves the constant on that regime — the exponent
    itself is the information cost of exact top-k at recall 1.0 on
    structure-free geometry.  prefilter=False keeps the pure-f64 path
    for A/B measurement."""
    empty = (np.array([]), np.array([]), np.array([]))
    if len(a_ids) == 0 or len(b_ids) == 0 or k <= 0:
        return empty
    a_ord = np.argsort(a_ids, kind="stable")
    a_ids, a_mat = a_ids[a_ord], a_mat[a_ord]
    b_ord = np.argsort(b_ids, kind="stable")
    b_ids, b_mat = b_ids[b_ord], b_mat[b_ord]
    a_mat = a_mat / np.maximum(np.linalg.norm(a_mat, axis=1, keepdims=True), 1e-30)
    b_mat = b_mat / np.maximum(np.linalg.norm(b_mat, axis=1, keepdims=True), 1e-30)
    if prefilter:
        a32 = a_mat.astype(np.float32)
        b32_t = b_mat.astype(np.float32).T
        tau32 = tau - _f32_margin(a_mat.shape[1])

    def _rank_keep(grp: np.ndarray, other: np.ndarray, sc: np.ndarray, kk: int):
        """Rank candidates (grp, score desc, other asc), keep rank < kk.
        Returns the kept (grp_index, other_index, score) triplets."""
        order = np.lexsort((other, -sc, grp))
        g, o, s = grp[order], other[order], sc[order]
        starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
        sizes = np.diff(np.append(starts, len(g)))
        ranks = np.arange(len(g)) - np.repeat(starts, sizes)
        keep = ranks < kk
        return g[keep], o[keep], s[keep]

    items, neighs, scs = [], [], []
    b_items, b_neighs, b_scs = [], [], []
    ka = min(k, len(b_ids))
    kb = min(k, len(a_ids))
    for start in range(0, a_mat.shape[0], chunk_rows):
        am = a_mat[start : start + chunk_rows]
        ai = a_ids[start : start + chunk_rows]
        if prefilter:
            s32 = a32[start : start + chunk_rows] @ b32_t  # (chunk, |B|) f32
            valid = s32 >= tau32
            if diagonal:
                valid &= ai[:, None] != b_ids[None, :]
            ri, ci = np.nonzero(valid)
            if len(ri) == 0:
                continue
            exact = _f64_rescore(am, b_mat, ri, ci)
            keep = exact >= tau
            ri, ci, exact = ri[keep], ci[keep], exact[keep]
            if len(ri) == 0:
                continue
            sc = np.round(exact, 6)
        else:
            scores = am @ b_mat.T  # (chunk, |B|)
            valid = scores >= tau
            if diagonal:
                valid &= ai[:, None] != b_ids[None, :]
            ri, ci = np.nonzero(valid)
            if len(ri) == 0:
                continue
            sc = np.round(scores[ri, ci], 6)
        # A direction: per-row top-k over B columns (complete per chunk —
        # each A row sees every B column)
        ga, oa, sa = _rank_keep(ri, ci, sc, ka)
        items.append(ai[ga])
        neighs.append(b_ids[oa])
        scs.append(sa)
        if not diagonal:
            # B direction: per-column top-k within this chunk (row index
            # ascending = a-id ascending); partial lists merge after the
            # loop
            gb, ob, sb = _rank_keep(ci, ri, sc, kb)
            b_items.append(b_ids[gb])
            b_neighs.append(ai[ob])
            b_scs.append(sb)
    if b_items:
        # cross-chunk merge for the B direction: rank (item, score desc,
        # neighbor asc), keep rank < k — vectorized, no Python loop
        bi = np.concatenate(b_items)
        bn = np.concatenate(b_neighs)
        bs = np.concatenate(b_scs)
        if len(bi):
            order = np.lexsort((bn, -bs, bi))
            bi, bn, bs = bi[order], bn[order], bs[order]
            starts = np.flatnonzero(np.r_[True, bi[1:] != bi[:-1]])
            sizes = np.diff(np.append(starts, len(bi)))
            ranks = np.arange(len(bi)) - np.repeat(starts, sizes)
            keep = ranks < kb
            items.append(bi[keep])
            neighs.append(bn[keep])
            scs.append(bs[keep])
    items = [x for x in items if len(x)]
    if not items:
        return empty
    neighs = [x for x in neighs if len(x)]
    scs = [x for x in scs if len(x)]
    return np.concatenate(items), np.concatenate(neighs), np.concatenate(scs)


def _pick_blocks(
    n: int,
    block_target_rows: int,
    parallelism: int,
    triangular: bool = True,
    min_block_rows: int = 256,
) -> int:
    """Grid size P for the blocked GEMM: at least enough blocks that every
    block fits block_target_rows (the MEMORY bound), and — when the data is
    small relative to the cluster — enough block-pairs to occupy the
    available cores (the PARALLELISM bound: P(P+1)/2 tasks for the
    triangular self-join, P tasks per grid side otherwise), floored so
    blocks never shrink below min_block_rows where per-task overhead would
    dominate the GEMM."""
    p_mem = max(1, -(-n // block_target_rows))
    if triangular:
        p_par = 1
        while p_par * (p_par + 1) // 2 < parallelism:
            p_par += 1
    else:
        p_par = parallelism
    p_cap = max(1, n // min_block_rows)
    return max(p_mem, min(p_par, p_cap))


def _chunked_tau_gemm(
    a_ids: np.ndarray,
    a_mat: np.ndarray,
    b_ids: np.ndarray,
    b_mat: np.ndarray,
    tau: float,
    chunk_rows: int,
    triangular: bool,
    orient: bool,
    prefilter: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """L2-normalize both sides, then score A against B in row-chunks of A so
    the score matrix never exceeds chunk_rows × |B|.  triangular=True keeps
    only a_id < b_id (self-join diagonal); orient=True emits each surviving
    cross-block pair as (min_id, max_id) so the unordered pair appears once
    with a_id < b_id regardless of which block hashed where.

    prefilter=True (r11): f32 chunk GEMM + tau - _f32_margin(d) mask,
    f64 re-score of candidates only, re-cut at tau — same output as the
    f64 GEMM (up to summation-order ulps, see _topk_tau_gemm) at ~half
    the flop-bound wall."""
    if len(a_ids) == 0 or len(b_ids) == 0:
        empty = np.array([])
        return empty, empty, empty
    a_mat = a_mat / np.maximum(np.linalg.norm(a_mat, axis=1, keepdims=True), 1e-30)
    b_mat = b_mat / np.maximum(np.linalg.norm(b_mat, axis=1, keepdims=True), 1e-30)
    if prefilter:
        a32 = a_mat.astype(np.float32)
        b32_t = b_mat.astype(np.float32).T
        tau32 = tau - _f32_margin(a_mat.shape[1])
    outs_a, outs_b, outs_s = [], [], []
    for start in range(0, a_mat.shape[0], chunk_rows):
        am = a_mat[start : start + chunk_rows]
        ai = a_ids[start : start + chunk_rows]
        if prefilter:
            s32 = a32[start : start + chunk_rows] @ b32_t
            li, ri = np.nonzero(s32 >= tau32)
            if len(li) == 0:
                continue
            exact = _f64_rescore(am, b_mat, li, ri)
            keep = exact >= tau
            li, ri, exact = li[keep], ri[keep], exact[keep]
            scores_at = exact
        else:
            scores = am @ b_mat.T
            li, ri = np.nonzero(scores >= tau)
            scores_at = None
        if len(li) == 0:
            continue
        x_ids, y_ids = ai[li], b_ids[ri]
        if triangular:
            keep = x_ids < y_ids
            if scores_at is not None:
                scores_at = scores_at[keep]
            x_ids, y_ids, li, ri = x_ids[keep], y_ids[keep], li[keep], ri[keep]
        s = np.round(
            scores_at if scores_at is not None else scores[li, ri], 6
        )
        if orient and not triangular:
            swap = x_ids > y_ids
            x_ids, y_ids = (
                np.where(swap, y_ids, x_ids),
                np.where(swap, x_ids, y_ids),
            )
        outs_a.append(x_ids)
        outs_b.append(y_ids)
        outs_s.append(s)
    if not outs_a:
        empty = np.array([])
        return empty, empty, empty
    return np.concatenate(outs_a), np.concatenate(outs_b), np.concatenate(outs_s)


def _threshold_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    tau: float,
    self_join: bool,
    left_id: str,
    left_vec: str,
    right_id: str,
    right_vec: str,
    score_col: str,
    max_broadcast_rows: int,
) -> DataFrame:
    """The r1 strategy: collect + broadcast the right side, one GEMM per left
    partition.  Now opt-in (strategy="broadcast") and guarded: a right side
    larger than max_broadcast_rows raises instead of OOM-ing the driver."""
    spark = left.sparkSession
    aid_t = left.schema[left_id].dataType.simpleString()
    bid_t = right.schema[right_id].dataType.simpleString()
    n_right = right.count()
    if n_right > max_broadcast_rows:
        raise ValueError(
            f"strategy='broadcast' right side has {n_right} rows > "
            f"max_broadcast_rows={max_broadcast_rows}; use strategy='blocked' "
            "(distributed) instead"
        )
    rrows = right.select(right_id, right_vec).collect()
    rids = np.array([r[0] for r in rrows])
    rmat = np.array([r[1] for r in rrows], dtype=np.float64)
    rmat = rmat / np.maximum(np.linalg.norm(rmat, axis=1, keepdims=True), 1e-30)
    br = spark.sparkContext.broadcast((rids, rmat))

    def score_block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_r, mat_r = br.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lmat = np.array(list(pdf[left_vec]), dtype=np.float64)
            lmat = lmat / np.maximum(
                np.linalg.norm(lmat, axis=1, keepdims=True), 1e-30
            )
            scores = lmat @ mat_r.T
            lids = pdf[left_id].to_numpy()
            li, ri = np.nonzero(scores >= tau)
            a_ids, b_ids = lids[li], ids_r[ri]
            if self_join:
                keep = a_ids < b_ids
                a_ids, b_ids, li, ri = a_ids[keep], b_ids[keep], li[keep], ri[keep]
            yield pd.DataFrame(
                {
                    "a_id": a_ids,
                    "b_id": b_ids,
                    score_col: np.round(scores[li, ri], 6),
                }
            )

    return left.select(left_id, left_vec).mapInPandas(
        score_block, schema=f"a_id {aid_t}, b_id {bid_t}, {score_col} double"
    )


def knn_quantized_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int | None = None,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "doc_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Two-stage ANN: int8 candidate generation + float64 rerank.

    Stage 1 scans the QUANTIZED corpus (int8 codes + one float scale per
    vector — 4x less I/O than float32 at the reference's 1024 dims,
    TencentVDB.py:46,49) and scores it against the quantized query matrix
    with one GEMM per Arrow batch, keeping a per-partition shortlist of
    `shortlist` (default 4k) candidates per query.  Stage 2 joins only the
    shortlist back to the full-precision vectors and reranks with exact
    float64 cosine — the standard quantize-then-rerank shape of a 100 TB
    vector store, where full-precision reads are proportional to the
    shortlist, never the corpus.

    The integer GEMM runs as float32 BLAS over the int codes: |dot| <=
    127*127*dims < 2^24 for dims <= 1024, so float32 accumulation of the
    integer values is exact.
    """
    shortlist = shortlist or 4 * k
    spark = queries.sparkSession

    qrows = collect_query_rows(
        queries, query_id, query_vec, max_query_rows,
        caller="knn_quantized_rerank",
    )
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qscale = np.maximum(np.abs(qmat).max(axis=1) / 127.0, 1e-12)
    qint = np.floor(qmat / qscale[:, None] + 0.5).astype(np.float32)
    qint_norm = np.maximum(np.linalg.norm(qint, axis=1), 1e-30)
    bq = spark.sparkContext.broadcast((qids, qint, qint_norm))

    quant = corpus.select(
        F.col(corpus_id),
        V.int8_quantize(F.col(corpus_vec), V.int8_scale(corpus_vec)).alias("qv"),
    )

    qid_t = queries.schema[query_id].dataType.simpleString()
    cid_t = corpus.schema[corpus_id].dataType.simpleString()

    def stage1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qi, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cint = np.array(list(pdf["qv"]), dtype=np.float32)
            cnorm = np.maximum(np.linalg.norm(cint, axis=1), 1e-30)
            # approx cosine: scales cancel in the normalized int space
            scores = (qi @ cint.T) / (qn[:, None] * cnorm[None, :])
            top = min(shortlist, scores.shape[1])
            idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
            yield pd.DataFrame(
                {
                    query_id: np.repeat(ids, top),
                    corpus_id: pdf[corpus_id].to_numpy()[idx.ravel()],
                    "__approx": np.take_along_axis(scores, idx, axis=1)
                    .ravel()
                    .astype(np.float64),
                }
            )

    cand = quant.mapInPandas(
        stage1, schema=f"{query_id} {qid_t}, {corpus_id} {cid_t}, __approx double"
    )
    # global shortlist per query across partition-local shortlists, ranked
    # by the approximate (quantized) score — the same map-side-combine
    # shape as knn_join_numpy: shuffle rows = partitions x queries x
    # shortlist, independent of corpus size
    cand = grouped_topk(
        cand, [query_id], [F.desc("__approx"), F.asc(corpus_id)], shortlist
    ).select(query_id, corpus_id)

    # stage 2: exact float64 rerank on the shortlist only
    return knn_rerank_shortlist(
        cand, queries, corpus, k,
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec, score_col=score_col,
    )


def knn_rerank_shortlist(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "doc_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Exact float64 cosine rerank of a (query_id, corpus_id) candidate set.

    The shared stage 2 of every two-stage ANN operator (int8
    `knn_quantized_rerank`, product-quantized `pq.pq_knn_rerank`): join the
    shortlist — never the corpus — back to full-precision vectors, score
    JVM-side, keep top-k per query with deterministic (score DESC, id ASC)
    ties.  Full-precision reads are proportional to the shortlist size, so
    the stage costs the same whether the corpus is 1 GB or 100 TB.
    """
    qv = F.broadcast(
        queries.select(F.col(query_id), V.as_double_array(query_vec).alias("__qv"))
    )
    cv = corpus.select(F.col(corpus_id), V.as_double_array(corpus_vec).alias("__cv"))
    exact = (
        candidates.select(query_id, corpus_id)
        .join(cv, corpus_id)
        .join(qv, query_id)
        .select(
            query_id,
            corpus_id,
            V.cosine(F.col("__qv"), F.col("__cv")).alias(score_col),
        )
    )
    return grouped_topk(
        exact, [query_id], [F.desc(score_col), F.asc(corpus_id)], k
    ).select(query_id, corpus_id, "rank", F.round(score_col, 6).alias(score_col))
