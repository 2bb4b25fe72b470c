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
                       partition, one float64 GEMM per Arrow batch scores
                       it against all queries, and only each partition's
                       local top-k survives — a map-side combine that
                       shrinks the shuffle from |corpus|×|queries| rows to
                       |partitions|×|queries|×k before the final window.
                       This is the 100 TB plan: shuffle size is independent
                       of corpus size.  Its kernel, `knn_topk_matrix`, is
                       also IVF search: the same per-cell GEMM and rank
                       cap over the `centroid_id` cells a query probes.
3. `threshold_similarity_join` — the exact self-join: all pairs with
                       cosine >= tau (the range-join flavor, SURVEY §2.5),
                       used by near-dup dedup.  One plan: a triangular
                       block grid, each row shuffled to its P block pairs
                       (P·n rows), one chunked GEMM task per pair.  The
                       bounded `topk_similarity_self_join` runs on the
                       same grid.
4. `ivf` (operators/ivf.py) — the approximate scale path: k-means
                       centroids, partition-by-centroid, probe nProbe cells.

Scores are computed in float64 and every top-k ranks on one total order,
(score rounded to 6 dp DESC, id ASC): two scores that agree to 6 dp are a
tie, broken by id, so output is deterministic and does not depend on how
the corpus is partitioned (SURVEY §7 hard parts b/c).  The numpy kernels
rank through `topk.rank_cap` / `topk.rank_cap_matrix`.
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
    rank_cap,
    rank_cap_matrix,
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
    """Exact top-k cosine per query, entirely in Spark SQL expressions,
    ranked on (6-dp score desc, id asc) like every query-side top-k.

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
        F.round(V.cosine(F.col("__qv"), F.col("__cv")), 6).alias(score_col),
    )
    return grouped_topk(
        scored, [query_id], [F.desc(score_col), F.asc(corpus_id)], k
    ).select(query_id, corpus_id, "rank", score_col)


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
    task, and each Arrow batch is scored with one float64 matrix multiply
    (`knn_topk_matrix` with one cell).  Emitting only the per-partition
    top-k is the map-side combine that keeps the final shuffle tiny at any
    corpus size.  A query side over max_query_rows raises instead of
    OOM-ing the driver.
    """
    qids, qmat = collect_query_rows(
        queries, query_id, query_vec, max_query_rows, caller="knn_join_numpy"
    )
    return knn_topk_matrix(
        qids,
        qmat,
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
    centroids: np.ndarray | None = None,
    n_probe: int = 1,
    query_id: str = "query_id",
    corpus_id: str = "doc_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
    query_id_type: str = "bigint",
) -> DataFrame:
    """The one query-side top-k kernel, over a query matrix already on the
    driver (row i of `qmat` is query `qids[i]`): exact search, and IVF
    search when `centroids` is given.  Returns (query_id, corpus_id,
    rank, score).

    Corpus rows are grouped in cells, and each cell is scored only
    against the queries that probe it.  Exact search is one literal cell
    that every query probes, so it is one GEMM per Arrow batch.  With
    `centroids`, each query probes its `n_probe` nearest cells of the
    corpus's `centroid_id` column (every indexed VectorCollection snapshot
    has one); the scan still reads every row and drops unprobed cells
    after decode.  Per cell, `topk.rank_cap_matrix` keeps each query's
    top k; one `topk.rank_cap` pass merges a partition's cells and
    batches, and grouped_topk merges the partitions.  All three rank on
    one order, 6-dp score desc, id asc, and a row of the global top k
    ranks under k wherever it is scored (every row ahead of it there is
    ahead of it globally), so the answer does not depend on how rows are
    partitioned.  Shuffle volume is partitions × queries × k triples at
    any corpus size.  Callers that encode their queries on the driver
    (VectorCollection.search_by_text) enter here and skip the DataFrame
    round trip and its collect job."""
    qmat = np.asarray(qmat, dtype=np.float64)
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
    if centroids is None:
        cell = F.lit(0)
        cell_q = {0: (qids, qmat)}
    else:
        cell = F.col("centroid_id")
        probe = np.argsort(-(qmat @ centroids.T), axis=1)[:, :n_probe]
        cell_q = {}
        for c in np.unique(probe):
            probing = (probe == c).any(axis=1)
            cell_q[int(c)] = (qids[probing], qmat[probing])
    bq = corpus.sparkSession.sparkContext.broadcast(cell_q)

    def _cell_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cq = bq.value
        out = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = pdf["__cell"].to_numpy()
            cmat = np.array(list(pdf[corpus_vec]), dtype=np.float64)
            cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30)
            ids = pdf[corpus_id].to_numpy()
            for c in np.unique(cells):
                q = cq.get(int(c))
                if q is None:
                    continue  # no query probes this cell
                sel = cells == c
                cell_ids = ids[sel]
                qi, ci, sc = rank_cap_matrix(q[1] @ cmat[sel].T, cell_ids, k)
                out.append((q[0][qi], cell_ids[ci], sc))
        if out:
            qs, cs, ss = (np.concatenate(x) for x in zip(*out))
            keep = rank_cap(qs, ss, cs, k)
            yield pd.DataFrame(
                {query_id: qs[keep], corpus_id: cs[keep], score_col: ss[keep]}
            )

    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    candidates = corpus.select(corpus_id, corpus_vec, cell.alias("__cell")).mapInPandas(
        _cell_topk,
        schema=f"{query_id} {query_id_type}, {corpus_id} {cid_t}, {score_col} double",
    )
    return grouped_topk(
        candidates, [query_id], [F.desc(score_col), F.asc(corpus_id)], k
    ).select(query_id, corpus_id, "rank", score_col)


def threshold_similarity_join(
    df: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
    n_blocks: int | None = None,
    block_target_rows: int = 65_536,
    gemm_chunk_rows: int = 2_048,
) -> DataFrame:
    """All pairs of `df` with cosine >= tau (the dedup self-join shape):
    each unordered pair once as (a_id < b_id, score rounded to 6 dp).

    EXACT distributed grid-blocked GEMM.  Every id is hashed into one of
    P blocks and each row is shuffled to the P block-PAIRS it
    participates in (`_triangular_block_grid`), so shuffle volume is P·n
    rows with P ≈ n / block_target_rows.  One `applyInPandas` task per
    block pair runs a chunked GEMM (`_chunked_tau_gemm`) and emits only
    the >= tau matches.  Nothing is collected to the driver and no side is
    broadcast, so the operator survives any corpus size: the per-task
    score matrix is bounded by gemm_chunk_rows × block_target_rows, and
    compute parallelism is P(P+1)/2 tasks.  This is the semdedup.py
    cogroup-GEMM shape applied to an exact (unpruned) grid.

    The join is exact and quadratic in compute; at 100 TB prefer a
    candidate generator (LSH bands, operators/dedup.py, or IVF cells,
    ivf.ivf_pruned_threshold_join) to prune the pair space first.
    """
    if n_blocks is None:
        n_blocks = _pick_blocks(
            df.count(), block_target_rows,
            df.sparkSession.sparkContext.defaultParallelism,
        )
    id_t = df.schema[id_col].dataType.simpleString()

    def _tau_pairs(a_ids, a_mat, b_ids, b_mat, diagonal: bool) -> pd.DataFrame:
        out = _chunked_tau_gemm(
            a_ids, a_mat, b_ids, b_mat, tau, gemm_chunk_rows, triangular=diagonal
        )
        return pd.DataFrame({"a_id": out[0], "b_id": out[1], score_col: out[2]})

    return _triangular_block_grid(
        df, id_col, vec_col, n_blocks, _tau_pairs,
        schema=f"a_id {id_t}, b_id {id_t}, {score_col} double",
    )


def _triangular_block_grid(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    kernel,
    schema: str,
) -> DataFrame:
    """Run `kernel` once per block pair (i <= j) of the exact self-join grid.

    Every id hashes into one of P = n_blocks blocks.  A row in block b is
    the 'a' side of pairs (b, j >= b) and the 'b' side of pairs (i < b, b):
    exactly P copies per row whatever b is, so replication is even.  A
    diagonal task (i == j) scores its 'a' rows against themselves, so no
    'b' copy is shipped to it.  `kernel(a_ids, a_mat, b_ids, b_mat,
    diagonal)` returns a pandas frame matching `schema`; the matrices are
    float64, one row per id."""
    P = n_blocks
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
    # A filter, not sequence(0, __b - 1): sequence(0, -1) is the Spark
    # descending range [0, -1], not empty.
    b_side = blocked.select(
        "__id", "__v", "__b",
        F.explode(F.sequence(F.lit(0), F.col("__b"))).alias("__i"),
    ).where(F.col("__i") != F.col("__b")).select(
        "__id", "__v",
        (F.col("__i") * P + F.col("__b")).alias("__pk"),
        F.lit("b").alias("__role"),
    )

    def _pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = divmod(int(key[0]), P)
        a = pdf[pdf["__role"] == "a"]
        b = a if i == j else pdf[pdf["__role"] == "b"]
        return kernel(
            a["__id"].to_numpy(), np.array(list(a["__v"]), dtype=np.float64),
            b["__id"].to_numpy(), np.array(list(b["__v"]), dtype=np.float64),
            i == j,
        )

    return a_side.unionByName(b_side).groupBy("__pk").applyInPandas(
        _pair, schema=schema
    )


# Corpus-size threshold of topk_similarity_self_join's dispatch: at or
# below this many vectors the triangular block grid runs directly, with
# no k-means fit; above it ivf_pruned_topk_join fits cells and runs the
# fine cell grid or this same block grid, whichever its cost model
# prices cheaper.  The bracket predates that block-grid fallback: it was
# measured against the pruned join when it always ran a cell grid (d=64,
# AB_HYBRID_r10.json, interleaved 7-rep medians: brute 2.3–2.9× faster
# at n=2k–16k, 1.7× at 20k, the pruned join 1.1× faster at 40k–60k;
# d=1024, AB_DIM_r10.json: brute 2.9–5.0× faster up to 20k).  Now the
# shortcut saves only the fit and the grid pricing, and the threshold
# has not been re-measured against that default.
# On isotropic corpora the prune admits every cell pair, so both grids
# are Θ(n²·d) (AB_EXPONENT_SF9_r11.json); cluster structure is what
# the cells turn into skipped pairs (CLUSTERED_SF9_r11.json).
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
    n_cells: "int | None" = None,
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
    threshold_similarity_join (`_triangular_block_grid`) — every id
    hashes into one of P blocks, each row is shuffled to its P
    block-pairs — but each block-pair task emits only each participating
    item's LOCAL top-k (both directions of the pair), so per-task output
    is (|A|+|B|)·k instead of the full >=tau pair volume.  A global
    grouped_topk merges the per-task lists: any globally top-k neighbor
    of an item has local rank < k in the one task that scored that pair
    (every candidate ahead of it locally is ahead globally too), so local
    truncation is a strict superset of the answer — the same admission
    argument as ivf_search's per-cell rank cap.  Shuffle volume is at
    most n·P·k score triples; nothing is collected to the driver.

    Determinism: local and global stages rank on the SAME total order —
    6-dp-rounded score desc, neighbor id asc (`topk.rank_cap` in the
    kernel) — so output is unique regardless of
    partitioning, and a DuckDB row_number oracle over the exact pair list
    reproduces it bit-for-bit.

    Output: (item_id, neighbor_id, rank, score) — DIRECTED.  Graph/dedup
    consumers symmetrize with `topk_edges` (union of directions, each
    unordered pair once).

    Dispatch: the corpus is counted once.  At most BRUTE_TOPK_MAX_ROWS
    rows (read at call time) run the block grid directly — no k-means
    fit — and `stats_out` receives {n, grid: "blocks"}.  Larger corpora
    go to `ivf.ivf_pruned_topk_join`, which fits the cells and prices
    the fine cell grid against this same block grid with one cost model
    (`n_cells=None`, cells sized by `ivf.adaptive_cell_count(n)`), runs
    the cheaper one, and reports the choice in `stats_out["grid"]`; an
    explicit `n_cells` pins the cell grid.  Both grids are exact
    (recall 1.0 by the angular triangle inequality), so the rows never
    depend on the route — tests/test_topk_join.py checks them
    bit-identical.
    """
    n = df.count()
    if n > BRUTE_TOPK_MAX_ROWS:
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
            stats_out=stats_out,
        )
    if stats_out is not None:
        stats_out.update(n=n, grid="blocks")
    if n_blocks is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        n_blocks = _pick_blocks(n, block_target_rows, parallelism)
    return _block_grid_topk(
        df, k, tau, id_col, vec_col, n_blocks, gemm_chunk_rows,
        score_col, item_col, neighbor_col,
    )


def _block_grid_topk(
    df: DataFrame,
    k: int,
    tau: float,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    gemm_chunk_rows: int,
    score_col: str,
    item_col: str,
    neighbor_col: str,
) -> DataFrame:
    """The block-grid arm of topk_similarity_self_join: per-pair local
    top-k on `_triangular_block_grid`, merged by one grouped_topk.  The
    caller sizes n_blocks from the row count it already holds, so this
    runs no count job of its own (ivf_pruned_topk_join hands off here
    when the block grid wins its grid choice)."""
    id_t = df.schema[id_col].dataType.simpleString()

    def _topk_pair(a_ids, a_mat, b_ids, b_mat, diagonal: bool) -> pd.DataFrame:
        out = _topk_tau_gemm(
            a_ids, a_mat, b_ids, b_mat, tau, k, gemm_chunk_rows, diagonal=diagonal
        )
        return pd.DataFrame(
            {item_col: out[0], neighbor_col: out[1], score_col: out[2]}
        )

    candidates = _triangular_block_grid(
        df, id_col, vec_col, n_blocks, _topk_pair,
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
    partial top-k merged by one `topk.rank_cap` pass at the end).  diagonal=True scores one set against
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
    structure-free geometry.  prefilter=False is the pure-f64 reference
    the kernel tests compare against."""
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
        keep = rank_cap(ri, sc, ci, ka)
        items.append(ai[ri[keep]])
        neighs.append(b_ids[ci[keep]])
        scs.append(sc[keep])
        if not diagonal:
            # B direction: per-column top-k within this chunk (row index
            # ascending = a-id ascending); partial lists merge after the
            # loop
            keep = rank_cap(ci, sc, ri, kb)
            b_items.append(b_ids[ci[keep]])
            b_neighs.append(ai[ri[keep]])
            b_scs.append(sc[keep])
    if b_items:
        # cross-chunk merge for the B direction, on the same order
        bi, bn, bs = (np.concatenate(x) for x in (b_items, b_neighs, b_scs))
        keep = rank_cap(bi, bs, bn, kb)
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
    min_block_rows: int = 256,
) -> int:
    """Grid size P for the triangular block grid: at least enough blocks
    that every block fits block_target_rows (the MEMORY bound), and — when
    the data is small relative to the cluster — about three block-pairs
    per core (the PARALLELISM bound on the P(P+1)/2 tasks): with only one
    per core the half-size diagonal tasks and the hashing of pair keys
    into shuffle partitions leave cores idle behind the largest task
    (60k isotropic d=64 vectors, top-16 at tau 0.5, 4 cores, medians of
    5 interleaved reps: 12.4/12.2/9.9/10.4/10.9 s at P=3/4/5/6/8).
    Floored so blocks never shrink below min_block_rows where per-task
    overhead would dominate the GEMM."""
    p_mem = max(1, -(-n // block_target_rows))
    p_par = 1
    while p_par * (p_par + 1) // 2 < 3 * parallelism:
        p_par += 1
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
    prefilter: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """L2-normalize both sides, then score A against B in row-chunks of A so
    the score matrix never exceeds chunk_rows × |B|.  Each surviving pair is
    emitted as (min_id, max_id, round(score, 6)), so an unordered pair
    appears once with a_id < b_id regardless of which block hashed where;
    triangular=True (A and B are the same set: a self-join diagonal) keeps
    only a_id < b_id, which drops self-pairs and mirror copies.

    prefilter=True (r11): f32 chunk GEMM + tau - _f32_margin(d) mask,
    f64 re-score of candidates only, re-cut at tau — same output as the
    f64 GEMM (up to summation-order ulps, see _topk_tau_gemm) at ~half
    the flop-bound wall.  prefilter=False is the pure-f64 reference."""
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
            sc = _f64_rescore(am, b_mat, li, ri)
            keep = sc >= tau
            li, ri, sc = li[keep], ri[keep], sc[keep]
        else:
            scores = am @ b_mat.T
            li, ri = np.nonzero(scores >= tau)
            sc = scores[li, ri]
        if len(li) == 0:
            continue
        x_ids, y_ids = ai[li], b_ids[ri]
        if triangular:
            keep = x_ids < y_ids
            x_ids, y_ids, sc = x_ids[keep], y_ids[keep], sc[keep]
        else:
            swap = x_ids > y_ids
            x_ids, y_ids = (
                np.where(swap, y_ids, x_ids),
                np.where(swap, x_ids, y_ids),
            )
        outs_a.append(x_ids)
        outs_b.append(y_ids)
        outs_s.append(np.round(sc, 6))
    if not outs_a:
        empty = np.array([])
        return empty, empty, empty
    return np.concatenate(outs_a), np.concatenate(outs_b), np.concatenate(outs_s)


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

    qids, qmat = collect_query_rows(
        queries, query_id, query_vec, max_query_rows,
        caller="knn_quantized_rerank",
    )
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
            cids = pdf[corpus_id].to_numpy()
            ri, ci, sc = rank_cap_matrix(scores.astype(np.float64), cids, shortlist)
            yield pd.DataFrame({query_id: ids[ri], corpus_id: cids[ci], "__approx": sc})

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
    JVM-side, keep top-k per query on (6-dp score desc, id asc).
    Full-precision reads are proportional to the shortlist size, so the
    stage costs the same whether the corpus is 1 GB or 100 TB.
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
            F.round(V.cosine(F.col("__qv"), F.col("__cv")), 6).alias(score_col),
        )
    )
    return grouped_topk(
        exact, [query_id], [F.desc(score_col), F.asc(corpus_id)], k
    ).select(query_id, corpus_id, "rank", score_col)
