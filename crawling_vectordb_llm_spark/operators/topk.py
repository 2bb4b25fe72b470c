"""Grouped top-k — the reference's only ordering op.

`searchByText(limit=3)` (reference main_server.py:41) is semantically
`ORDER BY score DESC LIMIT k` per query.  Spark-first: a ranking window.
Ties are broken by an explicit id column so results are deterministic and
oracle-hash-stable (SURVEY §7 hard part b).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """row_number over (group) ordered by order_cols, keep rank<=k.

    At scale: this is a single shuffle on the group key with map-side
    partial sort; AQE handles skewed groups.  For top-k over the WHOLE
    table prefer orderBy().limit(k) which Spark executes as TakeOrdered
    (no full sort, no full shuffle).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def global_topk_ranked(
    df: DataFrame,
    asc_key: list[Column],
    payload: list[str],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k over the WHOLE table with a dense 1..k rank and NO global
    window (VERDICT r4 #8): `orderBy().limit(k)` executes as
    TakeOrdered (per-partition heaps, no full sort/shuffle), the <= k
    survivors aggregate into ONE sorted array, and posexplode assigns
    rank = position + 1 — an aggregate + generate where a
    single-partition WindowExec used to be.

    `asc_key`: Columns forming the ASCENDING composite total order
    (negate numeric columns for descending); must be total (ties broken
    by a unique column) for the rank to be deterministic.  `payload`:
    column names carried through to the output, in output order.
    """
    top = df.orderBy(*asc_key).limit(k)
    row = F.struct(
        *[c.alias(f"__k{i}") for i, c in enumerate(asc_key)],
        F.struct(*payload).alias("__p"),
    )
    arr = top.agg(F.sort_array(F.collect_list(row)).alias("__a"))
    return arr.select(F.posexplode("__a").alias("__pos", "__r")).select(
        "__r.__p.*", (F.col("__pos") + 1).cast("int").alias(rank_col)
    )


# Default bound for query-side collects across the ANN ladder.  The
# bounded-collect contract (knn.py docstrings; reference issues one query
# text at a time, main_server.py:41) assumes <= ~100k queries; 1M leaves
# 10x headroom over that.  At 1024 dims 1M float64 rows would be 8 GB, too
# big for the driver — but the guard's point is a CLEAR error before that
# allocation, not a silent OOM; lower it per-call for wide vectors.
DEFAULT_MAX_QUERY_ROWS = 1_000_000

def collect_query_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int = DEFAULT_MAX_QUERY_ROWS,
    caller: str = "knn",
) -> tuple[np.ndarray, np.ndarray]:
    """Collect the small (query) side of an ANN operator with an explicit
    runtime bound, as `(ids, float64 matrix)`: row i of the matrix is the
    vector of query `ids[i]`.

    One Arrow collect: limit(max_rows + 1) caps what ever reaches the
    driver, so an oversized query relation raises ValueError after
    materializing at most max_rows + 1 rows as columnar buffers instead
    of OOM-ing on the full relation.  Below the cap the limit is a no-op
    and every row is returned (order is irrelevant — callers build
    per-query top-k, never order-sensitive state).
    """
    pdf = df.select(id_col, vec_col).limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"{caller}: query side exceeds max_query_rows={max_rows}; "
            "the query relation is broadcast to every task and must stay "
            "small — pre-aggregate, batch the queries, or use the "
            "distributed similarity join (knn.threshold_similarity_join) "
            "instead"
        )
    return pdf[id_col].to_numpy(), np.array(pdf[vec_col].tolist(), dtype=np.float64)


def rank_cap(
    group: np.ndarray, score: np.ndarray, ids: np.ndarray, k: int
) -> np.ndarray:
    """Positions of the (group, score, id) triples that rank < k within
    their group under (score desc, id asc), ordered by (group, rank):
    the one order of every query-side top-k, with `score` already
    rounded to 6 dp.  One lexsort, so ties at any score are cut by id
    whatever order the triples arrive in."""
    order = np.lexsort((ids, -score, group))
    g = group[order]
    first = np.ones(len(g), dtype=bool)
    first[1:] = g[1:] != g[:-1]
    pos = np.arange(len(g))
    rank = pos - np.maximum.accumulate(np.where(first, pos, 0))
    return order[rank < k]


def rank_cap_matrix(
    scores: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each row's top k of a dense (rows × columns) score matrix, column j
    being `ids[j]`, as (row, column, 6-dp score) triples in rank_cap's
    order.  Only columns at or above a row's k-th 6-dp score can rank
    under k, so one np.partition finds that score and rank_cap sorts
    just the columns that reach it — at least k per row, more only when
    the k-th score is tied."""
    rs = np.round(scores, 6)
    if 0 < k < rs.shape[1]:
        kth = np.partition(rs, rs.shape[1] - k, axis=1)[:, rs.shape[1] - k]
        ri, ci = np.nonzero(rs >= kth[:, None])
    else:
        ri, ci = np.nonzero(np.ones(rs.shape, dtype=bool))
    s = rs[ri, ci]
    keep = rank_cap(ri, s, ids[ci], k)
    return ri[keep], ci[keep], s[keep]


def adaptive_shortlist(
    n_corpus: int,
    floor: int = 256,
    k: int | None = None,
    frac_num: int = 15,
    frac_den: int = 100,
) -> int:
    """THE scale-aware ANN shortlist rule (VERDICT r5 #8: previously
    inlined per query family; one helper so the next ANN op can't
    reintroduce a fixed constant):

        shortlist = max(floor, 4k if k, ceil(frac_num/frac_den * n))

    Exact integer ceil (``-(-num*n // den)``) — no float fraction, so the
    result is bit-stable across platforms (0.15 * 20000 in binary float
    is 3000.0000000000005; ceil of that would be 3001 on some paths).

    Why a fraction with a floor — measured-margin table, all on the
    fresh-entropy ISOTROPIC hash-embedding fixtures (no cluster
    structure: the provable worst case for every coarse stage; clustered
    corpora sit far higher, SCALE.md):

    stage 1 family        worst true-top-k stage-1 rank   default floor
    --------------------  ------------------------------  -------------
    PQ ADC, 64 codes      ~7.5% of n at n=2000; heavy      256 (2.4x the
                          small-n variance (21.6% of 500   worst small-n
                          on one fixture draw)             rank)
    Hamming sign-bits     144/500 sf0.01, 640/2000 sf0.1,  1024 (covers
                          1270/20000 fresh sf1 (contrast   every measured
                          improves with n: 6.4% at 20k)    fixture)
    IVF-PQ residual ADC,  recall 0.27 with fixed 256 at    256 (small-n
    16 codes, 12/16 cells n=20k -> 0.76 at 0.15n (candi-   only; fraction
                          date band tracks n)              governs at sf1)

    frac_num/frac_den = 15/100 is ~2x the worst measured large-n
    fraction for every family above.  The fraction is scale-free on
    isotropic geometry, so the margin holds at every sf; the floor only
    governs small corpora where a handful of outlier collisions
    dominates.  Callers using coarser codebooks (<64 PQ codes) must
    re-margin themselves — see pq.pq_knn_rerank's auto-mode history.
    """
    sl = max(floor, -(-frac_num * n_corpus // frac_den))
    if k is not None:
        sl = max(sl, 4 * k)
    return sl


def adaptive_cluster_count(
    n_corpus: int, target_cell: int = 2_000, floor: int = 8
) -> int:
    """Scale-aware k for cell-partitioned quadratic ops (SemDeDup greedy
    prune, IVF coarse cells used as dedup blocks): k = max(floor,
    n // target_cell), i.e. cluster COUNT grows with the corpus and the
    expected CELL SIZE stays ~target_cell — the SemDeDup recipe (Abbas
    et al. 2023 used ~n/2500 clusters for LAION).  A fixed k makes every
    per-cell O(cell²) stage quadratic in n (the r6 three-point bench
    measured semantic_dedup at marginal exponent 1.51 with k=8 fixed);
    with k ∝ n the per-cell work is O(target_cell²) and the total is
    linear.  Floor 8 keeps small fixtures (driver sf0.01/sf0.1, where
    n // 2000 ≤ 1) on their historical cell geometry, so oracle
    artifacts are unchanged below 18k vectors."""
    return max(floor, n_corpus // target_cell)


def global_rank(
    df: DataFrame,
    asc_key: list[Column],
    rank_col: str = "rank",
) -> DataFrame:
    """Dense global 1..n rank over an arbitrary total order for the WHOLE
    table, with NO single-partition window and NO second full shuffle —
    the scale-correct form of `row_number() OVER (ORDER BY ...)` when the
    output is the full corpus (a training-shuffle permutation, a global
    sort position) rather than a top-k.

    How: `repartitionByRange` totally orders the partitions on the key
    and `sortWithinPartitions` orders rows inside each; after that,
    `monotonically_increasing_id()` is (partition_id << 33) + a
    CONTIGUOUS 0-based row offset in exactly the sorted order, so the
    global rank is recoverable arithmetically: one tiny per-partition
    aggregate (count + min id per partition — partial-aggregated, a
    #partitions-row table) gets cumulative offsets via a window over
    those few rows, broadcasts back, and
    rank = partition_offset + (id - partition_min_id) + 1.

    Cost at 100 TB: ONE range shuffle (which any global order needs) +
    one partial aggregate + a broadcast join — vs the naive global
    window, which funnels every row through a single task.  `asc_key`
    must be a total order (tie-break with a unique column) for the rank
    to be deterministic.
    """
    part = (
        df.repartitionByRange(*asc_key)
        .sortWithinPartitions(*asc_key)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        # Pin the non-deterministic ids ONCE: `part` feeds both the stats
        # branch and the join branch below, and the rank arithmetic needs
        # BOTH branches to observe identical range boundaries and
        # in-partition order.  Without the checkpoint that only holds
        # because ReuseExchange happens to dedupe the identical range
        # exchange — a planner change would silently corrupt ranks.
        .localCheckpoint()
    )
    stats = part.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__n"), F.min("__mid").alias("__m0")
    )
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = stats.select(
        "__pid",
        "__m0",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off"),
    )
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_col, (F.col("__off") + (F.col("__mid") - F.col("__m0")) + 1)
        )
        .drop("__pid", "__mid", "__m0", "__off")
    )
