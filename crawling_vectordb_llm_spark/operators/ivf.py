"""IVF (inverted-file) approximate nearest-neighbor search — the batch
stand-in for the reference's HNSW index (TencentVDB.py:46: HNSW m=16,
efConstruction=200; search ef=100 → here: n_centroids / n_probe are the
recall/latency knobs, SURVEY §4).

Build (the "create index" analog, batch):
  1. KMeans over (a sample of) the corpus → centroid matrix
  2. assign every vector to its nearest centroid (one numpy GEMM pass);
     the cell is a `centroid_id` column of the corpus itself
     (VectorCollection keeps it in every version of the collection).

Search reads every row and skips the unprobed cells inside the kernel:
  1. score queries × centroids (tiny GEMM on the driver)
  2. per query keep n_probe nearest cells
  3. exact-score only vectors in probed cells, top-k — exact search's
     kernel (knn.knn_topk_matrix) over the stored cells.

Recall is testable against exact kNN
(tests/test_extended_ops.py::test_ivf_recall_vs_exact); n_probe =
n_centroids degrades to exact search.

Exact pruned self-joins (ivf_pruned_threshold_join, ivf_pruned_topk_join):
the same cells prune cell PAIRS that provably hold no pair >= tau
(angular triangle inequality) and a chunked GEMM verifies the rest.  The
filter only pays when it skips enough work, so with n_cells=None the
join prices two exact grids with one model, candidate_pairs +
REPL_PAIR_COST · replicated_rows, and runs the cheaper: the fine cell
grid, or the triangular block grid every exact self-join in knn already
runs (n(n−1)/2 pairs, P copies per row).  Both are exact, so the rows do
not depend on the choice.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.knn import knn_topk_matrix
from crawling_vectordb_llm_spark.operators.topk import (
    DEFAULT_MAX_QUERY_ROWS,
    collect_query_rows,
    grouped_topk,
)
from crawling_vectordb_llm_spark.session import local_frame


def _normalize(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


# --- geometry-adaptive cell sizing for the exact pruned self-joins ---
#
# CLUSTERED_SF9_r11.json showed the triangle-inequality prune runs the
# bounded join at marginal exponent ~1 when cell COUNT tracks the corpus
# (192/576 cells at 60k/180k, hand-set) — while the r8-r11 default of a
# fixed 16 cells silently decays any growing clustered corpus toward the
# admit-everything n² regime once clusters outnumber cells (VERDICT r11
# #1).  n_cells=None (the new default) makes that sizing automatic:
# cells target ~ADAPTIVE_CELL_TARGET_ROWS rows each (the SemDeDup k ∝ n
# recipe, same pattern as topk.adaptive_cluster_count; 320 matches the
# published clustered operating point of ~2 cells per 625-row cluster,
# tools/clustered_bench.py), floored at the historical 16 so every
# driver fixture (≤2k vectors) keeps its exact r8-r11 geometry, and
# capped so the driver-side k-means fit and the O(k²) admission matrix
# stay bounded at any corpus size (at the cap, prune granularity is
# 2048 cells and the per-cell row count grows — the documented trade).
ADAPTIVE_CELL_TARGET_ROWS = 320
ADAPTIVE_CELL_FLOOR = 16
# r13 (VERDICT r12 #2): the adaptive cap is raised 2048 -> 8192 and the
# regime ABOVE the old cap runs a HIERARCHICAL (two-level) fit +
# two-step assignment — per-parent fine fits train DISTRIBUTED
# (applyInPandas; only k·d centroid floats return to the driver, so the
# old ~1 GiB sample collect at cap×d=1024 is gone from this regime) and
# assignment costs n·(√k + k/√k)·d instead of n·k·d.  k <= FLAT_CELL_CAP
# keeps the r8-r12 flat driver-side fit bit-for-bit, so every existing
# fixture/artifact geometry is unchanged.  The remaining cap-8192 bounds
# the driver-side O(k²) admission matrix (537 MB of bools and a few k²
# passes) — past ~2.6M rows per fit, per-cell size grows again (the
# documented trade, now 4× later than r12).
ADAPTIVE_CELL_CAP = 8_192
FLAT_CELL_CAP = 2_048
# coarse parents probed per row in the hierarchical two-step assignment
# (see _ivf_pruned_replicated): 4 reproduced flat-assignment admit rates
# exactly in the 120k diagnostic; 8 buys boundary margin at ~2× the fine
# GEMM term, still ~10× under flat argmax at the cap
HIER_ASSIGN_PROBES = 8

# Cost-model constant for the grid choice: one replicated row costs
# about as much as this many admitted candidate pairs.  Measured at the
# r11 third scale point (EXP_SF9_DIAG_r11.json, sf9 side): replication/
# prep 6.2 s for 3.06M shuffled rows (2.0e-6 s/row) vs GEMM 93.3 s for
# 1.62e10 pairs (5.8e-9 s/pair) → ratio ≈ 350.  Both sides scale with d
# (bytes vs flops), so the ratio is roughly dimension-invariant.
REPL_PAIR_COST = 350.0

# Admit-rate guardrail (VERDICT r11 #1b): when the fine-granularity
# prune admits most of the pair grid on a corpus past this size, the
# geometry is effectively structure-free and the exact join is
# provably ~n²/2 compute in ANY engine — warn and name the
# recall-gated sub-quadratic ladder instead of running quadratic
# silently at 100 TB.
ADMIT_WARN_RATE = 0.5
ADMIT_WARN_MIN_ROWS = 32_768

ADMIT_GUARDRAIL_MSG = (
    "ivf_pruned join: the angular prune admits {rate:.0%} of all "
    "{pairs} vector pairs at n={n} ({cells} cells) — the corpus has "
    "little cluster structure at this granularity, so the EXACT join is "
    "~n²/2 compute in any engine (EXP_SF9_DIAG_r11.json).  If recall "
    "1.0 is not required, use the recall-gated approximate ladder "
    "instead: ivf_topk/ivf_search (probe n_probe of n_cells), "
    "pq.pq_knn_rerank / pq.ivfpq_topk (ADC shortlist + exact rerank), "
    "or dedup.minhash_lsh_near_dup (banded LSH)."
)


def adaptive_cell_count(n: int) -> int:
    """Default fine-grid cell count for the exact pruned self-joins:
    k = clamp(n // 320, 16, 8192) — cluster count grows with the corpus
    so per-cell size stays ~constant and cluster structure keeps being
    convertible into skipped blocks at any scale (see module constants
    above for the derivation and the floor/cap rationale; above
    FLAT_CELL_CAP the fit/assignment go hierarchical, r13)."""
    return max(
        ADAPTIVE_CELL_FLOOR,
        min(ADAPTIVE_CELL_CAP, n // ADAPTIVE_CELL_TARGET_ROWS),
    )


def _grid_costs(
    counts: np.ndarray, admit: np.ndarray, n_blocks: int, max_cell_rows: int
) -> tuple[float, float, float]:
    """(fine candidate_pairs, cells_cost, blocks_cost): the two exact
    grids priced by one model, candidate_pairs + REPL_PAIR_COST ·
    replicated_rows.  The fine cell grid has counts[i] rows in cell i and
    the symmetric cell-pair admission `admit` (a cell with itself is
    always admitted); cells larger than max_cell_rows hash-split into
    sub-blocks exactly as the executor will, and candidate_pairs is
    exact because sub-splitting partitions each cell (Σ over sub-pairs
    of a cell pair = n_i·n_j; diagonal = n_i(n_i−1)/2).  The triangular
    block grid on n_blocks = P blocks scores all n(n−1)/2 pairs and
    ships P copies of every row."""
    off = admit & ~np.eye(len(counts), dtype=bool)
    cand = 0.5 * float(counts @ (off @ counts)) + float(
        (counts * (counts - 1) / 2).sum()
    )
    nsub = np.maximum(1, np.ceil(counts / max_cell_rows))
    repl = float(counts @ (off @ nsub)) + float((counts * nsub).sum())
    n = float(counts.sum())
    return (
        cand,
        cand + REPL_PAIR_COST * repl,
        n * (n - 1) / 2 + REPL_PAIR_COST * n_blocks * n,
    )


def bounded_random_sample(
    df: DataFrame,
    cols: list[str],
    sample_limit: int,
    seed: int,
    n_out: "dict | None" = None,
    n: "int | None" = None,
) -> list:
    """Collect a seeded RANDOM sample of up to sample_limit rows — the
    shared trainer-sampling primitive for every codebook/centroid fit.
    `.limit()` alone takes whole first partitions, which on a sorted or
    clustered corpus trains on one region of the space and silently
    degrades recall (ADVICE r1).  Every row has UNIFORM inclusion
    probability: Bernoulli-sample at 1.2x the target fraction (no
    `.limit()` chaser — that would re-bias against the tail of the
    partition order, ADVICE r2), then trim to sample_limit on the driver
    after a seeded shuffle.  Seeded → deterministic per layout.

    The returned rows are SORTED by value before handing them to the
    trainer (ADVICE r3): float k-means/codebook fits are
    accumulation-order-sensitive, so pinning the row order makes every
    downstream fit bit-reproducible for a given sample SET even if
    Spark's collect delivers partitions in a different order run to run.
    Sorting ≤sample_limit (200k) rows on the driver is milliseconds next
    to the fit itself.

    Cost note: corpora at or under sample_limit (every training set is,
    by definition of the limit) pay exactly ONE collect — the limit+1
    probe detects that everything fit and no count/sample jobs run.  Only
    a genuinely larger corpus pays the count + sampled second pass.  A
    caller that already counted the corpus passes that count as `n`: at
    or under the limit the probe becomes a plain collect (one job, where
    the probe's take can scale up into several), and above it the probe
    and the count are skipped."""
    import random

    def _pinned(rows: list) -> list:
        rows.sort(
            key=lambda r: tuple(
                tuple(v) if isinstance(v, (list, tuple)) else v for v in r
            )
        )
        return rows

    # r14 (guide §1/§5): the probe LEARNS the exact row count whenever the
    # whole relation fits under the cap (len(rows) IS n then), and the
    # over-cap branch counts anyway — expose it through n_out so callers
    # that need n for sizing (pq_knn_rerank's adaptive shortlist) don't
    # pay a separate count job for a number this call already knows.
    if n is None or n <= sample_limit:
        # a known n at or under the cap needs no limit+1 probe
        probe = df.select(*cols)
        rows = (probe if n is not None else probe.limit(sample_limit + 1)).collect()
        if len(rows) <= sample_limit:
            if n_out is not None:
                n_out["n"] = len(rows)
            return _pinned(rows)
        n = df.count()
    if n_out is not None:
        n_out["n"] = n
    fraction = min(1.0, 1.2 * sample_limit / n)
    sampled = df.select(*cols).sample(fraction=fraction, seed=seed).collect()
    if len(sampled) <= sample_limit:
        return _pinned(sampled)
    # pin before the seeded shuffle so the trimmed SUBSET is also
    # independent of collect order, not just the final row order
    _pinned(sampled)
    random.Random(seed).shuffle(sampled)
    return _pinned(sampled[:sample_limit])


def _segment_sums(x_sorted: np.ndarray, starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment column sums over assignment-sorted rows, exact for
    EMPTY and TRAILING-EMPTY segments (ADVICE r12: `np.add.reduceat`
    clips trailing empty segments' start indices to len(x)-1, which
    silently drops the last sorted row from its own segment's sum —
    verified sum [10,12] where [18,21] was expected).  Prefix-sum
    differencing has no such index clipping: segment i's sum is
    csum[start_i + count_i] - csum[start_i], which is exactly the rows
    in [start_i, start_i + count_i) for every segment including empty
    ones (count 0 → a zero row).  Deterministic for a fixed row order
    (cumsum is a fixed left-to-right accumulation)."""
    dt = x_sorted.dtype if x_sorted.dtype.kind == "f" else np.float64
    csum = np.vstack(
        [np.zeros((1, x_sorted.shape[1]), dtype=dt),
         np.cumsum(x_sorted, axis=0, dtype=dt)]
    )
    return csum[starts + counts] - csum[starts]


def _kmeanspp_init(x: np.ndarray, k: int, rng) -> np.ndarray:
    """k-means++ (D²) seeding on the unit sphere (Arthur &
    Vassilvitskii 2007; the FAISS/scikit-learn default): each next seed
    is drawn with probability ∝ its squared distance to the nearest
    chosen seed — on unit vectors ||a-b||² = 2(1-cos), so 1-cos is the
    proportional weight.  Replaces uniform sample-point init (r12):
    with K tight, near-orthogonal clusters and k ≈ 2K uniform picks,
    ~e^(-k/K)·K ≈ 14% of clusters get NO seed; in high-d geometry Lloyd
    cannot migrate a centroid across ~90° gaps, so orphan clusters
    scatter onto foreign cells and blow up those cells' angular radii —
    measured at d=1024 clustered 180k: fine-grid admit_rate 0.163
    (rising with n) and consumer exponent 1.525 under uniform init,
    see CLUSTERED_DIM1024_r12.json vs the d=64 run.  D² seeding picks
    far-apart points, covering every separated cluster with high
    probability, and is deterministic for a fixed rng.

    The D² pass is k SEQUENTIAL (n·d) sweeps, so it runs on a seeding
    POOL of ≤32·k points subsampled uniformly from the training sample
    (coverage is all seeding needs: a cluster holding mass m/n of the
    corpus lands ~32k·m/n pool points, so any cluster big enough to
    deserve a centroid is present w.h.p.) — without the pool cap the
    seeding alone cost more than the pruned join it serves at k≈562
    (first CLUSTERED_SF9 rerun: 180k-side wall 51 s vs 31 s, all of it
    driver-side seeding sweeps)."""
    n = len(x)
    k = min(k, n)
    if n > 32 * k:
        x = x[rng.choice(n, size=32 * k, replace=False)]
        n = len(x)
    cents = np.empty((k, x.shape[1]), dtype=np.float64)
    cents[0] = x[int(rng.integers(n))]
    d2 = np.maximum(1.0 - x @ cents[0], 0.0)
    for j in range(1, k):
        tot = float(d2.sum())
        if tot <= 1e-12:
            # every point coincides with a chosen seed: any index works
            idx = int(rng.integers(n))
        else:
            idx = int(rng.choice(n, p=d2 / tot))
        cents[j] = x[idx]
        np.minimum(d2, np.maximum(1.0 - x @ cents[j], 0.0), out=d2)
    return cents


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 15,
    sample_limit: int = 200_000,
    sample_out: "dict | None" = None,
    n: "int | None" = None,
) -> np.ndarray:
    """Centroid fit on a bounded sample — standard IVF practice at any
    scale (FAISS trains on ~max(10k, 50*k) points): one distributed pass
    collects the sample, then k-means++ seeding (r12, _kmeanspp_init —
    uniform init left ~14% of well-separated clusters seedless and
    poisoned the triangle-bound radii at d=1024) and vectorized Lloyd
    iterations run on the driver (no per-iteration Spark job overhead).
    Returns the L2-normalized centroid matrix, deterministic for a
    fixed seed.

    The EFFECTIVE sample is additionally capped at max(10k, 256·k)
    points (FAISS's 39-256 points-per-centroid training rule), so the
    trainer's collect + Lloyd cost is CORPUS-SIZE-INDEPENDENT above the
    cap — the round-6 three-point bench showed the 200k-or-corpus
    sample made every kmeans-built query's train term grow linearly
    with n for zero recall benefit (r6 slope fits; recall gates
    re-verified at all scales after the cap).  `n`, when the caller has
    already counted the corpus, spares the sampler its own count."""
    sample_limit = min(sample_limit, max(10_000, 256 * n_centroids))
    # sample_out = {x, n} exposes the normalized training matrix (one
    # row per sampled vector, in bounded_random_sample's pinned order) and
    # the corpus count the probe learned, so a consumer whose OWN bounded
    # sample would provably be the identical row list — i.e. when this
    # sample already holds the ENTIRE corpus and the consumer's cap also
    # covers it — can reuse it instead of paying a second collect.  Reuse
    # is gated on bit-identity, never on "close enough": above either cap
    # the consumer samples exactly as before.
    nstat: dict = {}
    rows = bounded_random_sample(
        corpus, [vec_col], sample_limit, seed, n_out=nstat, n=n
    )
    x = _normalize(np.array([r[0] for r in rows], dtype=np.float64))
    if sample_out is not None:
        sample_out.update(x=x, n=nstat["n"])
    rng = np.random.default_rng(seed)
    cents = _kmeanspp_init(x, min(n_centroids, len(x)), rng)
    return _lloyd_sphere(x, cents, max_iter)


def _lloyd_sphere(x: np.ndarray, cents: np.ndarray, max_iter: int) -> np.ndarray:
    """Vectorized spherical Lloyd iterations over unit rows — the shared
    fit kernel for the driver-side flat fit and the executor-side
    per-parent fits of the hierarchical path (r13).  Deterministic for a
    fixed (x row order, cents)."""
    k = len(cents)
    for _ in range(max_iter):
        assign = np.argmax(x @ cents.T, axis=1)
        # vectorized centroid update: ONE segment-sum over the
        # assignment-sorted rows (r12) instead of d per-dim bincounts —
        # the bincount loop was d Python-level O(n) passes per
        # iteration, invisible at d=64 but ~half the fit wall at the
        # reference's d=1024 (CLUSTERED_DIM1024_r12.json history).
        # Stable argsort keeps the summation order deterministic;
        # _segment_sums (prefix-sum differencing, r13) is exact under
        # empty and trailing-empty cells where reduceat was not.
        counts = np.bincount(assign, minlength=k)
        order = np.argsort(assign, kind="stable")
        starts = np.zeros(k, dtype=np.int64)
        starts[1:] = np.cumsum(counts)[:-1]
        sums = _segment_sums(x[order], starts, counts)
        new = np.where(
            counts[:, None] > 0,
            sums / np.maximum(counts, 1)[:, None],
            cents,
        )
        new = _normalize(new)
        if np.allclose(new, cents, atol=1e-9):
            break
        cents = new
    return cents


def kmeans_centroids_hier(
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    points_per_cell: int = 64,
    coarse_k: "int | None" = None,
    n: "int | None" = None,
) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """TWO-LEVEL centroid fit for cell counts past FLAT_CELL_CAP (r13,
    VERDICT r12 #2) — the IVF-within-IVF the flat fit can't reach:

      level 1: a small driver-side fit of ~√k COARSE parents (the
               existing bounded-sample kmeans_centroids path);
      level 2: the training sample stays DISTRIBUTED — one mapInPandas
               pass tags each sampled vector with its parent, then one
               applyInPandas task PER PARENT runs the same k-means++ +
               spherical-Lloyd kernel on its own rows for its share of
               the k fine cells (largest-remainder allocation ∝ parent
               sample mass).  Only the k·d centroid floats are ever
               collected — the flat path's 64·k·d·8-byte sample collect
               (~1 GiB at k=2048, d=1024) does not exist here, and the
               fit compute runs on the executors.

    Returns (fine_centroids sorted by parent, parent_of_fine, coarse):
    fine is the L2-normalized (≤k)×d matrix, parent_of_fine[i] the
    coarse parent that trained fine cell i, coarse the level-1 matrix —
    together they let assignment run TWO-STEP (argmax over √k parents,
    then argmax over that parent's fine cells: n·(√k + k/√k)·d instead
    of n·k·d, which at k ∝ n is the difference between O(n^1.5) and
    O(n²) assignment flops).  A two-step assignment need not be the global
    argmax near parent boundaries; exactness NEVER depends on that
    (radii are computed from the actual assignment), only prune
    tightness does, and only marginally.  Deterministic for a fixed
    seed and sample layout (per-parent rng seeded by (seed, parent);
    rows value-sorted before each fit, the bounded_random_sample
    contract)."""
    spark = corpus.sparkSession
    if n is None:
        n = corpus.count()
    k = max(1, min(k, n))
    if coarse_k is None:
        coarse_k = max(ADAPTIVE_CELL_FLOOR, int(np.ceil(np.sqrt(k))))
    coarse = kmeans_centroids(
        corpus, coarse_k, vec_col, seed=seed, max_iter=max_iter,
        sample_limit=max(10_000, points_per_cell * coarse_k), n=n,
    )
    bc = spark.sparkContext.broadcast(coarse)

    target = min(n, max(10_000, points_per_cell * k))
    frac = min(1.0, 1.2 * target / max(n, 1))
    samp = corpus.select(vec_col).sample(fraction=frac, seed=seed)

    def _tag_parent(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            yield pd.DataFrame(
                {
                    "__parent": np.argmax(mat @ cents.T, axis=1).astype(np.int32),
                    "__v": pdf[vec_col],
                }
            )

    vec_t = corpus.schema[vec_col].dataType.simpleString()
    tagged = samp.mapInPandas(
        _tag_parent, schema=f"__parent int, __v {vec_t}"
    ).localCheckpoint(eager=False)

    # largest-remainder allocation of the k fine cells over parents,
    # ∝ parent sample mass (k_c counts on the driver — nothing else)
    mass = {
        int(r["__parent"]): int(r["n"])
        for r in tagged.groupBy("__parent").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(mass.values())
    quota = {p: k * m / total for p, m in mass.items()}
    alloc = {p: max(1, int(q)) for p, q in quota.items()}
    leftover = k - sum(alloc.values())
    if leftover > 0:
        by_frac = sorted(
            quota, key=lambda p: (quota[p] - int(quota[p]), p), reverse=True
        )
        for p in by_frac[:leftover]:
            alloc[p] += 1
    bc_alloc = spark.sparkContext.broadcast(alloc)

    def _fit_parent(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(key[0])
        ki = bc_alloc.value.get(p, 1)
        x = _normalize(np.array(list(pdf["__v"]), dtype=np.float64))
        x = x[np.lexsort(x.T)]  # pin row order: fit is a function of the SET
        rng = np.random.default_rng([seed, p])
        cents = _lloyd_sphere(x, _kmeanspp_init(x, min(ki, len(x)), rng), max_iter)
        return pd.DataFrame(
            {
                "parent": np.full(len(cents), p, dtype=np.int32),
                "ordinal": np.arange(len(cents), dtype=np.int32),
                "centroid": [c for c in cents],
            }
        )

    rows = (
        tagged.groupBy("__parent")
        .applyInPandas(_fit_parent, schema="parent int, ordinal int, centroid array<double>")
        .collect()
    )
    rows.sort(key=lambda r: (r["parent"], r["ordinal"]))
    fine = _normalize(np.array([r["centroid"] for r in rows], dtype=np.float64))
    parent_of = np.array([r["parent"] for r in rows], dtype=np.int32)
    return fine, parent_of, coarse


def assign_centroids(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """`corpus` with `centroid_id` (the nearest cosine centroid of each
    vector) set on every row: one GEMM per Arrow batch, over the vector
    column alone, so a plan that reads no cell prunes the pass.
    Callers select the columns they need."""
    bc = corpus.sparkSession.sparkContext.broadcast(centroids)

    @F.arrow_udf("int")
    def _cell(vecs: pa.Array) -> pa.Array:
        cents = bc.value
        flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        mat = _normalize(flat.reshape(len(vecs), cents.shape[1]))
        return pa.array(np.argmax(mat @ cents.T, axis=1).astype(np.int32))

    # The cell is deterministic, but a join on it infers an
    # isnotnull(centroid_id) filter, and the optimizer pushes that filter
    # below the projection with a copy of the UDF: every batch ran the
    # GEMM twice (semantic_dedup's plan had 4 UDF passes instead of 2).
    # A nondeterministic UDF is not copied.
    return corpus.withColumn("centroid_id", _cell.asNondeterministic()(F.col(vec_col)))


def ivf_search(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    centroids: np.ndarray,
    k: int,
    n_probe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Probe the n_probe nearest cells per query, exact-score only those
    cells' vectors, return top-k as (query_id, corpus_id, rank, score).
    `assigned_corpus` needs a non-null `centroid_id` column.

    This is exact search's kernel (`knn.knn_topk_matrix`) over the
    stored cells: the query side is collected under the same bound as
    knn_join_numpy and broadcast, and each corpus partition GEMMs every
    Arrow batch's cell groups against only the queries probing that
    cell, keeping a partition-local top-k per query.  Shuffle volume is
    partitions x queries x k score triples — independent of corpus size
    and of n_probe.  (Joining broadcast (query, cell) pairs onto the
    corpus instead ships every candidate row with its vector once per
    probing query: ~5 GB for ~10 MB of output at 4k queries x 80k rows x
    8/128 probes, and 1.5-2.3x slower than exact search, SCALE.md.)
    Ranking is on (6-dp score desc, id asc) at every
    stage, so with every cell probed the rows equal knn_join_numpy's at
    any partitioning.  The scan itself still reads every row: unprobed
    cells are dropped inside the kernel, after decode."""
    qids, qmat = collect_query_rows(
        queries, query_id, query_vec, max_query_rows, caller="ivf_search"
    )
    return knn_topk_matrix(
        qids,
        qmat,
        assigned_corpus,
        k,
        centroids,
        n_probe,
        query_id=query_id,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        query_id_type=queries.schema[query_id].dataType.simpleString(),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    **cols,
) -> DataFrame:
    """Build + search in one call (fixture-scale convenience)."""
    vec_col = cols.get("corpus_vec", "embedding")
    id_col = cols.get("corpus_id", "vec_id")
    centroids = kmeans_centroids(corpus, n_centroids, vec_col)
    assigned = assign_centroids(corpus.select(id_col, vec_col), centroids, vec_col)
    return ivf_search(queries, assigned, centroids, k, n_probe, **cols)


def ivf_pruned_threshold_join(
    corpus: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: "int | None" = None,
    seed: int = 42,
    max_cell_rows: int = 65_536,
    gemm_chunk_rows: int = 2_048,
    score_col: str = "score",
    stats_out: dict | None = None,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """EXACT cosine-threshold self-join through IVF-cell candidate pruning
    — the composed "candidates → verify" pipeline (VERDICT r2 #2) with
    recall 1.0 BY CONSTRUCTION, not by tuning luck.

    Stage 1 (candidates): k-means cells over the corpus; every vector
    carries its cell id and its angle to the cell centroid.  By the
    angular triangle inequality, a pair (a in cell i, b in cell j) can
    have angle(a,b) <= theta_tau only if
    angle(c_i, c_j) - r_i - r_j <= theta_tau, where r_i is cell i's max
    member angle — so any cell PAIR violating that bound provably holds
    no qualifying vector pair and is pruned without scoring.  The bound
    is evaluated driver-side on the k x k centroid matrix (tiny).

    Stage 2 (verify): the surviving cell pairs run the same chunked
    GEMM kernel as knn.threshold_similarity_join (`_chunked_tau_gemm`) —
    one grouped task per admissible pair, diagonal pairs triangular,
    cross pairs oriented (a_id < b_id), nothing collected to the driver.
    Output is bit-identical to the exact join: same normalize, same
    rounding, each unordered pair emitted exactly once.

    Skew guard: cells larger than max_cell_rows are hash-split into
    sub-blocks (inheriting the cell's centroid and radius), so per-task
    memory stays bounded by max_cell_rows x gemm_chunk_rows regardless of
    how lopsided the clustering is — the semdedup.py max_cluster idea.

    Scale shape: prune efficiency is data-dependent — clustered corpora
    (the 100 TB dedup regime) skip most of the grid.  Replication per row
    = number of admissible pairs its cell participates in (<= K+1),
    versus the unconditional P of the unpruned grid.  With n_cells=None,
    when the cells would cost more than the unpruned grid (little
    structure to prune), the join runs `knn.threshold_similarity_join`
    on that grid instead — see _ivf_pruned_replicated.

    `stats_out`: pass a dict to receive the measured prune plan —
    {n, n_cells, fine_*, grid, cells_cost, blocks_cost,
    executed_blocks, admissible_blocks, total_blocks, candidate_pairs,
    total_pairs, admit_rate} — the instrumentation behind the SCALE.md
    clustered-geometry measurements (VERDICT r3 #2).  The executed_*,
    admissible/total block and candidate/admit keys describe the grid
    that ran; the fine_* keys are the fit sample's estimate when the
    sample alone picked the block grid; skipped when None.

    `centroids`: pass a persisted centroid matrix (plans/index_build.py)
    to skip the in-call k-means fit — the production regime, where the
    IVF index is built once per ingest and probed by every downstream
    join; the fit's driver-side Lloyd cost would otherwise be charged to
    every query at fixture scale."""
    from crawling_vectordb_llm_spark.operators.knn import (
        _chunked_tau_gemm,
        threshold_similarity_join,
    )

    spark = corpus.sparkSession
    prep = _ivf_pruned_replicated(
        corpus, tau, id_col, vec_col, n_cells, seed, max_cell_rows,
        centroids, stats_out,
    )
    if prep is None:
        return local_frame(spark, [], f"a_id long, b_id long, {score_col} double")
    if isinstance(prep, int):
        return threshold_similarity_join(
            corpus, tau, id_col, vec_col, score_col, n_blocks=prep,
            gemm_chunk_rows=gemm_chunk_rows,
        )
    replicated, diag_pks, id_t = prep
    bc_diag = spark.sparkContext.broadcast(diag_pks)

    def _gemm_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        diagonal = int(key[0]) in bc_diag.value
        a = pdf[pdf["__role"] == "a"]
        b = a if diagonal else pdf[pdf["__role"] == "b"]
        out = _chunked_tau_gemm(
            a["__id"].to_numpy(),
            np.array(list(a["__v"]), dtype=np.float64),
            b["__id"].to_numpy(),
            np.array(list(b["__v"]), dtype=np.float64),
            tau,
            gemm_chunk_rows,
            triangular=diagonal,
        )
        return pd.DataFrame({"a_id": out[0], "b_id": out[1], score_col: out[2]})

    return replicated.groupBy("__pk").applyInPandas(
        _gemm_pair, schema=f"a_id {id_t}, b_id {id_t}, {score_col} double"
    )


def _ivf_pruned_replicated(
    corpus: DataFrame,
    tau: float,
    id_col: str,
    vec_col: str,
    n_cells: "int | None",
    seed: int,
    max_cell_rows: int,
    centroids: "np.ndarray | None",
    stats_out: dict | None = None,
) -> "tuple[DataFrame, set, str] | int | None":
    """Shared stage-1 machinery for the IVF-pruned self-joins: k-means
    cells, per-vector angle to centroid, triangle-inequality cell-pair
    admission, skew sub-splitting, and replication of every row to its
    admitted block-pair tasks.  Returns (replicated rows with
    __id/__v/__pk/__role, diagonal pk set, id type) when the cell grid
    runs — the caller supplies the per-block-pair kernel (threshold
    emission or bounded top-k emission); an int P when the triangular
    block grid runs instead — the caller hands off to the knn join on
    P blocks; None for an empty corpus.

    n_cells=None (the default since r12) sizes the fine grid with
    `adaptive_cell_count(n)`, computes its admission, then makes ONE
    comparison with the cost model candidate_pairs + REPL_PAIR_COST ·
    replicated_rows: the fine cell grid (its admitted pairs and
    replication) against the triangular block grid at
    P = knn._pick_blocks(n, max_cell_rows, defaultParallelism) —
    n(n−1)/2 pairs and P·n replicated rows.  Cells win when the prune
    converts cluster structure into skipped pairs; the block grid wins
    when most pairs are admitted anyway and the cells would only add
    replication.  Past the in-call fit sample the grids are first priced
    on the sample, whose cell radii are lower bounds: when even that
    admission prices the block grid cheaper, the choice is made without
    the full-corpus radius pass (the fine_* stats are then the sample's
    estimate).  An explicit integer pins the cell grid.  OUTPUT is
    identical either way by exactness, but the in-call centroid fit
    changed in r12 (k-means++ init, max_iter=8, sample 64·k, new fp
    summation order), so prior rounds' admit/block stats and timings are
    not reproducible — only the grid shape and the exact output rows are
    (ADVICE r12).  Either way, when the fine-granularity prune admits
    most of the grid on a large corpus, an admit-rate guardrail warns
    and names the recall-gated approximate ladder (VERDICT r11 #1b) —
    the difference between a warning and a silently-quadratic job at
    100 TB."""
    import logging
    import warnings

    from crawling_vectordb_llm_spark.operators.knn import _pick_blocks

    spark = corpus.sparkSession
    n = corpus.count()
    if n == 0:
        return None
    adaptive = n_cells is None
    if adaptive:
        n_cells = adaptive_cell_count(n)
    k = max(1, min(n_cells, n))
    hier: "tuple[np.ndarray, np.ndarray] | None" = None
    if centroids is None and k > FLAT_CELL_CAP:
        # past the flat cap (r13, VERDICT r12 #2): two-level fit with
        # DISTRIBUTED per-parent training and two-step assignment —
        # n·(√k + k/√k)·d assignment flops instead of n·k·d, and no
        # large sample collect on the driver (kmeans_centroids_hier)
        centroids, parent_of, coarse_c = kmeans_centroids_hier(
            corpus, k, vec_col, seed=seed, max_iter=8, n=n,
        )
        hier = (coarse_c, parent_of)
    fit_x: "np.ndarray | None" = None
    if centroids is None and k <= FLAT_CELL_CAP:
        # Cell centroids are a PARTITIONING device, not a quantizer:
        # exactness never depends on them (radii are computed from the
        # actual assignment, and the triangle bound is evaluated on
        # those), only prune efficiency does — which k-means++ coverage
        # plus a few Lloyd rounds already delivers.  So the in-call fit
        # trains at 64 points/cell and 8 iterations instead of the ANN
        # quantizer's 256/15: at k ∝ n the fit term is the one
        # super-linear cost left in the pruned join (sample·k·d per
        # iteration), and the quantizer-grade fit pushed the d=1024
        # clustered wall to fit-dominated e≈1.4 with the prune itself
        # at admit 0.003 (CLUSTERED_DIM1024_r12.json history).  Callers
        # needing quantizer-grade cells pass `centroids` explicitly
        # (plans/index_build.py persists exactly that).
        #
        # The fit sample also prices the two grids on the driver (below):
        # exactly when it is the whole corpus (every fixture-scale call),
        # as a lower-bound admission otherwise.
        fit: dict = {}
        centroids = kmeans_centroids(
            corpus, k, vec_col, seed=seed, max_iter=8,
            sample_limit=max(10_000, 64 * k), sample_out=fit, n=n,
        )
        fit_x = fit["x"]
    k = centroids.shape[0]
    if hier is None:
        bc = spark.sparkContext.broadcast(centroids)

        def _assign_theta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cents = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
                sims = mat @ cents.T
                cid = np.argmax(sims, axis=1)
                theta = np.arccos(np.clip(sims[np.arange(len(cid)), cid], -1.0, 1.0))
                yield pd.DataFrame(
                    {
                        "__id": pdf[id_col],
                        "__v": pdf[vec_col],
                        "__cell": cid.astype(np.int32),
                        "__theta": theta,
                    }
                )
    else:
        # TWO-STEP MULTI-PROBE assignment (r13): rank the √k coarse
        # parents per row, fine-argmax within the UNION of the top
        # HIER_ASSIGN_PROBES parents' fine blocks —
        # n·(√k + probes·k/√k)·d flops instead of n·k·d (~10× cheaper
        # at the cap).  Single-probe routing is NOT enough: a tight
        # cluster sitting on a coarse boundary sends a few members to a
        # foreign parent whose fine cells are all far away, and those
        # strays fatten that cell's radius until it admits everything
        # (measured at 700k/d=64: single-probe fine admit_rate 0.123 vs
        # 0.005 for flat assignment; 4-probe reproduced the flat rate
        # exactly at 120k).  Exactness never depends on the routing —
        # radii are computed from the ACTUAL assignment and the
        # triangle bound is evaluated on those — only prune tightness
        # does.
        coarse_c, parent_of = hier
        p_used = np.unique(parent_of)
        p_starts = np.searchsorted(parent_of, p_used)
        p_counts = np.searchsorted(parent_of, p_used, side="right") - p_starts
        n_probe_assign = min(HIER_ASSIGN_PROBES, len(p_used))
        bc = spark.sparkContext.broadcast(
            (coarse_c[p_used], centroids, p_starts, p_counts, n_probe_assign)
        )

        def _assign_theta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            coarse_m, fine_m, starts_, counts_, m_probe = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
                sims_c = mat @ coarse_m.T
                probes = np.argsort(-sims_c, axis=1)[:, :m_probe]
                best_s = np.full(len(mat), -2.0)
                best_i = np.zeros(len(mat), dtype=np.int64)
                for r in range(probes.shape[1]):
                    pj = probes[:, r]
                    for j in np.unique(pj):
                        m = pj == j
                        blk = fine_m[starts_[j] : starts_[j] + counts_[j]]
                        s = mat[m] @ blk.T
                        loc = np.argmax(s, axis=1)
                        sv = s[np.arange(len(loc)), loc]
                        bi, bs = best_i[m], best_s[m]
                        upd = sv > bs
                        bi[upd] = starts_[j] + loc[upd]
                        bs[upd] = sv[upd]
                        best_i[m], best_s[m] = bi, bs
                theta = np.arccos(np.clip(best_s, -1.0, 1.0))
                yield pd.DataFrame(
                    {
                        "__id": pdf[id_col],
                        "__v": pdf[vec_col],
                        "__cell": best_i.astype(np.int32),
                        "__theta": theta,
                    }
                )

    id_t = corpus.schema[id_col].dataType.simpleString()
    vec_t = corpus.schema[vec_col].dataType.simpleString()
    assigned = corpus.select(id_col, vec_col).mapInPandas(
        _assign_theta,
        schema=f"__id {id_t}, __v {vec_t}, __cell int, __theta double",
    )
    theta_tau = float(np.arccos(np.clip(tau, -1.0, 1.0)))
    n_blocks = _pick_blocks(
        n, max_cell_rows, spark.sparkContext.defaultParallelism
    )

    def _price(cell_stats: dict, scale: float) -> tuple:
        cells = sorted(cell_stats)
        radii = np.array([cell_stats[c][0] for c in cells])
        counts = scale * np.array(
            [cell_stats[c][1] for c in cells], dtype=np.float64
        )
        # fine-grid admission: cell pair (i, j) can hold a qualifying
        # vector pair only if angle(c_i, c_j) - r_i - r_j <= theta_tau.
        # Evaluated in the COS domain (r13, XL_PHASE_r13):
        #   angle ≤ θτ + r_i + r_j  ⟺  dot ≥ cos(min(θτ + r_i + r_j, π))
        # and with x_i = θτ/2 + r_i the threshold cos(x_i + x_j) expands
        # by angle addition into just TWO outer products of per-cell
        # cos/sin — no kf² arccos (the transcendental was 7.5 s of the
        # per-join driver stall at kf=6.5k).  The angle-domain +1e-9
        # slack maps to ≥ cosT − sinT·1e-9 with sinT ≤ 1, so subtracting
        # 2e-9 is a conservative superset — a borderline difference only
        # ever ADDS provably-safe blocks.
        C = _normalize(centroids)[cells]
        dots = C @ C.T
        x = radii + 0.5 * theta_tau
        cos_t = np.outer(np.cos(x), np.cos(x))
        cos_t -= np.outer(np.sin(x), np.sin(x))
        cos_t -= 2e-9
        admit = dots >= cos_t
        # θτ + r_i + r_j ≥ π: the bound can't exclude anything on a sphere
        admit |= radii[:, None] + radii[None, :] >= np.pi - theta_tau
        return (cells, counts, admit) + _grid_costs(
            counts, admit, n_blocks, max_cell_rows
        )

    priced = None
    if fit_x is not None:
        # Price the fit sample first, with the exact executor expressions
        # (normalize → GEMM → argmax → arccos(clip)); max and count are
        # order-independent, so the sorted sample order is immaterial.
        # When the sample IS the corpus (every fixture-scale call) this is
        # the exact admission and `assigned` stays fully lazy.  Otherwise
        # the sample's cell radii are lower bounds, so its admission is a
        # subset of the corpus's: when even that prices the block grid
        # cheaper, the block grid runs without the full-corpus radius
        # pass, and the fine_* stats are the sample's estimate.
        sims_s = fit_x @ centroids.T
        cid_s = np.argmax(sims_s, axis=1)
        theta_s = np.arccos(
            np.clip(sims_s[np.arange(len(cid_s)), cid_s], -1.0, 1.0)
        )
        priced = _price(
            {
                int(c): (float(theta_s[cid_s == c].max()), int((cid_s == c).sum()))
                for c in np.unique(cid_s)
            },
            n / len(fit_x),
        )
        if len(fit_x) < n and not (adaptive and priced[-1] < priced[-2]):
            priced = None
    radius_pass = priced is None
    if radius_pass:
        # cache: the radius pass and the replicated verify pass both scan it
        assigned = assigned.localCheckpoint(eager=False)
        priced = _price(
            {
                int(r["__cell"]): (float(r["r"]), int(r["n"]))
                for r in assigned.groupBy("__cell")
                .agg(F.max("__theta").alias("r"), F.count(F.lit(1)).alias("n"))
                .collect()
            },
            1.0,
        )
    cells, counts, admit, fine_cand, cells_cost, blocks_cost = priced
    kf = len(cells)

    # guardrail on the GEOMETRY (fine granularity), independent of the
    # executed grid: admit_rate ~1 at scale means no exact method beats
    # ~n²/2 here — say so and point at the sub-quadratic ladder.
    total_pairs = n * (n - 1) // 2
    fine_admit_rate = fine_cand / max(total_pairs, 1)
    if n >= ADMIT_WARN_MIN_ROWS and fine_admit_rate >= ADMIT_WARN_RATE:
        msg = ADMIT_GUARDRAIL_MSG.format(
            rate=fine_admit_rate, pairs=total_pairs, n=n, cells=kf
        )
        if not adaptive and kf < adaptive_cell_count(n):
            # ADVICE r12: with an explicit COARSE n_cells (e.g. the
            # legacy 16) the fine grid IS the coarse grid, so a high
            # admit rate may just mean the granularity is too coarse
            # for this corpus, not that the geometry is structure-free.
            # Steer to the adaptive default before the approximate
            # ladder — raising n_cells can restore sub-quadratic exact
            # behavior on a clustered corpus.
            msg = (
                f"ivf_pruned join: n_cells={kf} was set explicitly and "
                f"is coarser than the adaptive sizing "
                f"({adaptive_cell_count(n)} cells at n={n}) — try "
                "n_cells=None (geometry-adaptive grid) FIRST; on a "
                "clustered corpus finer cells can restore sub-quadratic "
                "exact behavior.  If the adaptive grid still admits "
                "most pairs, the geometry is structure-free and the "
                "note below applies.  " + msg
            )
        warnings.warn(msg, RuntimeWarning, stacklevel=3)
        logging.getLogger(__name__).warning(msg)
        if stats_out is not None:
            stats_out["guardrail"] = msg

    # the one grid choice (an explicit n_cells pins the cells)
    use_blocks = adaptive and blocks_cost < cells_cost
    if stats_out is not None:
        stats_out.update(
            n=n,
            n_cells=k,
            fine_cells=kf,
            fine_candidate_pairs=int(fine_cand),
            fine_admit_rate=fine_admit_rate,
            grid="blocks" if use_blocks else "cells",
            cells_cost=cells_cost,
            blocks_cost=blocks_cost,
            total_pairs=total_pairs,
        )
    if use_blocks:
        if radius_pass:
            # the block grid never reads `assigned`'s local checkpoint:
            # unpin its blocks now, not when the ContextCleaner reaps them
            assigned._jdf.queryExecution().logical().rdd().unpersist(False)
        if stats_out is not None:
            tasks = n_blocks * (n_blocks + 1) // 2
            stats_out.update(
                executed_blocks=n_blocks,
                admissible_blocks=tasks,
                total_blocks=tasks,
                candidate_pairs=total_pairs,
                admit_rate=1.0,
            )
        return n_blocks

    np.fill_diagonal(admit, True)
    # oversized cells hash-split into sub-blocks (skew guard)
    n_subs = np.maximum(1, -(-counts.astype(np.int64) // max_cell_rows))

    # admissible (cell_a, cell_b) pairs: (cell, sub, pk, role) rows —
    # iterate only the ADMITTED upper-triangle pairs (r13: the full kf²
    # Python loop was a 43M-iteration driver stall at the raised cell
    # cap; the cell grid runs only when its admission is sparse enough
    # to beat the block grid)
    adm_pairs = np.argwhere(np.triu(admit))
    gi_a, gj_a = adm_pairs[:, 0], adm_pairs[:, 1]
    d_mask = gi_a == gj_a
    Mi, Mj = counts[gi_a].astype(np.int64), counts[gj_a].astype(np.int64)
    cand = int((Mi[d_mask] * (Mi[d_mask] - 1) // 2).sum()) + int(
        (Mi[~d_mask] * Mj[~d_mask]).sum()
    )
    pair_rows: list[tuple[int, int, int, str]] = []
    diag_pks: set[int] = set()
    pk = 0
    for gi, gj in adm_pairs:
        gi, gj = int(gi), int(gj)
        for si in range(n_subs[gi]):
            sj_start = si if gi == gj else 0
            for sj in range(sj_start, n_subs[gj]):
                diagonal = gi == gj and si == sj
                pair_rows.append((gi, si, pk, "a"))
                if diagonal:
                    diag_pks.add(pk)
                else:
                    pair_rows.append((gj, sj, pk, "b"))
                pk += 1
    pairs_df = local_frame(spark, pair_rows, "__grp int, __sub int, __pk int, __role string")

    # cell id -> (cell index, its sub count): one tiny broadcast map
    cell_map = local_frame(
        spark,
        [(int(c), i, int(n_subs[i])) for i, c in enumerate(cells)],
        "__cell int, __grp int, __nsub int",
    )
    with_sub = (
        assigned.join(F.broadcast(cell_map), "__cell")
        .withColumn(
            "__sub",
            F.pmod(F.xxhash64(F.col("__id")), F.col("__nsub")).cast("int"),
        )
        .drop("__nsub")
    )
    replicated = with_sub.join(F.broadcast(pairs_df), ["__grp", "__sub"]).select(
        "__id", "__v", "__pk", "__role"
    )

    if stats_out is not None:
        # all upper-triangle block counts, closed form (r13: the old
        # O(kf²) generator was a driver stall at the raised cap)
        ns_tot = int(n_subs.sum())
        ns_sq = int((n_subs ** 2).sum())
        total_blocks = (ns_tot * ns_tot - ns_sq) // 2 + int(
            (n_subs * (n_subs + 1) // 2).sum()
        )
        stats_out.update(
            executed_blocks=kf,
            admissible_blocks=pk,
            total_blocks=total_blocks,
            candidate_pairs=cand,
            admit_rate=cand / max(total_pairs, 1),
        )

    return replicated, diag_pks, id_t


def ivf_pruned_topk_join(
    corpus: DataFrame,
    tau: float,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: "int | None" = None,
    seed: int = 42,
    max_cell_rows: int = 65_536,
    gemm_chunk_rows: int = 2_048,
    score_col: str = "score",
    item_col: str = "item_id",
    neighbor_col: str = "neighbor_id",
    centroids: "np.ndarray | None" = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """BOUNDED-OUTPUT composition of the IVF-cell prune and the per-item
    top-k emission (VERDICT r6 #1): every item's top-k cosine neighbors
    with score >= tau, computed only over the cell pairs the angular
    triangle inequality admits.

    Exactness survives the composition: the prune only removes pairs
    PROVABLY below tau, and the bounded join ranks among pairs >= tau, so
    the pruned candidate set contains every item's true top-k — recall
    1.0 by construction, same as ivf_pruned_threshold_join.  Each
    candidate pair lives in exactly one admitted block task; the task
    emits each participating item's local top-k (both directions) and a
    global grouped_topk merges, the same superset argument as
    knn.topk_similarity_self_join.

    With n_cells=None the join makes the same one grid choice as
    ivf_pruned_threshold_join: when the triangular block grid is cheaper
    it runs the block-grid arm of knn.topk_similarity_self_join on the
    P blocks the choice priced, with the n already counted.

    `stats_out`: same contract as ivf_pruned_threshold_join — pass a
    dict to receive the measured prune plan (n, fine_cells,
    fine_admit_rate, grid, cells_cost, blocks_cost, executed_blocks,
    candidate_pairs, admit_rate, and `guardrail` when the admit-rate
    warning fires).  Added r13 (VERDICT r12 #3): the near-dup pipelines
    all reach the prune through THIS form, so the machine-readable
    telemetry a 100 TB orchestrator branches on must be reachable here,
    not only from the threshold form.

    Scale: candidate GENERATION is cell-pruned (clustered corpora skip
    most of the grid), and EMISSION is capped at n·k — the full
    candidates → verify → bounded-output pipeline that survives 100 TB
    where a loose-tau all-pairs join cannot (measured pair-volume
    exponent 2.0, BENCH_SF1_r06 slope fits)."""
    from crawling_vectordb_llm_spark.operators.knn import (
        _block_grid_topk,
        _topk_tau_gemm,
    )

    spark = corpus.sparkSession
    prep = _ivf_pruned_replicated(
        corpus, tau, id_col, vec_col, n_cells, seed, max_cell_rows,
        centroids, stats_out,
    )
    if prep is None:
        return local_frame(
            spark, [], f"{item_col} long, {neighbor_col} long, rank int, {score_col} double"
        )
    if isinstance(prep, int):
        return _block_grid_topk(
            corpus, k, tau, id_col, vec_col, prep, gemm_chunk_rows,
            score_col, item_col, neighbor_col,
        )
    replicated, diag_pks, id_t = prep
    bc_diag = spark.sparkContext.broadcast(diag_pks)

    def _topk_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        diagonal = int(key[0]) in bc_diag.value
        a = pdf[pdf["__role"] == "a"]
        b = a if diagonal else pdf[pdf["__role"] == "b"]
        out = _topk_tau_gemm(
            a["__id"].to_numpy(),
            np.array(list(a["__v"]), dtype=np.float64),
            b["__id"].to_numpy(),
            np.array(list(b["__v"]), dtype=np.float64),
            tau,
            k,
            gemm_chunk_rows,
            diagonal=diagonal,
        )
        return pd.DataFrame(
            {item_col: out[0], neighbor_col: out[1], score_col: out[2]}
        )

    directed = replicated.groupBy("__pk").applyInPandas(
        _topk_pair,
        schema=f"{item_col} {id_t}, {neighbor_col} {id_t}, {score_col} double",
    )
    return grouped_topk(
        directed, [item_col], [F.desc(score_col), F.asc(neighbor_col)], k
    ).select(
        item_col, neighbor_col, F.col("rank").cast("int").alias("rank"), score_col
    )
