"""IVF (inverted-file) approximate nearest-neighbor search — the batch
stand-in for the reference's HNSW index (TencentVDB.py:46: HNSW m=16,
efConstruction=200; search ef=100 → here: n_centroids / n_probe are the
recall/latency knobs, SURVEY §4).

Build (the "create index" analog, batch):
  1. KMeans over (a sample of) the corpus → centroid matrix
  2. assign every vector to its nearest centroid (one numpy GEMM pass)
  3. at scale: write the corpus partitioned by centroid_id — search then
     becomes partition PRUNING (only n_probe of n_centroids partitions are
     even read); locally the assignment column + a join achieves the same
     candidate-set reduction.

Search:
  1. score queries × centroids (tiny GEMM on the driver)
  2. per query keep n_probe nearest cells
  3. exact-score only vectors in probed cells (knn numpy path), top-k.

Recall is testable against exact kNN (tests/test_ivf.py); n_probe =
n_centroids degrades to exact search.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.topk import (
    DEFAULT_MAX_QUERY_ROWS,
    collect_query_rows,
    grouped_topk,
)


def _normalize(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


# --- geometry-adaptive cell planning for the exact pruned self-joins ---
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
# the driver-side O(k²) admission matrix / planner (537 MB bools + a few
# k² passes per ladder rung) — past ~2.6M rows per fit, per-cell size
# grows again (the documented trade, now 4× later than r12).
ADAPTIVE_CELL_CAP = 8_192
FLAT_CELL_CAP = 2_048
# coarse parents probed per row in the hierarchical two-step assignment
# (see _ivf_pruned_replicated): 4 reproduced flat-assignment admit rates
# exactly in the 120k diagnostic; 8 buys boundary margin at ~2× the fine
# GEMM term, still ~10× under flat argmax at the cap
HIER_ASSIGN_PROBES = 8

# Cost-model constant for the grid planner: one replicated row costs
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


# Parallelism floor for the grid planner: a grouping whose admitted
# block-pair TASK count falls below this leaves executor slots idle no
# matter how little it shuffles or scores (the degenerate case is the
# admit-pattern grouping collapsing a structure-free corpus into ONE
# giant self-block task).  The cand term — the parallelizable GEMM work
# — is scaled by max(1, floor/tasks): an honest makespan proxy, since
# wall ≈ flops / min(tasks, slots).
PLAN_MIN_TASKS = 32


def _grid_cost(
    counts: np.ndarray,
    admit: np.ndarray,
    group: np.ndarray,
    n_groups: int,
    max_cell_rows: int,
    min_tasks: int = PLAN_MIN_TASKS,
) -> tuple[float, float, float]:
    """Exact (candidate_pairs, replicated_rows, model_cost) of running the
    pruned join on a COARSENING of the fine cell grid: fine cell i is
    merged into super-block group[i], a super-pair is admitted iff ANY
    member fine-cell pair is admissible (so no triangle-bound information
    is lost — merged blocks only ever ADD provably-safe coverage), and
    oversized super-blocks hash-split per max_cell_rows exactly as the
    executor will.  All driver-side numpy over the k×k admission matrix;
    candidate_pairs is exact because sub-splitting partitions each block
    (Σ over sub-pairs of a cell pair = n_i·n_j; diagonal = n_i(n_i−1)/2).
    model_cost additionally scales the cand term by the parallelism
    deficit max(1, min_tasks/tasks) — see PLAN_MIN_TASKS (r13)."""
    P = n_groups
    S = _group_or(admit, group, P)  # super-pair admission (OR over members)
    M = np.bincount(group, weights=counts, minlength=P)  # rows per super-block
    return _grid_cost_ms(M, S, max_cell_rows, min_tasks)


def _grid_cost_ms(
    M: np.ndarray,
    S: np.ndarray,
    max_cell_rows: int,
    min_tasks: int = PLAN_MIN_TASKS,
) -> tuple[float, float, float]:
    """_grid_cost core on a PRE-AGGREGATED (rows-per-block M, super-pair
    admission S) — the halving-chain planner (r13, XL_PHASE_r13) builds
    each rung's (M, S) from the previous rung in O(P_prev²) instead of
    re-aggregating the kf² fine matrix per rung, so it calls this
    directly.  S is mutated (diagonal forced True — always admissible)."""
    P = len(M)
    np.fill_diagonal(S, True)  # a block with itself is always admissible
    s_off = S & ~np.eye(P, dtype=bool)
    cand = 0.5 * float(M @ (s_off @ M)) + float((M * (M - 1) / 2).sum())
    nsub = np.maximum(1, np.ceil(M / max_cell_rows))
    repl = float(M @ (s_off @ nsub)) + float((M * nsub).sum())
    # admitted task count (with skew sub-splits): cross pairs spawn
    # nsub_i·nsub_j tasks, the diagonal nsub_i(nsub_i+1)/2
    occupied = M > 0
    tasks = 0.5 * float(nsub[occupied] @ (s_off[np.ix_(occupied, occupied)] @ nsub[occupied])) + float(
        (nsub[occupied] * (nsub[occupied] + 1) / 2).sum()
    )
    deficit = max(1.0, min_tasks / max(tasks, 1.0))
    return cand, repl, cand * deficit + REPL_PAIR_COST * repl


def _admit_pattern_groups(admit: np.ndarray, P: int, seed: int) -> np.ndarray:
    """STRUCTURE-AWARE grouping for the coarsening ladder (VERDICT r12
    #4): cluster the fine cells by their ADMISSION-PATTERN rows — cells
    that admit (nearly) the same set of cells merge, so OR-admission
    over a merged group adds (nearly) nothing to the candidate volume
    while its replication contribution collapses.  On a mixed-geometry
    corpus this is exactly the grouping modulo assignment can't express:
    the diffuse cells (identical all-admitting rows) fold into one
    block, the clustered cells (near-identity rows, mutually dissimilar)
    stay separate.  Spherical k-means over the L2-normalized admit rows,
    k-means++ seeded, deterministic for a fixed seed; the planner
    evaluates the result with the same honest _grid_cost as every other
    candidate, so a grouping that doesn't pay simply isn't picked."""
    x = admit.astype(np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
    rng = np.random.default_rng([seed, P])
    cents = _kmeanspp_init(x, min(P, len(x)), rng)
    for _ in range(4):
        assign = np.argmax(x @ cents.T, axis=1)
        new = cents.copy()
        for j in np.unique(assign):
            c = x[assign == j].mean(axis=0)
            new[j] = c / max(float(np.linalg.norm(c)), 1e-30)
        if np.allclose(new, cents, atol=1e-9):
            break
        cents = new
    return np.argmax(x @ cents.T, axis=1)


def _plan_cell_grid(
    counts: np.ndarray,
    admit: np.ndarray,
    max_cell_rows: int,
    p_floor: int,
    seed: int = 42,
    parent: "np.ndarray | None" = None,
) -> tuple[np.ndarray, int, dict]:
    """Choose the grid granularity for the pruned join by MEASURED cost,
    not by fiat: evaluate the fine grid, an adjacent-pair halving chain
    of coarsenings (each rung's (M, S) derived from the previous rung —
    geometric total cost, see the chain comment below), a modulo
    coarse anchor at exactly p_floor (the plain blocked grid), and — in
    the flat regime — a structure-aware admit-pattern grouping per rung
    (_admit_pattern_groups, r13); score each with the calibrated
    cand + 350·repl model (REPL_PAIR_COST) plus the parallelism-deficit
    term (_grid_cost), and keep the argmin.  On clustered geometry the
    fine grid wins (admitted pairs collapse to ~diagonal blocks, worth
    far more than its extra replication); on structure-free geometry
    every granularity admits ~everything, so the model picks the
    coarsest grid — replication (P_floor+1)·n, the same shape as the
    unpruned blocked join — instead of the fine grid's k·n shuffle
    blow-up; on MIXED geometry the admit-pattern rungs merge the
    mutually-admitting (diffuse) cells while keeping the clustered ones
    fine, a genuinely-selectable middle the modulo ladder never had
    (VERDICT r12: modulo merges unrelated cells, so every mid rung was
    nearly as permissive as the coarse end).  Every coarsening is
    evaluated HONESTLY: super-pair admission is the OR over member
    pairs, exactly what the built plan will execute, so a grouping that
    loses pruning shows its real candidate volume here and simply
    doesn't get picked — and the OUTPUT is identical under any grouping
    (merged blocks only ever add provably-safe coverage)."""
    kf = len(counts)
    coarse_p = max(1, min(p_floor, kf))
    ladder = [kf]
    best = None

    def _consider(how, group, P, cms):
        nonlocal best
        cand, repl, cost = cms
        if best is None or cost < best[3]:
            best = (group, P, cand, cost, repl, how)

    def _ms(group, P):
        S = _group_or(admit, group, P)
        M = np.bincount(group, weights=counts, minlength=P)
        return _grid_cost_ms(M, S, max_cell_rows)

    # fine rung: identity grouping — evaluated directly, no aggregation
    _consider(
        "fine", np.arange(kf), kf,
        _grid_cost_ms(counts.astype(np.float64), admit.copy(), max_cell_rows),
    )
    # halving chain (r13, XL_PHASE_r13): pair ADJACENT blocks at each
    # rung — (M, S) for rung r come from rung r−1 by slice-OR in
    # O(P_{r−1}²), so the whole chain costs a geometric ~1.3·kf² bool
    # ops instead of the old from-scratch modulo ladder's rungs·kf²
    # f32 segment-sum passes (22.6 s of per-join driver stall at
    # kf=6.5k).  Adjacency is structure-AWARE in the hierarchical
    # regime — fine centroids are sorted by coarse parent, so paired
    # cells are siblings — and no blinder than modulo in the flat
    # regime, where the admit-pattern rungs carry the structure duty.
    S_c, M_c, shift = admit.copy(), counts.astype(np.float64), 0
    while (len(M_c) + 1) // 2 > coarse_p:
        if len(M_c) % 2:  # pad to even: one empty (0-row) phantom block
            S_c = np.pad(S_c, ((0, 1), (0, 1)))
            M_c = np.append(M_c, 0.0)
        S_c = S_c[0::2] | S_c[1::2]
        S_c = S_c[:, 0::2] | S_c[:, 1::2]
        M_c = M_c[0::2] + M_c[1::2]
        shift += 1
        P = len(M_c)
        ladder.append(P)
        _consider("pair", np.arange(kf) >> shift, P,
                  _grid_cost_ms(M_c, S_c, max_cell_rows))
        if kf <= FLAT_CELL_CAP:
            # admit-pattern k-means is O(kf²·P) per rung — cheap below
            # the flat cap, a multi-minute driver stall above it (the
            # hierarchical regime gets its structure rung from the
            # parent grouping below instead)
            g = _admit_pattern_groups(admit, P, seed)
            _consider("admit_pattern", g, P, _ms(g, P))
    if coarse_p < kf:
        # coarse anchor: the plain blocked grid at exactly p_floor
        g = np.arange(kf) % coarse_p
        ladder.append(coarse_p)
        _consider("modulo", g, coarse_p, _ms(g, coarse_p))
        if kf <= FLAT_CELL_CAP:
            g = _admit_pattern_groups(admit, coarse_p, seed)
            _consider("admit_pattern", g, coarse_p, _ms(g, coarse_p))
    if parent is not None:
        # hierarchical fit (r13): merging fine cells back into their
        # coarse PARENTS is the natural structure-aware rung — siblings
        # are geometric neighbors by construction, so the merge only
        # fuses mutually-close (usually mutually-admitting) cells
        pg = np.unique(parent, return_inverse=True)[1]
        _consider("parent", pg, int(pg.max()) + 1, _ms(pg, int(pg.max()) + 1))
    group, P, cand, cost, repl, how = best
    # compact labels: k-means groupings can leave empty groups, which
    # would otherwise spawn empty (zero-row) block tasks downstream
    uniq, group = np.unique(group, return_inverse=True)
    P = len(uniq)
    return group, P, {
        "plan_candidate_pairs": int(cand),
        "plan_replicated_rows": int(repl),
        "plan_cost": float(cost),
        "plan_ladder": [int(x) for x in ladder],
        "plan_grouping": how,
    }


def bounded_random_sample(
    df: DataFrame,
    cols: list[str],
    sample_limit: int,
    seed: int,
    n_out: "dict | None" = None,
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
    a genuinely larger corpus pays the count + sampled second pass."""
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
    rows = df.select(*cols).limit(sample_limit + 1).collect()
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


def _group_or(admit: np.ndarray, group: np.ndarray, P: int) -> np.ndarray:
    """OR-aggregate a kf×kf boolean matrix over a row/col grouping into
    the P×P super-pair admission matrix, in O(kf²) — the dense kf×P
    indicator matmul this replaces (r13) was O(kf²·P), which at the
    raised cell cap (kf up to 8192) made every planner rung a multi-
    second driver GEMM.  Sums are exact in f32 (each ≤ kf < 2²⁴).
    Identity groupings short-circuit to a copy (the guardrail's
    fine-grid evaluation would otherwise pay two full f32 passes over
    the kf² matrix for a no-op, ~1 s at kf=6.5k — XL_PHASE_r13)."""
    if P == len(group) and group[0] == 0 and group[-1] == P - 1:
        ident = np.arange(P)
        if np.array_equal(group, ident):
            return admit.copy()
    order = np.argsort(group, kind="stable")
    counts = np.bincount(group, minlength=P)
    starts = np.zeros(P, dtype=np.int64)
    starts[1:] = np.cumsum(counts)[:-1]
    rows = _segment_sums(admit[order].astype(np.float32), starts, counts) > 0.5
    s_t = _segment_sums(rows.T[order].astype(np.float32), starts, counts) > 0.5
    return s_t.T


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
    re-verified at all scales after the cap)."""
    sample_limit = min(sample_limit, max(10_000, 256 * n_centroids))
    # r14 (VERDICT r13 #5): expose the collected sample + the corpus count
    # the probe learned (sample_out = {rows, n, cap}) so a consumer whose
    # OWN bounded sample would provably be the identical row list — i.e.
    # when this sample already holds the ENTIRE corpus and the consumer's
    # cap also covers it (ivfpq_topk's residual-codebook sample) — can
    # reuse it instead of paying a second collect.  Reuse is gated on
    # bit-identity, never on "close enough": above either cap the
    # consumer samples exactly as before.
    nstat: dict = {}
    rows = bounded_random_sample(
        corpus, [vec_col], sample_limit, seed, n_out=nstat
    )
    if sample_out is not None:
        sample_out.update(rows=rows, n=nstat["n"], cap=sample_limit)
    x = _normalize(np.array([r[0] for r in rows], dtype=np.float64))
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
    coarse parent that trained fine cell i (the planner's natural
    merge-to-parents rung), coarse the level-1 matrix — together they
    let assignment run TWO-STEP (argmax over √k parents, then argmax
    over that parent's fine cells: n·(√k + k/√k)·d instead of n·k·d,
    which at k ∝ n is the difference between O(n^1.5) and O(n²)
    assignment flops).  A two-step assignment need not be the global
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
        sample_limit=max(10_000, points_per_cell * coarse_k),
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One GEMM pass per partition: nearest (cosine) centroid per vector.
    At 100 TB this column becomes the table's partition key."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            cid = np.argmax(mat @ cents.T, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "centroid_id": cid.astype(np.int32),
                }
            )

    vec_type = corpus.schema[vec_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    return corpus.select(id_col, vec_col).mapInPandas(
        _assign, schema=f"{id_col} {id_type}, {vec_col} {vec_type}, centroid_id int"
    )


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
    cells' vectors, return top-k.

    Physical shape (rewritten round 4 — measured on the clustered
    fixture, SCALE.md): the per-cell QUERY matrices broadcast (queries
    are the small side, same bounded-collect contract as knn_join_numpy)
    and each corpus partition GEMMs every Arrow batch's cell groups
    against only the queries probing that cell, keeping a partition-
    local top-k per query.  Shuffle volume is partitions x queries x k
    score triples — independent of corpus size and of n_probe.  The
    previous shape (broadcast (query, cell) pairs joined onto the
    corpus) replicated every candidate ROW WITH ITS VECTOR once per
    probing query through Arrow: at 4k queries x 80k corpus x 8/128
    probes that is ~20M vector-carrying rows (~5 GB) for ~10 MB of
    useful output, and it benchmarked SLOWER than the exact broadcast
    GEMM it was meant to beat (1.5-2.3x).  Map-side cell GEMM does
    1/(n_cells/n_probe) of the exact path's flops AND ships less than
    it.  With a centroid-partitioned table the cell filter additionally
    becomes partition pruning at the scan."""
    qrows = collect_query_rows(
        queries, query_id, query_vec, max_query_rows, caller="ivf_search"
    )
    return ivf_search_matrix(
        np.array([r[0] for r in qrows]),
        np.array([r[1] for r in qrows], dtype=np.float64),
        assigned_corpus,
        centroids,
        k,
        n_probe,
        query_id=query_id,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
    )


def ivf_search_matrix(
    qids: np.ndarray,
    qmat: np.ndarray,
    assigned_corpus: DataFrame,
    centroids: np.ndarray,
    k: int,
    n_probe: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """ivf_search's kernel over a query matrix already on the driver
    (row i of `qmat` is query `qids[i]`).  Callers that encode their
    queries on the driver (VectorCollection.search_by_text) enter here
    and skip the DataFrame round trip and its collect job."""
    qmat = _normalize(np.asarray(qmat, dtype=np.float64))
    probe_cells = np.argsort(-(qmat @ centroids.T), axis=1)[:, :n_probe]

    # cell -> (query ids, query matrix): the per-cell GEMM operands
    cell_q: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for c in np.unique(probe_cells):
        mask = (probe_cells == c).any(axis=1)
        cell_q[int(c)] = (qids[mask], qmat[mask])
    spark = assigned_corpus.sparkSession
    bq = spark.sparkContext.broadcast(cell_q)

    def _cell_gemm_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cq = bq.value
        out_q: list[np.ndarray] = []
        out_i: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = pdf["centroid_id"].to_numpy()
            cmat = _normalize(np.array(list(pdf[corpus_vec]), dtype=np.float64))
            ids = pdf[corpus_id].to_numpy()
            for c in np.unique(cells):
                q = cq.get(int(c))
                if q is None:
                    continue  # no query probes this cell: skipped entirely
                sel = cells == c
                sub_ids, sub = ids[sel], cmat[sel]
                scores = q[1] @ sub.T  # (nq_cell, n_cell_rows)
                # exact per-row rank cap on the CONTRACT's ordering
                # (6-dp rounded score desc, id asc): admit each query's
                # local top-k under that total order.  Any global-top-k
                # row has local rank < k (every row ahead of it locally
                # is ahead of it globally too), so the admitted set is a
                # superset of the global answer no matter how rows are
                # partitioned — and, unlike the previous ties-inclusive
                # threshold, output is bounded at nq*k even when a whole
                # duplicate-heavy cell slice ties at the boundary score
                # (ADVICE r5).  Columns are pre-sorted by id asc so a
                # STABLE per-row argsort on -rs realizes the id-asc
                # tiebreak exactly; an argpartition would split boundary
                # ties arbitrarily and break the superset guarantee.
                rs = np.round(scores, 6)
                if k < rs.shape[1]:
                    id_order = np.argsort(sub_ids, kind="stable")
                    top = np.argsort(
                        -rs[:, id_order], axis=1, kind="stable"
                    )[:, :k]
                    qi = np.repeat(np.arange(rs.shape[0]), k)
                    ci = id_order[top.ravel()]
                else:
                    qi, ci = np.nonzero(np.ones_like(rs, dtype=bool))
                out_q.append(q[0][qi])
                out_i.append(sub_ids[ci])
                out_s.append(scores[qi, ci])
        if not out_q:
            yield pd.DataFrame({query_id: [], corpus_id: [], "score": []})
            return
        qarr = np.concatenate(out_q).astype(np.int64)
        iarr = np.concatenate(out_i)
        sarr = np.round(np.concatenate(out_s), 6)
        # one vectorized partition-local rank pass: (query, score desc,
        # id asc) — the same ordering as the global stage, so truncation
        # to k matches what the global rank would keep
        order = np.lexsort((iarr, -sarr, qarr))
        qs, is_, ss = qarr[order], iarr[order], sarr[order]
        starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        sizes = np.diff(np.append(starts, len(qs)))
        ranks = np.arange(len(qs)) - np.repeat(starts, sizes)
        keep = ranks < k
        yield pd.DataFrame(
            {query_id: qs[keep], corpus_id: is_[keep], "score": ss[keep]}
        )

    cid_t = assigned_corpus.schema[corpus_id].dataType.simpleString()
    scored = assigned_corpus.select(
        corpus_id, corpus_vec, "centroid_id"
    ).mapInPandas(
        _cell_gemm_topk, schema=f"{query_id} long, {corpus_id} {cid_t}, score double"
    )
    return grouped_topk(
        scored, [query_id], [F.desc("score"), F.asc(corpus_id)], k
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
    assigned = assign_centroids(corpus, centroids, id_col, vec_col)
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
    gemm_prefilter: bool = True,
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
    float64 GEMM as threshold_similarity_join(strategy="blocked") — one
    cogrouped task per admissible pair, diagonal pairs triangular, cross
    pairs oriented (a_id < b_id), nothing collected to the driver.
    Output is bit-identical to the exact join: same normalize, same
    rounding, each unordered pair emitted exactly once.

    Skew guard: cells larger than max_cell_rows are hash-split into
    sub-blocks (inheriting the cell's centroid and radius), so per-task
    memory stays bounded by max_cell_rows x gemm_chunk_rows regardless of
    how lopsided the clustering is — the semdedup.py max_cluster idea.

    Scale shape: prune efficiency is data-dependent — clustered corpora
    (the 100 TB dedup regime) skip most of the grid; an adversarially
    uniform corpus degrades to the full exact grid, which is the blocked
    join's already-bounded cost.  Replication per row = number of
    admissible pairs its cell participates in (<= K+1), versus the
    unconditional P+1 of the unpruned grid.

    `stats_out`: pass a dict to receive the measured prune plan —
    {n, n_cells, admissible_blocks, total_blocks, candidate_pairs,
    total_pairs, admit_rate} — the instrumentation behind the SCALE.md
    clustered-geometry measurements (VERDICT r3 #2).  Costs one extra
    small aggregate over the (cell, sub) histogram; skipped when None.

    `centroids`: pass a persisted centroid matrix (plans/index_build.py)
    to skip the in-call k-means fit — the production regime, where the
    IVF index is built once per ingest and probed by every downstream
    join; the fit's driver-side Lloyd cost would otherwise be charged to
    every query at fixture scale."""
    from crawling_vectordb_llm_spark.operators.knn import _chunked_tau_gemm

    spark = corpus.sparkSession
    prep = _ivf_pruned_replicated(
        corpus, tau, id_col, vec_col, n_cells, seed, max_cell_rows,
        centroids, stats_out,
    )
    if prep is None:
        return spark.createDataFrame(
            [], f"a_id long, b_id long, {score_col} double"
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
            orient=True,
            prefilter=gemm_prefilter,
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
) -> "tuple[DataFrame, set, str] | None":
    """Shared stage-1 machinery for the IVF-pruned self-joins: k-means
    cells, per-vector angle to centroid, triangle-inequality cell-pair
    admission, skew sub-splitting, and replication of every row to its
    admitted block-pair tasks.  Returns (replicated rows with
    __id/__v/__pk/__role, diagonal pk set, id type) — None for an empty
    corpus.  The caller supplies the per-block-pair kernel (threshold
    emission or bounded top-k emission).

    n_cells=None (the default since r12) sizes the fine grid with
    `adaptive_cell_count(n)` and then lets `_plan_cell_grid` pick the
    executed granularity by measured cost — fine cells when the prune
    converts cluster structure into skipped blocks, the coarse blocked
    grid when it can't (VERDICT r11 #1a).  An explicit integer keeps the fixed
    grid (planner disabled); OUTPUT is identical by exactness, but the
    in-call centroid fit changed in r12 (k-means++ init, max_iter=8,
    sample 64·k, new fp summation order), so prior rounds' admit/block
    stats and timings are not reproducible — only the grid shape and
    the exact output rows are (ADVICE r12).  Either way, when the
    fine-granularity prune
    admits most of the grid on a large corpus, an admit-rate guardrail
    warns and names the recall-gated approximate ladder (VERDICT r11
    #1b) — the difference between a warning and a silently-quadratic
    job at 100 TB."""
    import logging
    import warnings

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
    sample_x: "np.ndarray | None" = None
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
        # r13 (guide §1/§5): the fit is inlined (same steps as
        # kmeans_centroids, bit-for-bit: capped bounded sample →
        # normalize → k-means++ → 8 Lloyd rounds) so that when the
        # sample probe already collected the ENTIRE corpus
        # (len(rows) == n, true for every fixture-scale call), the
        # per-cell radii/size stats can be computed on the driver from
        # the same vectors with the exact executor math — skipping the
        # eager distributed radius pass (one full mapInPandas
        # materialization per join).  Above the sample cap the
        # distributed radius pass runs unchanged.
        # r14 (VERDICT r13 #4): was min(max(10_000, 64*k), max(10_000,
        # 256*k)) — the first operand always wins, so write it plainly
        eff_limit = max(10_000, 64 * k)
        rows_s = bounded_random_sample(corpus, [vec_col], eff_limit, seed)
        fit_x = _normalize(np.array([r[0] for r in rows_s], dtype=np.float64))
        rng = np.random.default_rng(seed)
        centroids = _lloyd_sphere(
            fit_x, _kmeanspp_init(fit_x, min(k, len(fit_x)), rng), 8
        )
        if len(rows_s) == n:
            sample_x = fit_x
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
    if sample_x is None:
        # cache: the radius pass and the replicated verify pass both scan it
        assigned = assigned.localCheckpoint(eager=False)
        cell_stats = {
            int(r["__cell"]): (float(r["r"]), int(r["n"]))
            for r in assigned.groupBy("__cell")
            .agg(F.max("__theta").alias("r"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
    else:
        # r13: the fit sample IS the corpus — per-cell max-theta/size are
        # computed here with the exact executor expressions (normalize →
        # GEMM → argmax → arccos(clip)); max and count are
        # order-independent, so the sorted sample order is immaterial.
        # `assigned` then has a single consumer (the replication join)
        # and stays fully lazy — no eager materialization pass at all.
        sims_s = sample_x @ centroids.T
        cid_s = np.argmax(sims_s, axis=1)
        theta_s = np.arccos(
            np.clip(sims_s[np.arange(len(cid_s)), cid_s], -1.0, 1.0)
        )
        cell_stats = {
            int(c): (
                float(theta_s[cid_s == c].max()),
                int((cid_s == c).sum()),
            )
            for c in np.unique(cid_s)
        }
    cells = sorted(cell_stats)
    kf = len(cells)
    radii = np.array([cell_stats[c][0] for c in cells])
    counts = np.array([cell_stats[c][1] for c in cells], dtype=np.float64)

    theta_tau = float(np.arccos(np.clip(tau, -1.0, 1.0)))
    # fine-grid admission: cell pair (i, j) can hold a qualifying vector
    # pair only if angle(c_i, c_j) - r_i - r_j <= theta_tau.  Evaluated
    # in the COS domain (r13, XL_PHASE_r13):
    #   angle ≤ θτ + r_i + r_j  ⟺  dot ≥ cos(min(θτ + r_i + r_j, π))
    # and with x_i = θτ/2 + r_i the threshold cos(x_i + x_j) expands by
    # angle addition into just TWO outer products of per-cell cos/sin —
    # no kf² arccos (the transcendental was 7.5 s of the per-join
    # driver stall at kf=6.5k).  The angle-domain +1e-9 slack maps to
    # ≥ cosT − sinT·1e-9 with sinT ≤ 1, so subtracting 2e-9 is a
    # conservative superset — a borderline difference only ever ADDS
    # provably-safe blocks.
    C = _normalize(centroids)[cells]
    dots = C @ C.T
    x = radii + 0.5 * theta_tau
    cos_t = np.outer(np.cos(x), np.cos(x))
    cos_t -= np.outer(np.sin(x), np.sin(x))
    cos_t -= 2e-9
    admit = dots >= cos_t
    # θτ + r_i + r_j ≥ π: the bound can't exclude anything on a sphere
    admit |= radii[:, None] + radii[None, :] >= np.pi - theta_tau

    # guardrail on the GEOMETRY (fine granularity), independent of the
    # executed plan: admit_rate ~1 at scale means no exact method beats
    # ~n²/2 here — say so and point at the sub-quadratic ladder.
    ident = np.arange(kf)
    fine_cand, _, _ = _grid_cost(counts, admit, ident, kf, max_cell_rows)
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

    if adaptive and kf > ADAPTIVE_CELL_FLOOR:
        group, n_groups, plan_stats = _plan_cell_grid(
            counts, admit, max_cell_rows,
            p_floor=_grid_p_floor(n, max_cell_rows, spark),
            seed=seed,
            parent=hier[1][cells] if hier is not None else None,
        )
    else:
        group, n_groups, plan_stats = ident, kf, {}

    # executed grid: super-block pair admission is the OR over member
    # fine-cell pairs (identity grouping = the fine grid itself)
    S = _group_or(admit, group, n_groups)
    np.fill_diagonal(S, True)
    M = np.bincount(group, weights=counts, minlength=n_groups)
    # oversized blocks hash-split into sub-blocks (skew guard)
    n_subs = np.maximum(1, -(-M.astype(np.int64) // max_cell_rows))

    # admissible (node_a, node_b) pairs: (group, sub, pk, role) rows —
    # iterate only the ADMITTED upper-triangle pairs (r13: the full
    # n_groups² Python loop was a 43M-iteration driver stall at the
    # raised cell cap; whenever n_groups is large the admission is
    # sparse — that's why the planner kept it large)
    adm_pairs = np.argwhere(np.triu(S))
    gi_a, gj_a = adm_pairs[:, 0], adm_pairs[:, 1]
    d_mask = gi_a == gj_a
    Mi, Mj = M[gi_a].astype(np.int64), M[gj_a].astype(np.int64)
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
    pairs_df = spark.createDataFrame(
        pair_rows, "__grp int, __sub int, __pk int, __role string"
    )

    # fine cell -> (executed block, its sub count): one tiny broadcast map
    cell_map = spark.createDataFrame(
        [
            (int(c), int(group[i]), int(n_subs[group[i]]))
            for i, c in enumerate(cells)
        ],
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
        # O(n_groups²) generator was a driver stall at the raised cap)
        ns_tot = int(n_subs.sum())
        ns_sq = int((n_subs.astype(np.int64) ** 2).sum())
        total_blocks = (ns_tot * ns_tot - ns_sq) // 2 + int(
            (n_subs.astype(np.int64) * (n_subs.astype(np.int64) + 1) // 2).sum()
        )
        stats_out.update(
            n=n,
            n_cells=k,
            fine_cells=kf,
            fine_candidate_pairs=int(fine_cand),
            fine_admit_rate=fine_admit_rate,
            executed_blocks=n_groups,
            admissible_blocks=pk,
            total_blocks=total_blocks,
            candidate_pairs=cand,
            total_pairs=total_pairs,
            admit_rate=cand / max(total_pairs, 1),
            **plan_stats,
        )

    return replicated, diag_pks, id_t


def _grid_p_floor(n: int, max_cell_rows: int, spark) -> int:
    """Coarsest grid the planner may fall back to: the same block count
    the unpruned blocked join would pick (memory bound + enough
    triangular block-pairs to occupy the cluster)."""
    from crawling_vectordb_llm_spark.operators.knn import _pick_blocks

    return _pick_blocks(
        n, max_cell_rows, spark.sparkContext.defaultParallelism
    )


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
    gemm_prefilter: bool = True,
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

    `stats_out`: same contract as ivf_pruned_threshold_join — pass a
    dict to receive the measured prune plan (n, fine_cells,
    fine_admit_rate, executed_blocks, candidate_pairs, admit_rate,
    plan_*, and `guardrail` when the admit-rate warning fires).  Added
    r13 (VERDICT r12 #3): the near-dup pipelines all reach the prune
    through THIS form, so the machine-readable telemetry a 100 TB
    orchestrator branches on must be reachable here, not only from the
    threshold form.

    Scale: candidate GENERATION is cell-pruned (clustered corpora skip
    most of the grid), and EMISSION is capped at n·k — the full
    candidates → verify → bounded-output pipeline that survives 100 TB
    where a loose-tau all-pairs join cannot (measured pair-volume
    exponent 2.0, BENCH_SF1_r06 slope fits)."""
    from crawling_vectordb_llm_spark.operators.knn import _topk_tau_gemm

    spark = corpus.sparkSession
    prep = _ivf_pruned_replicated(
        corpus, tau, id_col, vec_col, n_cells, seed, max_cell_rows,
        centroids, stats_out,
    )
    if prep is None:
        return spark.createDataFrame(
            [],
            f"{item_col} long, {neighbor_col} long, rank int, {score_col} double",
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
            prefilter=gemm_prefilter,
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
