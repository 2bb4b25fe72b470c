"""Geometry-adaptive cell planning for the exact pruned self-joins
(VERDICT r11 #1): adaptive default n_cells, the one measured-cost
choice between the fine cell grid and the triangular block grid, and
the admit-rate guardrail.

Reference semantics: J1 at corpus scale (main_server.py:41-44) — the
engine, not the caller, must keep the exact bounded join off the n²
regime when the corpus has cluster structure (CLUSTERED_SF9_r11.json
needed hand-set cells ∝ n; these tests pin the automatic version)."""

from __future__ import annotations

import warnings

import numpy as np
import pytest

from crawling_vectordb_llm_spark.operators import ivf as I
from crawling_vectordb_llm_spark.operators.knn import _pick_blocks


def test_adaptive_cell_count_rule():
    # floor: every driver fixture (<=2k vectors) keeps the historical
    # 16-cell geometry — r8-r11 artifacts stay comparable
    assert I.adaptive_cell_count(500) == 16
    assert I.adaptive_cell_count(2_000) == 16
    assert I.adaptive_cell_count(5_120) == 16
    # linear regime: cells ~ n / 320 (constant expected rows per cell,
    # the SemDeDup k ∝ n recipe)
    assert I.adaptive_cell_count(60_000) == 187
    assert I.adaptive_cell_count(180_000) == 562
    # cap: the O(k²) admission matrix stays bounded (raised
    # 2048 -> 8192 in r13 — the hierarchical fit regime past the old
    # flat cap; fit/assignment above FLAT_CELL_CAP are two-level)
    assert I.adaptive_cell_count(1_000_000) == 3_125
    assert I.adaptive_cell_count(10_000_000) == 8_192


def test_grid_choice_blocks_on_structure_free_cells_on_clustered():
    """The one grid choice, priced by cand + REPL_PAIR_COST · repl.
    All-admitted (isotropic) geometry: the cells score the same ~n²/2
    pairs as the block grid and ship every row to all 64 cells' pairs
    instead of P, so the block grid must win.  Block-diagonal admission
    (tight, well-separated clusters): the cells score ~n·cell_size
    pairs, worth far more than their replication, so the cells must
    win."""
    kf = 64
    counts = np.full(kf, 1_000.0)
    admit = np.ones((kf, kf), dtype=bool)
    n = int(counts.sum())
    cand, cells, blocks = I._grid_costs(counts, admit, 8, 65_536)
    assert cand == n * (n - 1) // 2
    assert cells == cand + I.REPL_PAIR_COST * kf * n
    assert blocks == n * (n - 1) // 2 + I.REPL_PAIR_COST * 8 * n
    assert blocks < cells

    kf = 40
    counts = np.full(kf, 300.0)
    admit = np.eye(kf, dtype=bool)
    cand, cells, blocks = I._grid_costs(counts, admit, 4, 65_536)
    assert cand == kf * (300 * 299 // 2)  # diagonal-only candidates
    assert cells < blocks


def _clustered_df(spark, per=60, dim=16, n_anchors=8, seed=11):
    rng = np.random.default_rng(seed)
    anchors = rng.standard_normal((n_anchors, dim))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    rows, i = [], 0
    mats = []
    for a in anchors:
        pts = a + 0.04 * rng.standard_normal((per, dim))
        for p in pts:
            rows.append((i, [float(x) for x in p]))
            i += 1
        mats.append(pts)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(5)
    return df, np.vstack(mats)


def test_adaptive_default_is_exact_through_the_planner(spark, monkeypatch):
    """n_cells=None end to end, steered to each side of the grid choice
    through REPL_PAIR_COST (free replication → the cell grid always
    wins; prohibitive replication → the block grid does): a 480-row
    corpus with a fine grid ABOVE the floor must match the brute-force
    answer exactly on both grids."""
    from tests.test_topk_join import _expected

    monkeypatch.setattr(I, "ADAPTIVE_CELL_TARGET_ROWS", 20)
    df, mat = _clustered_df(spark)
    assert I.adaptive_cell_count(480) == 24  # fine grid > floor 16
    exp = _expected(mat, k=4, tau=0.6)
    for repl_cost, grid in ((0.0, "cells"), (1e9, "blocks")):
        monkeypatch.setattr(I, "REPL_PAIR_COST", repl_cost)
        stats: dict = {}
        got = {
            (r["item_id"], r["neighbor_id"], r["rank"], r["score"])
            for r in I.ivf_pruned_topk_join(
                df, tau=0.6, k=4, stats_out=stats
            ).collect()
        }
        assert stats["grid"] == grid
        assert got == exp, grid


def test_sample_priced_choice_past_the_fit_sample(spark, monkeypatch):
    """Past the in-call fit sample the grids are priced on the sample
    first.  Isotropic: the sample already prices the block grid cheaper,
    so no full-corpus radius pass (no local checkpoint) runs.  Clustered
    with free replication: the sample prices the cells cheaper, so the
    exact radius pass runs and the cell grid executes.  Rows equal the
    brute-force answer either way."""
    from tests.test_topk_join import _expected

    fit = I.kmeans_centroids
    monkeypatch.setattr(
        I, "kmeans_centroids", lambda *a, **kw: fit(*a, **{**kw, "sample_limit": 200})
    )
    monkeypatch.setattr(I, "ADAPTIVE_CELL_TARGET_ROWS", 20)
    rng = np.random.default_rng(5)
    iso = rng.standard_normal((480, 16))
    iso_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(iso)],
        "vec_id long, embedding array<double>",
    )
    clustered_df, clustered = _clustered_df(spark)
    checkpoints = []
    cls = type(iso_df)
    orig = cls.localCheckpoint
    monkeypatch.setattr(
        cls, "localCheckpoint",
        lambda self, *a, **kw: checkpoints.append(1) or orig(self, *a, **kw),
    )
    for df, mat, repl_cost, grid in (
        (iso_df, iso, I.REPL_PAIR_COST, "blocks"),
        (clustered_df, clustered, 0.0, "cells"),
    ):
        monkeypatch.setattr(I, "REPL_PAIR_COST", repl_cost)
        checkpoints.clear()
        stats: dict = {}
        got = {
            (r["item_id"], r["neighbor_id"], r["rank"], r["score"])
            for r in I.ivf_pruned_topk_join(
                df, tau=0.6, k=4, stats_out=stats
            ).collect()
        }
        assert stats["grid"] == grid
        assert len(checkpoints) == (grid == "cells")
        assert got == _expected(mat, k=4, tau=0.6), grid


def test_adaptive_stats_report_plan_and_fine_geometry(spark, monkeypatch):
    monkeypatch.setattr(I, "ADAPTIVE_CELL_TARGET_ROWS", 20)
    df, _ = _clustered_df(spark)
    stats: dict = {}
    I.ivf_pruned_threshold_join(df, tau=0.6, stats_out=stats).count()
    assert stats["n"] == 480
    assert stats["fine_cells"] > I.ADAPTIVE_CELL_FLOOR
    assert 0.0 < stats["fine_admit_rate"] <= 1.0
    assert stats["candidate_pairs"] >= stats["fine_candidate_pairs"] > 0
    # at 480 rows the cost model rightly picks the BLOCK grid (extra
    # replication at 350 pairs/row dwarfs any prune savings this small —
    # pruning only pays once candidate savings clear the shuffle term,
    # see test_grid_choice_blocks_on_structure_free_cells_on_clustered
    # for the regime where cells win): the executed keys describe the
    # block grid, and the fine-geometry telemetry still reports the
    # cluster structure
    assert stats["grid"] == "blocks"
    assert stats["blocks_cost"] < stats["cells_cost"]
    assert stats["executed_blocks"] == _pick_blocks(
        480, 65_536, spark.sparkContext.defaultParallelism
    )
    assert stats["candidate_pairs"] == stats["total_pairs"]
    assert stats["admit_rate"] == 1.0
    assert stats["fine_admit_rate"] < 0.5


def test_kmeanspp_covers_separated_clusters(spark):
    """r12 regression pin for the d=1024 diagnosis: uniform sample-point
    init left ~14% of well-separated clusters with no centroid, and the
    orphans' points landed on far foreign cells, blowing up those
    cells' angular radii (first CLUSTERED_DIM1024_r12 attempt read
    fine-grid admit_rate RISING with n and e=1.525).  With k-means++
    (D²) seeding every tight cluster must end up served by a nearby
    centroid: after assignment, every vector's angle to its centroid
    stays far below the cross-cluster gap."""
    from crawling_vectordb_llm_spark.operators import ivf as I
    from crawling_vectordb_llm_spark.sources.synthetic_embeddings import (
        clustered_embeddings,
    )

    # 24 well-separated tight clusters, k = 2x clusters (the adaptive
    # sizing regime); d=48 keeps random centers near-orthogonal
    df = clustered_embeddings(spark, 1_200, dim=48, k=24, sigma=0.10, seed=5)
    cents = I.kmeans_centroids(df, 48, "embedding", seed=42)
    assigned = I.assign_centroids(df, cents, "embedding")
    # max angle to assigned centroid across the whole corpus
    rows = assigned.collect()
    worst = 0.0
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        v /= np.linalg.norm(v)
        c = cents[
            int(np.argmax(cents @ v))
        ]  # assign_centroids picks argmax cosine
        worst = max(worst, float(np.arccos(np.clip(v @ c, -1, 1))))
    # tight clusters: sigma=0.10 -> in-cluster angle ~0.1 rad; orphaned
    # clusters would read ~pi/2 (near-orthogonal foreign centroid)
    assert worst < 0.5, worst


def test_hier_fit_shape_and_determinism(spark, monkeypatch):
    """kmeans_centroids_hier (r13): fine centroids sorted by parent,
    unit-norm, ≤k of them; parents index into the coarse matrix; the
    whole fit is deterministic for a fixed seed."""
    df, _ = _clustered_df(spark)
    fine, parent, coarse = I.kmeans_centroids_hier(
        df, 24, "embedding", seed=3, coarse_k=6
    )
    assert coarse.shape[0] == 6
    assert 1 <= fine.shape[0] <= 24
    assert fine.shape == (len(parent), 16)
    assert np.all(np.diff(parent) >= 0)  # sorted by parent
    assert parent.min() >= 0 and parent.max() < 6
    assert np.allclose(np.linalg.norm(fine, axis=1), 1.0, atol=1e-9)
    fine2, parent2, coarse2 = I.kmeans_centroids_hier(
        df, 24, "embedding", seed=3, coarse_k=6
    )
    assert np.array_equal(parent, parent2)
    assert np.allclose(fine, fine2, atol=0)
    assert np.allclose(coarse, coarse2, atol=0)


def test_hier_path_exact_through_planner(spark, monkeypatch):
    """Force the hierarchical regime (two-level fit, two-step assignment)
    at fixture scale by shrinking FLAT_CELL_CAP, and keep the cell grid
    by making replication free: the bounded join must still match brute
    force EXACTLY — the hier machinery only changes which cell a vector
    lands in, never the triangle-bound admission soundness (radii are
    computed from the actual assignment)."""
    from tests.test_topk_join import _expected

    monkeypatch.setattr(I, "ADAPTIVE_CELL_TARGET_ROWS", 20)
    monkeypatch.setattr(I, "FLAT_CELL_CAP", 8)
    monkeypatch.setattr(I, "REPL_PAIR_COST", 0.0)
    df, mat = _clustered_df(spark)
    assert I.adaptive_cell_count(480) == 24  # > patched flat cap -> hier
    stats: dict = {}
    exp = _expected(mat, k=4, tau=0.6)
    got = {
        (r["item_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in I.ivf_pruned_topk_join(
            df, tau=0.6, k=4, stats_out=stats
        ).collect()
    }
    assert got == exp
    assert stats["fine_cells"] <= 24
    assert stats["grid"] == "cells"


def test_hier_threshold_join_identical_to_flat(spark, monkeypatch):
    """Planner-identity across fit regimes: the hierarchical default and
    an explicit flat grid must produce bit-identical threshold-join
    output (both are exact; only prune efficiency may differ)."""
    monkeypatch.setattr(I, "ADAPTIVE_CELL_TARGET_ROWS", 20)
    monkeypatch.setattr(I, "FLAT_CELL_CAP", 8)
    df, _ = _clustered_df(spark)
    hier_out = I.ivf_pruned_threshold_join(df, tau=0.6)
    flat_out = I.ivf_pruned_threshold_join(df, tau=0.6, n_cells=24)
    assert hier_out.exceptAll(flat_out).count() == 0
    assert flat_out.exceptAll(hier_out).count() == 0
    assert hier_out.count() > 0


def test_admit_guardrail_warns_on_structure_free_corpus(spark, monkeypatch):
    """Structure-free corpus past the size bound: the prune admits
    ~everything, and the operator must SAY so — warning + stats entry
    naming the recall-gated approximate ladder (VERDICT r11 #1b)."""
    monkeypatch.setattr(I, "ADMIT_WARN_MIN_ROWS", 100)
    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(rng.standard_normal((150, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats: dict = {}
    with pytest.warns(RuntimeWarning, match="recall-gated approximate ladder"):
        I.ivf_pruned_threshold_join(
            df, tau=0.1, n_cells=4, stats_out=stats
        ).count()
    assert "guardrail" in stats
    assert "ivf_topk" in stats["guardrail"]
    assert stats["fine_admit_rate"] >= I.ADMIT_WARN_RATE


def test_admit_guardrail_silent_below_size_bound(spark):
    # fixture-sized corpora never trip the guardrail (default bound 32k)
    rng = np.random.default_rng(4)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(rng.standard_normal((120, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        I.ivf_pruned_threshold_join(df, tau=0.1, n_cells=4).count()


def test_segment_sums_exact_under_trailing_empty_cells():
    """ADVICE r12 regression pin: np.add.reduceat clipped trailing empty
    cells' start indices to len(x)-1, truncating the LAST non-empty
    segment's sum (verified [10,12] where [18,21] was expected).  The
    prefix-sum-differencing _segment_sums must be exact for every
    empty/trailing-empty layout."""
    rng = np.random.default_rng(7)
    for counts in (
        [3, 0, 2, 0, 0],          # trailing empties after a 2-row segment
        [0, 4],                   # leading empty
        [5],                      # single segment
        [0, 0, 3],                # multiple leading empties
        [2, 0, 0],                # the advice's shape: last rows at risk
    ):
        counts = np.array(counts, dtype=np.int64)
        n = int(counts.sum())
        x = rng.standard_normal((n, 3))
        starts = np.zeros(len(counts), dtype=np.int64)
        starts[1:] = np.cumsum(counts)[:-1]
        got = I._segment_sums(x, starts, counts)
        exp = np.array(
            [x[s : s + c].sum(axis=0) for s, c in zip(starts, counts)]
        )
        assert np.allclose(got, exp, atol=1e-9), (counts, got, exp)


def test_kmeans_centroids_correct_with_trailing_empty_cells(spark):
    """End-to-end pin for the same bug through kmeans_centroids: ask for
    more centroids than distinct directions so Lloyd iterations run with
    trailing empty cells — every returned centroid must sit on one of
    the two true directions (the reduceat bug corrupted the LAST
    non-empty cell's centroid whenever trailing cells were empty)."""
    rows = []
    for i in range(12):
        base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
        rows.append((i, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = I.kmeans_centroids(df, 8, "embedding", seed=1, max_iter=6)
    e1 = np.array([1.0, 0.0, 0.0])
    e2 = np.array([0.0, 1.0, 0.0])
    for c in cents:
        assert (
            np.allclose(c, e1, atol=1e-9) or np.allclose(c, e2, atol=1e-9)
        ), c


def test_stats_out_reachable_through_topk_form(spark, monkeypatch):
    """VERDICT r12 #3: the near-dup pipelines reach the prune through the
    TOP-K form, so plan telemetry (and the guardrail) must land through
    ivf_pruned_topk_join and topk_similarity_self_join's IVF arm too —
    not only the threshold form."""
    from crawling_vectordb_llm_spark.operators import knn
    from crawling_vectordb_llm_spark.operators.knn import (
        topk_similarity_self_join,
    )

    monkeypatch.setattr(I, "ADMIT_WARN_MIN_ROWS", 100)
    rng = np.random.default_rng(9)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(rng.standard_normal((150, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats: dict = {}
    with pytest.warns(RuntimeWarning):
        I.ivf_pruned_topk_join(
            df, tau=0.1, k=3, n_cells=4, stats_out=stats
        ).count()
    assert "guardrail" in stats
    assert stats["n"] == 150 and stats["fine_cells"] == 4
    assert stats["admit_rate"] > 0

    # past the shortcut threshold: the IVF arm runs and reports
    stats2: dict = {}
    with monkeypatch.context() as m:
        m.setattr(knn, "BRUTE_TOPK_MAX_ROWS", 100)
        with pytest.warns(RuntimeWarning):
            topk_similarity_self_join(
                df, k=3, tau=0.1, n_cells=4, stats_out=stats2
            ).count()
    assert "guardrail" in stats2 and stats2["n"] == 150
    assert stats2["grid"] == "cells"

    # small-corpus shortcut: no prune plan, but the caller learns the grid
    stats3: dict = {}
    topk_similarity_self_join(df, k=3, tau=0.1, stats_out=stats3).count()
    assert stats3 == {"n": 150, "grid": "blocks"}


def test_guardrail_suggests_adaptive_before_approximate_ladder(spark, monkeypatch):
    """ADVICE r12: with an explicit COARSE n_cells the high admit rate
    may just mean the grid is too coarse — the warning must steer to
    n_cells=None FIRST, before the approximate ladder."""
    monkeypatch.setattr(I, "ADMIT_WARN_MIN_ROWS", 100)
    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(rng.standard_normal((150, 8)))
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats: dict = {}
    with pytest.warns(RuntimeWarning, match="n_cells=None"):
        I.ivf_pruned_threshold_join(
            df, tau=0.1, n_cells=4, stats_out=stats
        ).count()
    assert "try n_cells=None" in stats["guardrail"]
    # the original ladder guidance must still follow the suggestion
    assert "recall-gated approximate ladder" in stats["guardrail"]


def test_explicit_n_cells_keeps_fixed_grid(spark):
    # an explicit integer must pin the historical fixed grid (A/B tools
    # and prior artifacts depend on it): executed blocks == n_cells
    df, _ = _clustered_df(spark, per=30)
    stats: dict = {}
    I.ivf_pruned_threshold_join(df, tau=0.6, n_cells=12, stats_out=stats).count()
    assert stats["executed_blocks"] == stats["fine_cells"] == 12
    assert stats["grid"] == "cells"
