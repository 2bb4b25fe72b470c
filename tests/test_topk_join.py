"""Bounded-output similarity join (VERDICT r6 #1): per-item top-k
neighbors at cosine >= tau — blocked-GEMM and IVF-pruned variants — vs a
numpy brute-force oracle, across block/cell geometries, chunk sizes, and
tie-heavy inputs."""

from __future__ import annotations

import numpy as np
import pytest

from crawling_vectordb_llm_spark.operators.ivf import ivf_pruned_topk_join
from crawling_vectordb_llm_spark.operators.knn import (
    topk_edges,
    topk_similarity_self_join,
)


def _fixture(spark, n=240, d=12, seed=3, dup_every=4):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, d))
    # planted near-dups AND exact dups (exact dups force 6-dp score ties,
    # exercising the id-asc tiebreak end to end)
    for i in range(0, n // 2, dup_every):
        mat[i + 1] = mat[i] + rng.normal(scale=0.03, size=d)
    for i in range(n // 2, n - 2, 7):
        mat[i + 1] = mat[i]
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(7)
    return df, mat


def _expected(mat, k, tau):
    nm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    s = nm @ nm.T
    n = len(mat)
    exp = set()
    for i in range(n):
        cand = [
            (round(float(s[i, j]), 6), j)
            for j in range(n)
            if j != i and s[i, j] >= tau
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        for r, (sc, j) in enumerate(cand[:k], 1):
            exp.add((i, j, r, sc))
    return exp


@pytest.mark.parametrize("n_blocks,chunk", [(1, 2048), (3, 31), (6, 7)])
def test_blocked_topk_matches_bruteforce(spark, n_blocks, chunk):
    df, mat = _fixture(spark)
    exp = _expected(mat, k=4, tau=0.25)
    out = topk_similarity_self_join(
        df, k=4, tau=0.25, n_blocks=n_blocks, gemm_chunk_rows=chunk
    )
    got = {
        (r["item_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in out.collect()
    }
    assert got == exp


@pytest.mark.parametrize("n_cells", [1, 5, 12])
def test_ivf_pruned_topk_matches_bruteforce(spark, n_cells):
    df, mat = _fixture(spark, seed=9)
    exp = _expected(mat, k=4, tau=0.25)
    out = ivf_pruned_topk_join(
        df, tau=0.25, k=4, n_cells=n_cells, gemm_chunk_rows=53
    )
    got = {
        (r["item_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in out.collect()
    }
    assert got == exp


def test_ivf_skew_subsplit_preserves_topk(spark):
    # tiny max_cell_rows forces every cell into hash sub-blocks — the skew
    # guard path must still produce the exact global top-k
    df, mat = _fixture(spark, n=150, seed=5)
    exp = _expected(mat, k=3, tau=0.2)
    out = ivf_pruned_topk_join(
        df, tau=0.2, k=3, n_cells=4, max_cell_rows=16, gemm_chunk_rows=11
    )
    got = {
        (r["item_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in out.collect()
    }
    assert got == exp


def test_topk_edges_symmetrize(spark):
    df, mat = _fixture(spark, n=120, seed=11)
    exp_pairs = _expected(mat, k=3, tau=0.2)
    exp_edges = {(min(i, j), max(i, j), s) for (i, j, _, s) in exp_pairs}
    directed = topk_similarity_self_join(df, k=3, tau=0.2, n_blocks=3)
    got = {
        (r["a_id"], r["b_id"], r["score"])
        for r in topk_edges(directed).collect()
    }
    assert got == exp_edges


def test_output_bounded_at_nk(spark):
    # loose tau: the all-pairs volume would be ~n^2/2; bounded emission
    # must cap at n*k regardless
    df, mat = _fixture(spark, n=200, seed=13)
    out = topk_similarity_self_join(df, k=2, tau=-1.0, n_blocks=4)
    assert out.count() == 200 * 2


def test_hybrid_dispatch_bit_identical(spark, monkeypatch):
    # The r9 hybrid contract: the pinned cell grid and both dispatch
    # routes (below and above the shortcut threshold, steered via
    # knn.BRUTE_TOPK_MAX_ROWS) must produce the SAME rows — recall 1.0
    # through the IVF prune and the shared 6-dp/id-asc total order make
    # the dispatch invisible to callers and to the one shared oracle.
    from crawling_vectordb_llm_spark.operators import knn

    df, mat = _fixture(spark, n=180, seed=17)
    exp = _expected(mat, k=3, tau=0.2)

    def rows(out):
        return {
            (r["item_id"], r["neighbor_id"], r["rank"], r["score"])
            for r in out.collect()
        }

    cells = rows(ivf_pruned_topk_join(df, tau=0.2, k=3, n_cells=16))
    auto_small = rows(topk_similarity_self_join(df, k=3, tau=0.2))
    monkeypatch.setattr(knn, "BRUTE_TOPK_MAX_ROWS", 50)
    auto_big = rows(topk_similarity_self_join(df, k=3, tau=0.2))
    assert cells == auto_small == auto_big == exp


def test_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert (
        topk_similarity_self_join(empty, k=3, tau=0.5, n_blocks=1).count() == 0
    )
    one = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    # a single row has no non-self neighbor
    assert topk_similarity_self_join(one, k=3, tau=-1.0, n_blocks=1).count() == 0
    assert ivf_pruned_topk_join(one, tau=-1.0, k=3, n_cells=2).count() == 0


def test_f32_prefilter_kernels_bit_identical():
    """r11: the f32-prefilter/f64-verify fast path of both block kernels
    must emit the pure-f64 path's triplets — same pairs, same 6-dp
    scores — on adversarial blocks: isotropic mass, planted near-dup
    cliques (scores ~1.0), and pairs planted within 1e-5 of tau (inside
    the f32 error shell, where only the f64 re-cut decides admission).
    The guarantee is EMPIRICAL equality up to f64 summation-order ulps
    (einsum rescore vs BLAS dgemm can differ in the last ulp; a cosine
    within ~1e-15 of tau or of a 6-dp rounding boundary could in
    principle split the paths — ADVICE r11), validated here and by the
    0-row symmetric diffs on the full sf3/sf9 fixtures."""
    import numpy as np

    from crawling_vectordb_llm_spark.operators.knn import (
        _chunked_tau_gemm,
        _topk_tau_gemm,
    )

    rng = np.random.default_rng(7)
    tau, d = 0.35, 64
    base = rng.standard_normal((400, d))
    # planted dups: 20 rows copied with tiny noise
    base[50:70] = base[0] + 1e-3 * rng.standard_normal((20, d))
    # planted near-tau pairs: rotate row 1 to land cos within ~1e-5 of tau
    u = base[1] / np.linalg.norm(base[1])
    w = rng.standard_normal(d)
    w -= (w @ u) * u
    w /= np.linalg.norm(w)
    for i, eps in enumerate((-3e-5, -1e-5, 0.0, 1e-5, 3e-5)):
        c = np.clip(tau + eps, -1, 1)
        base[100 + i] = c * u + np.sqrt(1 - c * c) * w
    ids_a = np.arange(400) * 3 + 1
    ids_b = np.arange(250) * 2  # overlapping id ranges, distinct sets
    mat_b = rng.standard_normal((250, d))
    mat_b[10:20] = base[2] + 1e-3 * rng.standard_normal((10, d))

    for diagonal in (True, False):
        b_ids = ids_a if diagonal else ids_b
        b_mat = base if diagonal else mat_b
        ref = _topk_tau_gemm(ids_a, base.copy(), b_ids, b_mat.copy(),
                             tau, 5, 128, diagonal, prefilter=False)
        fast = _topk_tau_gemm(ids_a, base.copy(), b_ids, b_mat.copy(),
                              tau, 5, 128, diagonal, prefilter=True)
        for r, f in zip(ref, fast):
            assert np.array_equal(r, f)
    for triangular in (True, False):
        b_ids = ids_a if triangular else ids_b
        b_mat = base if triangular else mat_b
        ref = _chunked_tau_gemm(ids_a, base.copy(), b_ids, b_mat.copy(),
                                tau, 128, triangular, prefilter=False)
        fast = _chunked_tau_gemm(ids_a, base.copy(), b_ids, b_mat.copy(),
                                 tau, 128, triangular, prefilter=True)
        for r, f in zip(ref, fast):
            assert np.array_equal(r, f)
