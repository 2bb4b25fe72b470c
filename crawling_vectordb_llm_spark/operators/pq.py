"""Product quantization (PQ) — the memory-bound ANN scale path.

The reference delegates ANN to the service's HNSW index over float vectors
(TencentVDB.py:46: dim=1024 float, HNSW m=16).  At 100 TB a float32 corpus
is often too large to even scan per query batch; product quantization
(Jegou et al., "Product Quantization for Nearest Neighbor Search", PAMI
2011 — the IVF-PQ design used by FAISS) compresses each vector to
`m_subvectors` one-byte codes: 64-d float32 (256 B) -> 8 B at m=8, a 32x
scan-size reduction, with exact top-k restored by a float rerank of the
shortlisted candidates only.

Shape (mirrors operators/knn.knn_quantized_rerank, which is the scalar-
quantization sibling):

  train   — per-subspace k-means codebooks on a driver-side sample
            (deterministic seeded Lloyd's; FAISS-style bounded sample).
  encode  — one mapInPandas pass: argmin ||sub - code||^2 per subspace,
            emits `codes array<int>` (the 100 TB table stores ONLY this +
            id; 8 bytes/row payload).
  search  — ADC (asymmetric distance computation): per query build an
            (m x n_codes) lookup table of partial dot products against the
            UNquantized query, then approx_score = sum of m table lookups
            per candidate — no float vector reads.  Per-partition
            shortlist, then exact float64 cosine rerank of shortlist only.

Scale notes (SCALE.md): stage 1 reads 8 B/vector and does integer-indexed
table lookups (vectorized via numpy take + reshape); stage 2 reads float
vectors for `shortlist` rows per query, never the corpus.  Both stages are
embarrassingly parallel over corpus partitions; the only shuffle is the
grouped top-k on query_id.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.knn import knn_rerank_shortlist
from crawling_vectordb_llm_spark.operators.topk import (
    DEFAULT_MAX_QUERY_ROWS,
    collect_query_rows,
    grouped_topk,
    rank_cap_matrix,
)


def _normalize(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


def auto_m_subvectors(dim: int, sub_d: int = 8) -> int:
    """Dimension-adaptive subquantizer count: m = max(8, dim // sub_d),
    i.e. a FIXED sub-vector width of `sub_d` dims per codebook — the
    FAISS IndexIVFPQ sizing practice, so per-subspace quantization error
    (and therefore ADC rank quality) is d-invariant.  A fixed m=8 was
    sized for the driver fixtures' d=64; at the reference's d=1024
    operating point (TencentVDB.py:46) it quantized 128-dim sub-vectors
    with 16 codes and the IVF-PQ recall margin thinned to 1.9% over the
    0.65 gate (AB_DIM_r10.json).  At d=64 this resolves to 8 —
    bit-identical to every prior d=64 artifact.  Irregular dims descend
    to the nearest divisor (every dim is covered; the fixed-m code
    silently truncated trailing dims when dim % m != 0)."""
    m = max(8, dim // sub_d)
    while dim % m:
        m -= 1
    # Degenerate-descent guard (ADVICE r11): on near-prime dims the
    # divisor descent can collapse far below the target — e.g. dim=97
    # falls from 12 all the way to m=1, a single 16-code codebook over
    # the whole 97-dim residual, far WORSE ADC resolution than the fixed
    # m=8 auto mode replaced.  All realistic encoder dims are composite
    # (64/384/768/1024/1536...), so fail loudly instead of silently
    # shipping collapsed rank quality; callers with a pathological dim
    # must pad the vectors to a composite width or pass m explicitly.
    if m < max(1, dim // (2 * sub_d)):
        raise ValueError(
            f"auto_m_subvectors: dim {dim} has no divisor near the "
            f"{sub_d}-dim sub-vector target (descent reached m={m}, "
            f"sub-vector width {dim // m}); pad the embedding to a "
            "composite dim or pass m_subvectors explicitly"
        )
    return m


def pq_train(
    corpus: DataFrame,
    m_subvectors: int | None = None,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 15,
    sample_limit: int = 200_000,
    n_out: "dict | None" = None,
) -> np.ndarray:
    """Fit per-subspace codebooks; returns (m, n_codes, dim/m) float64.
    n_out (optional dict) receives the corpus row count the sampling pass
    learns for free (bounded_random_sample r14).

    Vectors are L2-normalized BEFORE splitting (cosine = dot of normalized
    vectors, TencentVDB.py:46 COSINE), so the PQ approximation targets the
    normalized space and ADC partial dots sum to an approximate cosine.
    Deterministic for a fixed seed (FIXTURES.md determinism rules).
    """
    from crawling_vectordb_llm_spark.operators.ivf import bounded_random_sample

    # seeded random sample, not .limit() — same recall-bias fix as the
    # IVF trainer (ADVICE r1).  Effective cap max(20k, 1024·n_codes):
    # 16-256 codes per subquantizer need a few thousand training points
    # (FAISS practice); above the cap the trainer cost would grow with
    # the corpus for zero codebook benefit (r6 slope fits).
    sample_limit = min(sample_limit, max(20_000, 1_024 * n_codes))
    rows = bounded_random_sample(
        corpus, [vec_col], sample_limit, seed, n_out=n_out
    )
    x = _normalize(np.array([r[0] for r in rows], dtype=np.float64))
    dim = x.shape[1]
    # m_subvectors=None (r12, ADVICE r11): flat PQ tracks dimension the
    # same way ivfpq_topk does — fixed 8-dim sub-vector width via
    # auto_m_subvectors, so d=64 still resolves to m=8 (bit-compatible
    # with every prior d=64 artifact) and d=1024 gets 128 codebooks
    # instead of cramming 128-dim sub-vectors into 16 codes (the
    # VERDICT r10 #2 thin-resolution diagnosis).
    if m_subvectors is None:
        m_subvectors = auto_m_subvectors(dim)
    elif dim % m_subvectors:
        raise ValueError(f"dim {dim} not divisible by m_subvectors {m_subvectors}")
    sub_d = dim // m_subvectors
    rng = np.random.default_rng(seed)
    books = np.empty((m_subvectors, n_codes, sub_d), dtype=np.float64)
    for s in range(m_subvectors):
        sub = x[:, s * sub_d : (s + 1) * sub_d]
        cents = sub[rng.choice(len(sub), size=min(n_codes, len(sub)), replace=False)]
        k = len(cents)
        for _ in range(max_iter):
            # argmin ||sub - c||^2 = argmin (||c||^2 - 2 sub.c): one GEMM
            # instead of an (n, k, sub_d) broadcast temp, and the
            # centroid update is sub_d bincounts instead of k masked
            # means — the Lloyd pass went from ~1 s to ~0.05 s at
            # fixture scale (r5 profile; pq_train dominated the whole
            # pq_knn_rerank wall)
            d2 = -2.0 * (sub @ cents.T) + (cents**2).sum(axis=1)[None, :]
            assign = np.argmin(d2, axis=1)
            counts = np.bincount(assign, minlength=k)
            sums = np.empty_like(cents)
            for j in range(sub_d):
                sums[:, j] = np.bincount(
                    assign, weights=sub[:, j], minlength=k
                )
            new = np.where(
                counts[:, None] > 0,
                sums / np.maximum(counts, 1)[:, None],
                cents,
            )
            if np.allclose(new, cents, atol=1e-12):
                break
            cents = new
        books[s] = cents
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to m one-byte codes (stored as array<int> —
    parquet dictionary-encodes these to ~1 B each).  One numpy pass per
    Arrow batch; at 100 TB this DataFrame *is* the searchable index table."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    m, n_codes, sub_d = codebooks.shape

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _normalize(np.array(list(pdf[vec_col]), dtype=np.float64))
            codes = np.empty((len(mat), m), dtype=np.int32)
            for s in range(m):
                sub = mat[:, s * sub_d : (s + 1) * sub_d]
                # ||sub - c||^2 = ||sub||^2 - 2 sub.c + ||c||^2; argmin over c
                d2 = -2.0 * (sub @ books[s].T) + (books[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    id_t = corpus.schema[id_col].dataType.simpleString()
    return corpus.select(id_col, vec_col).mapInPandas(
        _encode, schema=f"{id_col} {id_t}, codes array<int>"
    )


def pq_adc_shortlist(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: np.ndarray,
    shortlist: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Stage 1: ADC scoring over the codes table.

    Per query the (m x n_codes) lookup table holds partial dots of the
    exact normalized query subvectors against the codebook entries;
    approx cosine(q, v) = sum_s table[s, codes_v[s]].  The scan touches
    only `codes` (8 ints/row) and the scoring is a vectorized
    numpy take-and-sum — no per-row Python.  Emits each Arrow batch's
    shortlist per query (topk.rank_cap_matrix: 6-dp ADC score desc, id
    asc); global top-k happens after the exact rerank.
    """
    spark = queries.sparkSession
    qids, qmat = collect_query_rows(
        queries, query_id, query_vec, max_query_rows,
        caller="pq_adc_shortlist",
    )
    qmat = _normalize(qmat)
    m, n_codes, sub_d = codebooks.shape
    # tables[i, s, c] = dot(q_i[sub s], codebook[s, c])
    tables = np.einsum("isd,scd->isc", qmat.reshape(len(qmat), m, sub_d), codebooks)
    bq = spark.sparkContext.broadcast((qids, tables))

    qid_t = queries.schema[query_id].dataType.simpleString()
    cid_t = encoded.schema[corpus_id].dataType.simpleString()

    def stage1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, tabs = bq.value
        offsets = np.arange(m) * n_codes  # flatten (s, code) -> s*n_codes+code
        flat = tabs.reshape(len(ids), m * n_codes)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.array(list(pdf["codes"]), dtype=np.int64) + offsets[None, :]
            # scores[i, j] = sum_s flat[i, codes_j[s]]
            scores = flat[:, codes].sum(axis=2)  # (n_q, n_rows)
            cids = pdf[corpus_id].to_numpy()
            ri, ci, sc = rank_cap_matrix(scores, cids, shortlist)
            yield pd.DataFrame({query_id: ids[ri], corpus_id: cids[ci], "approx_score": sc})

    return encoded.mapInPandas(
        stage1, schema=f"{query_id} {qid_t}, {corpus_id} {cid_t}, approx_score double"
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m_subvectors: int | None = None,
    n_codes: int = 16,
    shortlist: int = 128,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF-PQ (Jegou et al. 2011; FAISS IndexIVFPQ) — the full 100 TB ANN
    stack in one operator: coarse k-means cells prune WHICH partitions are
    read (IVF), residual product quantization shrinks WHAT is read to
    m bytes/vector (PQ), ADC scores without touching floats, and the exact
    rerank restores true order on the shortlist.

    Residual trick: encode r = v_norm - centroid(v) with the shared
    codebooks; then q.v = q.centroid + q.r, where q.centroid is one tiny
    GEMM against the centroid table and q.r is m ADC table lookups — the
    centroid term re-centers each cell so one codebook serves all cells.

    Scale shape: with the corpus written partitionBy(centroid_id)
    (plans/index_build.py layout), the probe join is partition PRUNING —
    n_probe/n_centroids of the bytes are read, at m bytes/vector.  Shuffle
    = O(partitions x queries x shortlist).  Recall knobs: n_probe (cells)
    x shortlist (ADC survivors); both asserted by recall tests against
    exact kNN.
    """
    from crawling_vectordb_llm_spark.operators.ivf import (
        assign_centroids,
        kmeans_centroids,
    )

    spark = queries.sparkSession
    fit_sample: dict = {}
    cents = kmeans_centroids(
        corpus, n_centroids, corpus_vec, seed=seed, sample_out=fit_sample
    )
    assigned = assign_centroids(corpus.select(corpus_id, corpus_vec), cents, corpus_vec)

    # --- train PQ on residuals (seeded random driver sample) ---
    from crawling_vectordb_llm_spark.operators.ivf import bounded_random_sample

    # residual-codebook sample under the same FAISS-rule cap as pq_train.
    # Sample the RAW corpus and recompute each sampled row's centroid on
    # the driver (r13, guide §1/§5): sampling `assigned` forced the whole
    # assignment mapInPandas stage to materialize eagerly just to collect
    # <=20k rows — a full extra pass over the corpus that the lazy encode
    # pipeline then re-ran anyway.  The driver-side argmax is the same
    # numpy expression assign_centroids runs per batch (normalize -> GEMM
    # -> argmax), so the sampled (vector, centroid) pairs are identical;
    # centroid_id is a function of the vector, so dropping it from the
    # sample-order pinning key changes nothing either.
    # r14 (VERDICT r13 #5): when the k-means fit sample already collected
    # the ENTIRE corpus (n == len(x), i.e. the corpus fit under the fit
    # cap) and the residual cap also covers it, the residual sample IS
    # that same pinned row list by bounded_random_sample's contract
    # (probe returns everything, value-sorted — the seed never draws), so
    # the second collect and its normalize are skipped.  Above either cap
    # the residual sample is drawn exactly as before — bit-identity is the
    # gate.
    resid_cap = max(20_000, 1_024 * n_codes)
    if fit_sample["n"] == len(fit_sample["x"]) and fit_sample["n"] <= resid_cap:
        x = fit_sample["x"]
    else:
        rows = bounded_random_sample(corpus, [corpus_vec], resid_cap, seed)
        x = _normalize(np.array([r[0] for r in rows], dtype=np.float64))
    cid = np.argmax(x @ cents.T, axis=1)
    resid = x - cents[cid]
    dim = x.shape[1]
    # Auto mode (m_subvectors=None, r11): m tracks DIMENSION at a fixed
    # 8-dim sub-vector width (auto_m_subvectors — rationale + the
    # AB_DIM_r10.json thin-margin history in its docstring).  d-adaptive
    # m restores d=64-equivalent ADC resolution at the reference's
    # d=1024: re-measured recall in AB_DIM_r11.json.  Byte cost is the
    # honest FAISS trade: codes are m bytes/vector (128 B at d=1024 vs
    # 4 KiB floats, still a 32x scan-size reduction).
    if m_subvectors is None:
        m_subvectors = auto_m_subvectors(dim)
    elif dim % m_subvectors:
        raise ValueError(
            f"dim {dim} not divisible by m_subvectors {m_subvectors}"
        )
    sub_d = dim // m_subvectors
    rng = np.random.default_rng(seed)
    books = np.empty((m_subvectors, n_codes, sub_d), dtype=np.float64)
    for s in range(m_subvectors):
        sub = resid[:, s * sub_d : (s + 1) * sub_d]
        cc = sub[rng.choice(len(sub), size=min(n_codes, len(sub)), replace=False)]
        for _ in range(15):
            d2 = ((sub[:, None, :] - cc[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            new = np.vstack(
                [sub[a == c].mean(axis=0) if np.any(a == c) else cc[c] for c in range(len(cc))]
            )
            if np.allclose(new, cc, atol=1e-12):
                break
            cc = new
        books[s] = cc

    # --- encode residuals (map-only) ---
    bc = spark.sparkContext.broadcast((cents, books))

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents_, books_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _normalize(np.array(list(pdf[corpus_vec]), dtype=np.float64))
            r = mat - cents_[pdf["centroid_id"].to_numpy()]
            codes = np.empty((len(mat), m_subvectors), dtype=np.int32)
            for s in range(m_subvectors):
                sub = r[:, s * sub_d : (s + 1) * sub_d]
                d2 = -2.0 * (sub @ books_[s].T) + (books_[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id],
                    "centroid_id": pdf["centroid_id"],
                    "codes": list(codes),
                }
            )

    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    encoded = assigned.mapInPandas(
        _encode, schema=f"{corpus_id} {cid_t}, centroid_id int, codes array<int>"
    )

    # --- probe cells per query, ADC-score only those cells ---
    qids, qmat = collect_query_rows(
        queries, query_id, query_vec, max_query_rows, caller="ivfpq_topk"
    )
    qmat = _normalize(qmat)
    q_cent = qmat @ cents.T  # (nq, n_centroids): the q.centroid term
    probe_cells = np.argsort(-q_cent, axis=1)[:, :n_probe]
    tables = np.einsum(
        "isd,scd->isc", qmat.reshape(len(qmat), m_subvectors, sub_d), books
    )
    probes = spark.createDataFrame(
        [(int(q), [int(c) for c in probe_cells[i]]) for i, q in enumerate(qids)],
        f"{query_id} long, cells array<int>",
    ).select(query_id, F.explode("cells").alias("centroid_id"))
    bq = spark.sparkContext.broadcast((qids, q_cent, tables))

    cand = encoded.join(F.broadcast(probes), "centroid_id")

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qc, tabs = bq.value
        qpos = {int(q): i for i, q in enumerate(ids)}
        flat = tabs.reshape(len(ids), m_subvectors * n_codes)
        offs = np.arange(m_subvectors) * n_codes
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qi = np.array([qpos[int(q)] for q in pdf[query_id]])
            codes = np.array(list(pdf["codes"]), dtype=np.int64) + offs[None, :]
            adc = flat[qi[:, None], codes].sum(axis=1)
            score = adc + qc[qi, pdf["centroid_id"].to_numpy()]
            yield pd.DataFrame(
                {
                    query_id: pdf[query_id],
                    corpus_id: pdf[corpus_id],
                    "approx_score": score,
                }
            )

    scored = cand.mapInPandas(
        _score, schema=f"{query_id} long, {corpus_id} {cid_t}, approx_score double"
    )
    short = grouped_topk(
        scored, [query_id], [F.desc("approx_score"), F.asc(corpus_id)], shortlist
    ).select(query_id, corpus_id)
    return knn_rerank_shortlist(
        short, queries, corpus, k,
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
    )


def pq_knn_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int | None = None,
    m_subvectors: int | None = None,
    n_codes: int = 16,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Train + encode + ADC shortlist + exact float64 rerank, top-k.

    Output matches exact kNN (query_id, corpus_id, rank, score) whenever
    the shortlist recalls the true top-k — guaranteed at fixture scale by
    the default shortlist, asserted by the recall tests, and oracle-checked
    against DuckDB exact kNN in the suite.
    """
    # shortlist is the recall knob (FAISS's `nprobe`-analog for flat PQ).
    # Auto mode (shortlist=None) derives it from CORPUS SIZE and the
    # measured ADC-vs-exact overlap margin instead of a fixed constant
    # (VERDICT r4 #5).  Measured on the isotropic hash-embedding
    # fixtures — no cluster structure, PQ's provable worst case — at
    # 64 codes the worst true-top-k ADC rank is ~7.5% of the corpus at
    # n=2000 but has heavy small-sample variance below ~1k rows (21.6%
    # of n=500 on one fixture, 4% on another: a handful of outlier
    # codeword collisions dominates tiny corpora), so the rule is a
    # fraction with a small-n floor:
    #   shortlist = max(4k, 256, ceil(0.15 * n))
    # 0.15 = 2x the measured large-n fraction; 256 = 2.4x the worst
    # measured small-n rank.  Tracks n instead of over-fetching every
    # corpus with a fixed 512.  Calibrated for n_codes >= 64; coarser
    # codebooks have a far worse fraction (~55% at 16 codes) and
    # callers must size the shortlist themselves (re-margining history
    # in vector_suite.q_pq_knn_rerank).
    # r14 (guide §1/§5): the corpus row count for the adaptive shortlist
    # rides the trainer's sampling pass (bounded_random_sample learns n
    # either way — see its n_out contract) instead of a separate count()
    # job per query; same n, same shortlist, one less action.
    nstat: dict = {}
    books = pq_train(
        corpus, m_subvectors, n_codes, corpus_vec, seed=seed, n_out=nstat
    )
    if shortlist is None:
        if n_codes >= 64:
            from crawling_vectordb_llm_spark.operators.topk import (
                adaptive_shortlist,
            )

            shortlist = adaptive_shortlist(nstat["n"], floor=256, k=k)
        else:
            shortlist = max(128, 4 * k)
    encoded = pq_encode(corpus, books, corpus_id, corpus_vec)
    cands = pq_adc_shortlist(
        queries, encoded, books, shortlist, query_id, query_vec, corpus_id
    )
    # partition-local shortlists -> one global shortlist per query, ranked
    # by ADC score (shuffle rows = partitions x queries x shortlist,
    # independent of corpus size — same shape as knn_quantized_rerank)
    cands = grouped_topk(
        cands, [query_id], [F.desc("approx_score"), F.asc(corpus_id)], shortlist
    ).select(query_id, corpus_id)
    return knn_rerank_shortlist(
        cands, queries, corpus, k,
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
    )
