"""Dedup ladder properties: planted near-duplicates must be found by
MinHash-LSH and SimHash; exact dedup groups exact copies."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.operators import dedup as D

from .conftest import SF_SMALL
from .minhash_reference import portable_banded_rows


def _docs_with_planted_dups(spark):
    """Base docs + exact copies (+1000) and light mutations (+2000) of the
    first 10 documents."""
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") < 10)
    exact = first.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    mutated = first.select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz appended tail token")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(mutated)


def test_exact_dedup_groups_copies(spark):
    docs = _docs_with_planted_dups(spark)
    groups = D.exact_dedup_groups(docs).where(F.col("n_dups") > 1).collect()
    dup_canonicals = {r["canonical_id"] for r in groups}
    assert set(range(10)) <= dup_canonicals
    for r in groups:
        assert r["n_dups"] == 2


def test_minhash_lsh_finds_planted_near_dups(spark):
    """Universal (a*x+b) mod p hashing is the textbook MinHash
    construction: exact copies collide in every band and light mutations
    are found at high recall."""
    docs = _docs_with_planted_dups(spark)
    pairs = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_near_dup_pairs(docs, tau=0.5).collect()
    }
    # exact copies must always collide in every band
    for i in range(10):
        assert (i, i + 1000) in pairs, f"exact copy pair ({i},{i+1000}) missed"
    # light mutations share almost all shingles: expect high recall (>=8/10)
    found_mutated = sum(1 for i in range(10) if (i, i + 2000) in pairs)
    assert found_mutated >= 8


def test_portable_minhash_finds_planted_near_dups(spark):
    """The portable (cross-engine-exact) hash family, evaluated as Spark
    expressions, must deliver the same planted-duplicate recall contract
    and the same verified pairs as the numpy signer behind
    minhash_near_dup_pairs."""
    docs = _docs_with_planted_dups(spark)
    cands = D._pairs_from_banded(portable_banded_rows(docs), max_bucket=50)
    rows = D._verified_pairs(cands, docs, 0.5, "doc_id", "text", 3).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in rows}
    for i in range(10):
        assert (i, i + 1000) in pairs, f"exact copy pair ({i},{i+1000}) missed"
    found_mutated = sum(1 for i in range(10) if (i, i + 2000) in pairs)
    assert found_mutated >= 8
    # verify stage exactness holds identically
    for r in rows:
        assert r["jaccard"] >= 0.5
    fast = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_near_dup_pairs(docs, tau=0.5).collect()
    }
    assert pairs == fast


def test_minhash_verify_stage_is_exact(spark):
    docs = _docs_with_planted_dups(spark)
    rows = D.minhash_near_dup_pairs(docs, tau=0.5).collect()
    for r in rows:
        assert r["jaccard"] >= 0.5


def test_simhash_identical_texts_hamming_zero(spark):
    docs = _docs_with_planted_dups(spark)
    sim = D.simhash64(docs)
    cands = D.simhash_near_dup_candidates(sim, max_hamming=3).collect()
    ham = {(r["a_id"], r["b_id"]): r["hamming"] for r in cands}
    for i in range(10):
        assert ham.get((i, i + 1000)) == 0, f"exact copies ({i},{i+1000}) hamming != 0"


@pytest.mark.parametrize("mde", [0, 500_000])  # distributed / driver path
def test_connected_components_planted_topologies(spark, mde):
    """Chain (diameter stress), triangle, pair, and star must all resolve
    to min-id components; singletons are the caller's left-join concern.
    Both physical paths (star rounds with max_driver_edges=0, union-find
    fast path otherwise) must produce identical labels."""
    from crawling_vectordb_llm_spark.operators.components import (
        connected_components,
    )

    edges = (
        # chain 1-2-3-4-5 (worst case for naive propagation)
        [(1, 2), (2, 3), (3, 4), (4, 5)]
        # triangle with a redundant edge
        + [(10, 11), (11, 12), (10, 12)]
        # isolated pair, reversed order
        + [(21, 20)]
        # star centered on a non-min node
        + [(31, 30), (31, 32), (31, 33)]
    )
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_driver_edges=mde).collect()
    }
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
            10: 10, 11: 10, 12: 10,
            20: 20, 21: 20,
            30: 30, 31: 30, 32: 30, 33: 30}
    assert got == want


def test_connected_components_empty_and_self_loops(spark):
    from crawling_vectordb_llm_spark.operators.components import (
        connected_components,
    )

    for mde in (0, 500_000):
        empty = spark.createDataFrame([], "a_id long, b_id long")
        assert connected_components(empty, max_driver_edges=mde).count() == 0
        loops = spark.createDataFrame([(7, 7), (8, 9)], "a_id long, b_id long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(loops, max_driver_edges=mde).collect()
        }
        assert got == {8: 8, 9: 8}


def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Seeded random graphs: the distributed star algorithm must agree
    with a plain union-find on every node's component min."""
    import random

    from crawling_vectordb_llm_spark.operators.components import (
        connected_components,
    )

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        n = 40
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.04
        ]
        if not edges:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes_in_edges = {x for e in edges for x in e}
        want = {x: find(x) for x in nodes_in_edges}
        df = spark.createDataFrame(edges, "a_id long, b_id long")
        for mde in (0, 500_000):
            got = {
                r["node"]: r["component"]
                for r in connected_components(df, max_driver_edges=mde).collect()
            }
            assert got == want, f"seed {seed} mde {mde}: {got} != {want}"


def test_int8_quantization_error_bound(spark):
    """Per-element reconstruction error is <= scale/2 and quantized values
    stay in [-127, 127] on the real embedding fixture."""
    from pyspark.sql import functions as F

    from crawling_vectordb_llm_spark.functions import vector as V

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = emb.select(
        V.as_double_array("embedding").alias("e"),
        V.int8_scale("embedding").alias("scale"),
    )
    d = d.withColumn("qv", V.int8_quantize(F.col("e"), F.col("scale")))
    bad = d.where(
        (F.array_max(F.transform("qv", F.abs)) > 127)
        | (
            F.array_max(
                F.zip_with(
                    "e", "qv", lambda x, q: F.abs(x - q * F.col("scale"))
                )
            )
            > F.col("scale") / 2 + F.lit(1e-12)
        )
    ).count()
    assert bad == 0


def test_minhash_dedup_clusters_planted_copies_share_cluster(spark):
    """Planted exact copies (i, i+1000) and light mutations (i, i+2000)
    must land in the same cluster with the min id canonical."""
    from crawling_vectordb_llm_spark.operators.components import (
        connected_components,
    )

    docs = _docs_with_planted_dups(spark)
    pairs = D.minhash_near_dup_pairs(docs, tau=0.5).select("a_id", "b_id")
    labels = {
        r["node"]: r["component"] for r in connected_components(pairs).collect()
    }
    for i in range(10):
        assert labels.get(i + 1000) == labels.get(i) == i


def test_paragraph_dedup_planted(spark):
    """Doc 1 repeats doc 0's first 10-word chunk: the repeat must be
    dropped from doc 1's kept_text while doc 0 keeps everything; a doc
    that is entirely chunks seen earlier keeps nothing."""
    a = " ".join(f"w{i}" for i in range(20))          # chunks A0, A1
    shared = " ".join(f"w{i}" for i in range(10))     # == A0
    b = shared + " " + " ".join(f"x{i}" for i in range(10))
    c = shared                                        # fully duplicated doc
    docs = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.paragraph_dedup(docs, 10).collect()}
    assert (out[0]["n_chunks"], out[0]["n_kept"]) == (2, 2)
    assert out[0]["kept_text"] == a
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 1)
    assert out[1]["kept_text"] == " ".join(f"x{i}" for i in range(10))
    assert (out[2]["n_chunks"], out[2]["n_kept"]) == (1, 0)
    assert out[2]["kept_text"] == ""


def test_paragraph_dedup_partial_tail_chunk(spark):
    """A trailing partial chunk is its own span, deduped like any other."""
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j k l"), (1, "k l")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.paragraph_dedup(docs, 10).collect()}
    assert (out[0]["n_chunks"], out[0]["n_kept"]) == (2, 2)
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (1, 0)


def test_bloom_prefilter_no_false_negatives_and_shrinks(spark):
    """Every true member must survive the bloom probe (FN-free is the
    correctness contract); with 2^20 bits over a few thousand build values
    the false-positive rate must also make the prefilter actually shrink
    the non-member stream."""
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    sh = docs.select(
        "doc_id", F.explode(D.word_shingles("text", 2)).alias("sh")
    )
    bench = sh.where(F.col("doc_id") < 5).select("sh").distinct()
    corpus = sh.where(F.col("doc_id") >= 5)

    bits = D.bloom_build(bench, "sh")
    survivors = D.bloom_might_contain(corpus, "sh", bits)

    true_members = corpus.join(bench, "sh")
    n_members = true_members.count()
    n_surv = survivors.count()
    n_corpus = corpus.count()
    # FN-free: survivors must cover every true member row
    assert survivors.join(bench, "sh").count() == n_members
    # and shed the bulk of the non-members
    assert n_surv < n_members + 0.02 * (n_corpus - n_members)


def test_paragraph_dedup_matches_python_reference_on_random_corpus(spark):
    """Randomized corpus (seeded) vs a direct Python reference: every
    distinct chunk survives exactly once, at its globally-first
    (doc_id, chunk_idx) position."""
    import random

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 37))))
        for i in range(40)
    ]
    W = 5

    def chunks_of(text):
        ws = text.split(" ")
        return [" ".join(ws[i : i + W]) for i in range(0, len(ws), W)]

    seen, keep = set(), {}
    for i, text in docs:
        kept = []
        n = 0
        for ch in chunks_of(text):
            if ch == "":
                continue
            n += 1
            if ch not in seen:
                seen.add(ch)
                kept.append(ch)
        keep[i] = (n, len(kept), " ".join(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["kept_text"])
        for r in D.paragraph_dedup(df, W).collect()
    }
    assert got == keep


def test_ivf_pruned_threshold_join_exact_equality(spark):
    """The pruned join must be BIT-IDENTICAL to the exact blocked join —
    recall 1.0 by construction (triangle-inequality prune), same rounding,
    no duplicate emissions — including when the skew guard hash-splits
    cells into sub-blocks."""
    from crawling_vectordb_llm_spark.operators.ivf import (
        ivf_pruned_threshold_join,
    )
    from crawling_vectordb_llm_spark.operators.knn import (
        threshold_similarity_join,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    exact = {
        (r["a_id"], r["b_id"], r["score"])
        for r in threshold_similarity_join(emb, tau=0.35).collect()
    }
    for kwargs in ({"n_cells": 8}, {"n_cells": 3, "max_cell_rows": 40}):
        got = [
            (r["a_id"], r["b_id"], r["score"])
            for r in ivf_pruned_threshold_join(emb, tau=0.35, **kwargs).collect()
        ]
        assert len(got) == len(set(got))  # each unordered pair exactly once
        assert set(got) == exact, kwargs


def test_ivf_pruned_threshold_join_prunes_clustered_data(spark):
    """On a corpus with genuinely separated clusters (the 100 TB dedup
    regime the pruning targets), far-apart cell pairs must be PROVABLY
    skipped — and the result still exactly matches the unpruned join."""
    import numpy as np

    from crawling_vectordb_llm_spark.operators import ivf as I
    from crawling_vectordb_llm_spark.operators.knn import (
        threshold_similarity_join,
    )

    rng = np.random.default_rng(7)
    dim, per = 16, 120
    anchors = np.eye(dim)[:4]  # 4 orthogonal cluster directions
    rows = []
    i = 0
    for a in anchors:
        pts = a + 0.05 * rng.standard_normal((per, dim))
        for p in pts:
            rows.append((i, [float(x) for x in p]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = I.ivf_pruned_threshold_join(df, tau=0.9, n_cells=8, seed=1)
    pairs = {(r["a_id"], r["b_id"]) for r in got.collect()}
    exact = {
        (r["a_id"], r["b_id"])
        for r in threshold_similarity_join(df, tau=0.9).collect()
    }
    assert pairs == exact
    # orthogonal anchors, tight clusters, tau=0.9 (theta ~ 0.45 rad):
    # cross-cluster cell pairs are provably inadmissible, so no
    # cross-anchor pair can even appear as a candidate; with 8 cells the
    # admissible pair count must be far below the full 36-pair grid.
    # Verify via the physical pair table the operator builds: re-run the
    # driver-side prune logic on the same assignment.
    cents = I.kmeans_centroids(df, 8, "embedding", seed=1)
    assigned = I.assign_centroids(df, cents, "embedding")
    theta = np.arccos(np.clip(I._normalize(cents) @ I._normalize(cents).T, -1, 1))
    # member angles per cell
    rows2 = assigned.collect()
    member = {}
    for r in rows2:
        v = np.array(r["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        c = int(r["centroid_id"])
        ang = float(np.arccos(np.clip(v @ I._normalize(cents)[c], -1, 1)))
        member.setdefault(c, []).append(ang)
    radii = {c: max(a) for c, a in member.items()}
    theta_tau = float(np.arccos(0.9))
    admissible = sum(
        1
        for ci in radii
        for cj in radii
        if cj >= ci and theta[ci, cj] - radii[ci] - radii[cj] <= theta_tau + 1e-9
    )
    full = len(radii) * (len(radii) + 1) // 2
    assert admissible < full  # pruning really happened


def test_duplicate_span_excise_planted(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),      # owner of the shared span
            (1, "x a b c d e y z"),      # copies "a b c d e" -> excised
            (2, "p q r s t u v w"),      # unique: untouched
            (3, "m m m m m m m m m m"),  # self-repeats its own 5-gram
            (4, "short doc"),            # under the span width: untouched
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in D.duplicate_span_excise(docs, n=5, min_count=2).collect()
    }
    # the globally-first occurrence survives intact
    assert out[0]["clean_text"] == "a b c d e f g h"
    assert out[0]["n_excised"] == 0
    # the copy loses exactly the shared 5 tokens, keeps its own
    assert out[1]["clean_text"] == "x y z"
    assert out[1]["n_excised"] == 5
    # unique and too-short docs pass through
    assert out[2]["clean_text"] == "p q r s t u v w"
    assert out[4]["clean_text"] == "short doc"
    assert out[4]["n_tokens"] == 2
    # within-doc repetition collapses toward the first copy: every token
    # covered by a non-owner occurrence of "m m m m m" goes
    assert out[3]["n_excised"] == 9
    assert out[3]["clean_text"] == "m"


def test_duplicate_span_excise_no_dups_is_identity(spark):
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    # raise min_count above any plausible fixture collision for a 7-gram
    out = D.duplicate_span_excise(docs, n=7, min_count=1_000_000)
    assert out.where(F.col("n_excised") != 0).count() == 0
    joined = (
        out.join(docs, "doc_id")
        .where(F.col("clean_text") != F.col("text"))
        .count()
    )
    assert joined == 0


def test_duplicate_span_excise_rejects_invalid_id_domain(spark):
    """The packed owner key requires doc_id >= 0 and pos < pos_pack
    (ADVICE r3): violations must error the job, not silently elect a
    wrong owner via an inverted/colliding key."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    base = "tok " * 12  # long enough for 5-gram occurrences
    neg = spark.createDataFrame(
        [(-1, base.strip()), (2, base.strip())], "doc_id long, text string"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as ei:
        D.duplicate_span_excise(neg, n=5, min_count=2).collect()
    assert "duplicate_span_excise" in str(ei.value)

    # tiny pos_pack makes a normal doc overflow the position domain
    ok = spark.createDataFrame([(1, base.strip()), (2, base.strip())],
                               "doc_id long, text string")
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as ei:
        D.duplicate_span_excise(ok, n=5, min_count=2, pos_pack=4).collect()
    assert "duplicate_span_excise" in str(ei.value)

    # and the valid domain still works unchanged: "tok"*12 self-repeats,
    # so the globally-first span (doc 1, pos 0) owns and everything else
    # (positions 1-11 of doc 1, all of doc 2) is excised
    out = {r["doc_id"]: r for r in
           D.duplicate_span_excise(ok, n=5, min_count=2).collect()}
    assert out[1]["n_excised"] == 11 and out[1]["clean_text"] == "tok"
    assert out[2]["n_excised"] == 12 and out[2]["clean_text"] == ""


def test_clustered_embeddings_generator_and_measured_admit_rate(spark):
    """VERDICT r3 #2: the mixture-of-Gaussians embedding generator is a
    pure function of its options (partitioning-independent), and on its
    clustered geometry the triangle-inequality prune measurably pays:
    admit_rate (candidate pairs / all pairs) below 30% while the output
    stays bit-identical to the exact blocked join."""
    from crawling_vectordb_llm_spark.operators import ivf as I
    from crawling_vectordb_llm_spark.operators.knn import (
        threshold_similarity_join,
    )
    from crawling_vectordb_llm_spark.sources.synthetic_embeddings import (
        clustered_embeddings,
    )

    a = clustered_embeddings(spark, 600, k=12, sigma=0.12, partitions=3)
    b = clustered_embeddings(spark, 600, k=12, sigma=0.12, partitions=7)
    ra = sorted(map(tuple, a.select("vec_id", "label").collect()))
    rb = sorted(map(tuple, b.select("vec_id", "label").collect()))
    assert ra == rb
    va = {r["vec_id"]: r["embedding"] for r in a.collect()}
    vb = {r["vec_id"]: r["embedding"] for r in b.collect()}
    assert all(va[i] == vb[i] for i in va)  # exact float equality

    # n_cells ~2-3x the true cluster count: a cell that merges two true
    # clusters gets a fat radius that poisons the triangle bound for
    # every pair it touches (measured: 16 cells → admit 0.53, 32 cells →
    # 0.08 on this geometry) — the production sizing rule, documented in
    # SCALE.md's clustered-geometry table
    emb = a.select("vec_id", "embedding")
    stats: dict = {}
    got = {
        (r["a_id"], r["b_id"], r["score"])
        for r in I.ivf_pruned_threshold_join(
            emb, tau=0.7, n_cells=32, stats_out=stats
        ).collect()
    }
    exact = {
        (r["a_id"], r["b_id"], r["score"])
        for r in threshold_similarity_join(emb, tau=0.7).collect()
    }
    assert got == exact  # recall 1.0 held while pruning
    assert stats["n"] == 600 and stats["total_pairs"] == 600 * 599 // 2
    assert stats["candidate_pairs"] >= len(exact)
    assert stats["admit_rate"] < 0.30, stats  # the prune measurably pays


@pytest.mark.parametrize("id_type", ["int", "string"])
def test_lsh_band_rows_keeps_id_type(spark, id_type):
    """The band rows' __id takes the id column's type, and the near-dup
    pipeline runs end to end on non-bigint ids with the same pairs."""
    docs = _docs_with_planted_dups(spark)
    typed = docs.select(F.col("doc_id").cast(id_type).alias("doc_id"), "text")
    rows = D.lsh_band_rows(typed)
    assert rows.schema["__id"].dataType == typed.schema["doc_id"].dataType
    assert rows.count() == D.lsh_band_rows(docs).count()
    got = D.minhash_near_dup_pairs(typed, tau=0.5)
    assert got.schema["a_id"].dataType == typed.schema["doc_id"].dataType

    def unordered(df):  # string ids order lexicographically in a bucket
        return {frozenset((str(r["a_id"]), str(r["b_id"]))) for r in df.collect()}

    assert unordered(got) == unordered(D.minhash_near_dup_pairs(docs, tau=0.5))


def test_lsh_band_rows_rejects_mismatched_geometry(spark):
    """num_perm must equal bands * rows_per_band; the check runs when the
    plan is built, before any job."""
    docs = _docs_with_planted_dups(spark)
    msg = r"num_perm=30.*bands=8.*rows_per_band=4"
    with pytest.raises(ValueError, match=msg):
        D.lsh_band_rows(docs, num_perm=30, bands=8, rows_per_band=4)
    with pytest.raises(ValueError, match=msg):
        D.minhash_near_dup_pairs(docs, num_perm=30)


def test_near_dup_pipelines_leave_no_cache_entries(spark):
    """The batch and incremental near-dup pipelines cache nothing: after
    an action on each, Spark's cache manager is still empty."""
    from crawling_vectordb_llm_spark.operators.incremental_dedup import (
        incremental_near_dup,
    )

    spark.catalog.clearCache()
    docs = _docs_with_planted_dups(spark)
    assert D.minhash_near_dup_pairs(docs, tau=0.5).count() > 0
    assert incremental_near_dup(docs, F.col("doc_id") >= 1000).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
