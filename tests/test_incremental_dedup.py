"""Incremental LSH dedup (operators/incremental_dedup.py): the per-batch
snapshot-equality contract, the flood-cap semantics across batches, and
cross-batch planted duplicates."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.operators.dedup import (
    lsh_band_rows,
    minhash_near_dup_pairs,
)
from crawling_vectordb_llm_spark.operators.incremental_dedup import (
    incremental_candidate_pairs,
    incremental_near_dup,
)

from .conftest import SF_SMALL
from .minhash_reference import portable_banded_rows


def _pairs(df):
    return {(r["a_id"], r["b_id"]) for r in df.select("a_id", "b_id").collect()}


def test_batch_snapshot_equality_portable(spark):
    """Batch k's incremental output must equal the FULL ladder over
    everything ingested up to batch k, restricted to pairs involving
    batch k — for every batch of a 3-way split."""
    docs = read_table(spark, SF_SMALL, "documents")
    for k in (1, 2):
        upto = docs.where(F.col("doc_id") % 3 <= k)
        is_new = F.col("doc_id") % 3 == k
        inc = _pairs(incremental_near_dup(upto, is_new, tau=0.2))
        full = minhash_near_dup_pairs(upto, tau=0.2)
        batch_ids = {
            r["doc_id"] for r in upto.where(is_new).select("doc_id").collect()
        }
        expected = {
            p for p in _pairs(full) if p[0] in batch_ids or p[1] in batch_ids
        }
        assert inc == expected, f"batch {k}: {len(inc)} vs {len(expected)}"
        assert inc, f"batch {k} produced no pairs — vacuous fixture split"


def test_cross_batch_planted_duplicate(spark):
    """A batch-2 doc whose text duplicates a batch-1 doc must surface as
    a cross-batch pair with jaccard 1.0."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"filler words number {i} " + "pad " * (i % 4 + 3)) for i in range(2, 40, 2)]
    rows += [(100, text), (101, text)]  # 100 even=old, 101 odd=new
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = incremental_near_dup(
        docs, F.col("doc_id") % 2 == 1, tau=0.2
    ).collect()
    hits = {(r["a_id"], r["b_id"]): r["jaccard"] for r in out}
    assert (100, 101) in hits and hits[(100, 101)] == 1.0


def test_flood_cap_is_combined_and_append_only(spark):
    """The documented cap semantics: batch 2 sees the COMBINED bucket
    size (old ∪ new), so a bucket that floods across batches emits
    nothing new — but batch 1's already-emitted pairs are append-only
    history (the final-corpus run would have suppressed that bucket
    entirely; the divergence is one-directional and deliberate)."""
    text = "identical flood document body with plenty of repeated words here"
    b1 = spark.createDataFrame(
        [(i, text) for i in range(4)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(i, text) for i in range(4, 7)], "doc_id long, text string"
    )
    # batch 1 against an empty index: bucket size 4 <= cap 5 -> all pairs
    empty = lsh_band_rows(b1.where(F.lit(False)))
    first = incremental_candidate_pairs(
        empty, lsh_band_rows(b1), max_bucket=5
    )
    assert len(_pairs(first)) == 6  # C(4,2)
    # batch 2: combined bucket size 7 > cap 5 -> flood-guarded, nothing
    second = incremental_candidate_pairs(
        lsh_band_rows(b1), lsh_band_rows(b2), max_bucket=5
    )
    assert _pairs(second) == set()
    # and the full final-corpus run suppresses the bucket too
    full = incremental_candidate_pairs(
        lsh_band_rows(b1.unionByName(b2).where(F.lit(False))),
        lsh_band_rows(b1.unionByName(b2)),
        max_bucket=5,
    )
    assert _pairs(full) == set()


def test_index_rows_compose(spark):
    """Appending each batch's band rows reproduces the full-corpus index
    exactly (same (__id, band, band_hash) multiset) — the invariant that
    makes the persisted index trustworthy after N increments."""
    docs = read_table(spark, SF_SMALL, "documents")
    full = lsh_band_rows(docs)
    parts = [
        lsh_band_rows(docs.where(F.col("doc_id") % 3 == k))
        for k in range(3)
    ]
    union = parts[0].unionByName(parts[1]).unionByName(parts[2])
    assert (
        full.exceptAll(union).count() == 0
        and union.exceptAll(full).count() == 0
    )


def test_fast_signer_parity_fixture_and_unicode(spark):
    """lsh_band_rows (numpy) must be BIT-IDENTICAL to the expression
    plan on real fixture text and on adversarial strings (empty-token
    runs, unicode codepoints incl. non-BMP, combining marks, too-short
    docs) — it is the package's only MinHash signer."""
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    adv = spark.createDataFrame(
        [
            (0, "a  b c d"),
            (1, "  x y z  "),
            (2, "héllo wörld tëst ünïcode"),
            (3, "😀 emoji 😀 test here"),
            (4, "one two"),
            (5, ""),
            (6, None),
            (7, " " * 10),
            (8, "ab " * 50),
            (9, "é́ combining zalgo t̵e̶x t ok"),
        ],
        "doc_id long, text string",
    )
    rng = random.Random(7)  # random strings over a space-heavy unicode pool
    pool = "ab  zé\u0301字😀𝔘"
    rand = spark.createDataFrame(
        [
            (i, "".join(rng.choice(pool) for _ in range(rng.randrange(40))))
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    for df in (docs, adv, rand):
        a = (
            portable_banded_rows(df)
            .toPandas()
            .sort_values(["__id", "band"])
            .reset_index(drop=True)
        )
        b = (
            lsh_band_rows(df)
            .toPandas()
            .sort_values(["__id", "band"])
            .reset_index(drop=True)
        )
        assert a.equals(b)


def test_round6_half_up_matches_spark_round(spark):
    """_round6_half_up must match Spark's round(double, 6) (BigDecimal
    HALF_UP over the shortest decimal repr) on a dense sweep of the
    small-integer ratios Jaccard actually produces, plus half-way
    decimals where Python's banker's rounding would diverge."""
    from crawling_vectordb_llm_spark.streaming.incremental_dedup_stream import (
        _round6_half_up,
    )

    vals = [i / j for j in range(1, 40) for i in range(j + 1)]
    vals += [0.0000005, 0.0000015, 0.1234565, 0.9999995, 1.0, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r[0] for r in df.select(F.round("v", 6)).collect()]
    want = [_round6_half_up(v) for v in vals]
    assert got == want


def test_stream_process_batch_matches_snapshot_ladder(spark, tmp_path):
    """End-to-end: feeding the fixture in 3 batches through
    process_batch (driver-verify path) must produce, per batch, exactly
    the snapshot ladder's new-involving verified pairs — values
    included (jaccard compared exactly)."""
    from crawling_vectordb_llm_spark.streaming.incremental_dedup_stream import (
        process_batch,
    )

    docs = (
        read_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 300)
    )
    store = str(tmp_path / "store")
    cuts = [(0, 100), (100, 200), (200, 300)]
    for i, (lo, hi) in enumerate(cuts):
        batch = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        process_batch(batch, i, store, tau=0.2)
        snap = incremental_near_dup(
            docs.where(F.col("doc_id") < hi),
            F.col("doc_id") >= lo,
            tau=0.2,
        )
        got = {
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in spark.read.parquet(f"{store}/pairs/batch={i}").collect()
        }
        want = {
            (r["a_id"], r["b_id"], r["jaccard"]) for r in snap.collect()
        }
        assert got == want, f"batch {i}: {got ^ want}"
