"""Streaming incremental dedup (streaming/incremental_dedup_stream.py):
per-micro-batch probe equals the batch-snapshot ladder, and replayed
batches are idempotent."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.operators.incremental_dedup import (
    incremental_near_dup,
)
from crawling_vectordb_llm_spark.streaming.incremental_dedup_stream import (
    process_batch,
    run_streaming_incremental_dedup,
)

from .conftest import SF_SMALL


def _pairs(df):
    return {
        (r["a_id"], r["b_id"], r["jaccard"])
        for r in df.select("a_id", "b_id", "jaccard").collect()
    }


def _setup_feed(spark, tmp_path):
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    feed = str(tmp_path / "feed")
    for k in range(3):  # one file per future micro-batch
        docs.where(F.col("doc_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
    return docs, feed


def test_stream_matches_batch_snapshots(spark, tmp_path):
    docs, feed = _setup_feed(spark, tmp_path)
    store = str(tmp_path / "store")
    out = run_streaming_incremental_dedup(spark, feed, store, tau=0.2)
    got_batches = sorted(
        r["batch"] for r in out.select("batch").distinct().collect()
    )
    assert len(got_batches) == 3  # maxFilesPerTrigger=1 -> 3 micro-batches

    corpus = spark.read.option(
        "basePath", os.path.join(store, "corpus")
    ).parquet(os.path.join(store, "corpus"))
    total_pairs = set()
    for bid in got_batches:
        prefix = corpus.where(F.col("batch") <= bid).select("doc_id", "text")
        batch_ids = {
            r["doc_id"]
            for r in corpus.where(F.col("batch") == bid)
            .select("doc_id")
            .collect()
        }
        expected = _pairs(
            incremental_near_dup(
                prefix, F.col("doc_id").isin(list(batch_ids)), tau=0.2
            )
        )
        got = _pairs(out.where(F.col("batch") == bid))
        assert got == expected, f"batch {bid}"
        total_pairs |= got
    assert total_pairs  # the fixture corpus must actually contain dups
    # corpus store composes back to the full input
    assert corpus.count() == docs.count()


def test_replayed_batch_is_idempotent(spark, tmp_path):
    _, feed = _setup_feed(spark, tmp_path)
    store = str(tmp_path / "store")
    out = run_streaming_incremental_dedup(spark, feed, store, tau=0.2)
    before = _pairs(out)
    # simulate an at-least-once replay of the middle batch
    corpus_dir = os.path.join(store, "corpus")
    corpus = spark.read.option("basePath", corpus_dir).parquet(corpus_dir)
    # materialize: a real replay re-delivers the source micro-batch, it
    # does not read back the store dir process_batch is about to rewrite
    replay = (
        corpus.where(F.col("batch") == 1)
        .select("doc_id", "text")
        .localCheckpoint()
    )
    process_batch(replay, 1, store, tau=0.2)
    after = _pairs(
        spark.read.option("basePath", os.path.join(store, "pairs")).parquet(
            os.path.join(store, "pairs")
        )
    )
    assert after == before


def test_driver_and_distributed_modes_agree(spark, tmp_path):
    """The adaptive execution modes (driver numpy probe vs distributed
    mapInPandas probe vs the flood-overflow recompute) must emit
    byte-identical pairs for the same batch sequence."""
    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    batches = [
        docs.where(F.col("doc_id") % 3 == k).localCheckpoint()
        for k in range(3)
    ]

    def run(store, **kw):
        for bid, b in enumerate(batches):
            process_batch(b, bid, store, tau=0.2, **kw)
        return _pairs(
            spark.read.option(
                "basePath", os.path.join(store, "pairs")
            ).parquet(os.path.join(store, "pairs"))
        )

    got_driver = run(str(tmp_path / "drv"))  # default bounds -> driver
    got_dist = run(str(tmp_path / "dst"), max_driver_batch_rows=0)
    # tiny index-bytes bound: batch 0 stays driver, later batches go
    # distributed — exercises the mixed-store read paths
    got_mixed = run(str(tmp_path / "mix"), max_driver_index_bytes=1)
    # pair-count cap of 0 forces the overflow recompute in driver mode
    got_ovf = run(str(tmp_path / "ovf"), max_collect_pairs=0)
    # band-row cap of 0 forces the distributed mode's SEMI-JOIN
    # bookkeeping (ADVICE r6: no batch-sized driver collect) — touched
    # buckets, new-id filter, and cross-band dedup all shuffle-side
    got_semi = run(
        str(tmp_path / "semi"),
        max_driver_batch_rows=0,
        max_collect_band_rows=0,
    )
    assert got_driver == got_dist == got_mixed == got_ovf == got_semi
    assert got_driver  # fixture must actually contain dups
