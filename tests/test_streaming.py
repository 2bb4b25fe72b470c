"""Streaming/batch agreement and sessionization properties."""

from __future__ import annotations

from crawling_vectordb_llm_spark.catalog import read_table, table_path
from crawling_vectordb_llm_spark.streaming import windows as W

from .conftest import SF_SMALL


def test_streaming_equals_batch_tumbling(spark):
    batch = {
        tuple(r)
        for r in W.tumbling_agg(read_table(spark, SF_SMALL, "events")).collect()
    }
    stream = {
        tuple(r)
        for r in W.run_streaming_tumbling(
            spark, table_path(SF_SMALL, "events")
        ).collect()
    }
    assert batch == stream and len(batch) > 0


def test_sessionize_gap_splits(spark):
    df = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:00:00", 1.0),
            (2, 100, "2024-01-01 00:10:00", 1.0),
            (3, 100, "2024-01-01 01:10:00", 1.0),  # 60 min gap -> new session
            (4, 200, "2024-01-01 00:00:00", 1.0),
        ],
        "event_id long, user_id long, ts_s string, value double",
    ).selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    rows = W.sessionize_batch(df, gap_seconds=1800).collect()
    sessions = {(r["user_id"], r["session_id"]): r["n_events"] for r in rows}
    assert sessions == {(100, 1): 2, (100, 2): 1, (200, 1): 1}


def test_foreach_batch_incremental_upsert(spark, tmp_path):
    """Streaming ingest -> foreachBatch merge into a parquet store: the
    final store equals a batch last-writer-wins dedup of the whole feed.
    This is the crawl->store wiring at scale: each micro-batch merges
    against the store instead of accumulating an unbounded union."""
    import os

    from pyspark.sql import functions as F

    from crawling_vectordb_llm_spark.catalog import normalize_event_ts
    from crawling_vectordb_llm_spark.operators.merge import upsert_by_key

    src = "/root/testdata/sf0.001/events.parquet"
    store = str(tmp_path / "store")
    schema = spark.read.parquet(src).schema
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", os.path.basename(src))
    )
    stream = normalize_event_ts(reader.load(os.path.dirname(src))).select(
        "user_id", "event_type", "ts"
    )

    def merge_batch(batch_df, batch_id):
        batch_df = batch_df.withColumn(
            "key", F.concat_ws("#", "user_id", "event_type")
        )
        if os.path.exists(store):
            existing = batch_df.sparkSession.read.parquet(store)
            merged = upsert_by_key(existing, batch_df, "key")
        else:
            merged = batch_df.dropDuplicates(["key"])
        merged.write.mode("overwrite").parquet(store + "_next")
        # atomic-ish swap for the test; a real sink uses a txn layer
        import shutil

        if os.path.exists(store):
            shutil.rmtree(store)
        os.rename(store + "_next", store)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(store).count()
    want = (
        spark.read.parquet(src)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got == want


def test_checkpoint_restart_processes_each_file_once(spark, tmp_path):
    """Checkpointed file-source offsets must survive a stop/restart: the
    second run (same checkpointLocation) picks up ONLY files that arrived
    after the first run — nothing is reprocessed, nothing is lost.  This
    is the recovery contract that lets a 100 TB/day ingest crash and
    resume without dedup fixups."""
    import glob
    import os

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_file(name, lo, hi):
        spark.range(lo, hi).selectExpr("id", "id * 2 AS val").coalesce(
            1
        ).write.parquet(str(tmp_path / "stage" / name))
        part = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        os.rename(part, os.path.join(src, name + ".parquet"))

    def drain():
        stream = (
            spark.readStream.schema("id long, val long").format("parquet").load(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", store)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_file("a", 0, 10)
    write_file("b", 10, 30)
    drain()
    assert spark.read.parquet(store).count() == 30

    write_file("c", 30, 35)
    drain()  # restart from the same checkpoint
    got = spark.read.parquet(store)
    assert got.count() == 35  # +5 new, 30 old NOT reprocessed
    assert sorted(r["id"] for r in got.collect()) == list(range(35))


def test_streaming_crawl_source_resumes_frontier(spark, tmp_path):
    """synthetic_crawl_stream: three availableNow runs sharing one
    checkpoint must fetch pages 0-9, 10-19, 20-29 — a durable frontier
    that survives restarts with no refetch and no gap (the reference's
    in-memory appendUrlList loses the frontier on every crash,
    Crawling.py:9-10)."""
    from pyspark.sql import functions as F

    from crawling_vectordb_llm_spark.sources.crawl_datasource import (
        register_stream,
    )

    register_stream(spark)
    out = str(tmp_path / "crawl_out")
    ckpt = str(tmp_path / "crawl_ckpt")
    for _ in range(3):
        q = (
            spark.readStream.format("synthetic_crawl_stream")
            .option("batchpages", "10")
            .option("pages", "1000")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 30  # no refetch (exactly-once), no gap
    ids = sorted(
        int(r["url"].rsplit("/", 1)[1]) for r in got.select("url").collect()
    )
    assert ids == list(range(30))
    # and the text is the deterministic corpus
    first = got.where(F.col("url").endswith("/0")).first()
    assert first["text"].startswith("w0 w1 w2")


def test_streaming_crawl_to_vector_collection_search(spark, tmp_path):
    """The reference's entire loop as ONE streaming pipeline: crawl
    frontier micro-batches (restartable Python stream source) →
    VectorCollection.upsert merge-on-read deltas (embed-on-write) → index
    build → indexed searchByText answers from the ingested corpus.  This
    is TencentVDB.py's per-doc upsert loop + main_server.py's search,
    composed Spark-native."""
    from crawling_vectordb_llm_spark.sources import crawl_datasource
    from crawling_vectordb_llm_spark.vectorstore import VectorCollection

    crawl_datasource.register_stream(spark)
    coll = VectorCollection(spark, str(tmp_path / "kb"), dim=32)

    def ingest(batch_df, batch_id):
        coll.upsert(
            batch_df.selectExpr("url AS id", "title", "text"), build_index=False
        )

    # one availableNow drain = one micro-batch of the simple stream
    # source; four restarts off the shared checkpoint walk the whole
    # 40-page frontier (each run resumes exactly where the last stopped)
    for _ in range(4):
        q = (
            spark.readStream.format("synthetic_crawl_stream")
            .option("pages", "40")
            .option("batchpages", "10")
            .load()
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    assert coll.documents().count() == 40
    assert coll.delta_chain_length() >= 1  # deltas, not rewrites
    coll.build_index()

    # synthetic pages repeat text with period 13 (page_id*7+j mod 13), so
    # page 7's text is shared by pages 20 and 33 — the top-3 must be
    # exactly that tie set, every hit a perfect cosine
    target = coll.documents().where("id = 'https://site.example/page/7'").first()
    hits = coll.search_by_text([target["text"]], limit=3, use_index=True).collect()
    assert {r["id"] for r in hits} == {
        f"https://site.example/page/{p}" for p in (7, 20, 33)
    }
    assert all(abs(r["score"] - 1.0) < 1e-6 for r in hits)
