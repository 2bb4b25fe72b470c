"""Versioned collection storage: snapshot isolation (J4) on plain parquet."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawling_vectordb_llm_spark import versioning as V


def test_versioned_write_read_and_snapshot_isolation(spark, tmp_path):
    path = str(tmp_path / "coll")
    d1 = spark.range(10).withColumn("val", F.lit("a"))
    assert V.versioned_write(d1, path) == 1
    reader_v1 = V.read_version(spark, path)  # pins v=1 directory

    d2 = spark.range(20).withColumn("val", F.lit("b"))
    assert V.versioned_write(d2, path) == 2

    # the pinned reader still sees the v1 snapshot after v2 landed
    assert reader_v1.count() == 10
    assert V.read_version(spark, path).count() == 20
    assert V.read_version(spark, path, version=1).count() == 10  # time travel
    assert V.list_versions(path) == [1, 2]
    assert V.latest_version(path) == 2


def test_vacuum_keeps_latest_and_respects_keep(spark, tmp_path):
    path = str(tmp_path / "coll")
    for i in range(4):
        V.versioned_write(spark.range(i + 1), path)
    removed = V.vacuum(path, keep=2)
    assert removed == [1, 2]
    assert V.list_versions(path) == [3, 4]
    assert V.read_version(spark, path).count() == 4


def test_compact_coalesces_files_preserving_rows(spark, tmp_path):
    import glob

    path = str(tmp_path / "coll")
    # a fragmented write: 16 partitions of ~6 rows each -> 16 small files
    frag = spark.range(100).repartition(16).withColumn("val", F.col("id") * 2)
    V.versioned_write(frag, path)
    n_small = len(glob.glob(f"{path}/v=1/part-*.parquet"))
    assert n_small == 16

    v = V.compact(spark, path, target_rows_per_file=1_000_000)
    assert v == 2
    n_compacted = len(glob.glob(f"{path}/v=2/part-*.parquet"))
    assert n_compacted == 1

    # physical rewrite only: identical logical content, old snapshot intact
    before = sorted(tuple(r) for r in V.read_version(spark, path, 1).collect())
    after = sorted(tuple(r) for r in V.read_version(spark, path, 2).collect())
    assert before == after
    assert V.latest_version(path) == 2


def test_compact_respects_target_rows_per_file(spark, tmp_path):
    import glob

    path = str(tmp_path / "coll")
    V.versioned_write(spark.range(100).repartition(8), path)
    V.compact(spark, path, target_rows_per_file=30)  # ceil(100/30) = 4 files
    assert len(glob.glob(f"{path}/v=2/part-*.parquet")) == 4


def test_history_describes_versions(spark, tmp_path):
    """history(): one row per version with the kind and base version its
    manifest records, and the pointer; a flat version without a manifest
    (the vdb format) reports `cow`."""
    from crawling_vectordb_llm_spark.vectorstore import VectorCollection

    coll = VectorCollection(spark, str(tmp_path / "h"), dim=8)
    coll.upsert(
        spark.range(100).selectExpr("id", "concat('doc ', id) AS text"), build_index=False
    )                                # v1 base
    coll.delete(["3", "4"])          # v2 delta of v1
    coll.compact()                   # v3 base

    h = {r["version"]: r for r in V.history(spark, coll._table).collect()}
    assert set(h) == {1, 2, 3}
    assert (h[1]["kind"], h[1]["base_version"], h[1]["is_latest"]) == ("base", 1, False)
    assert (h[2]["kind"], h[2]["base_version"]) == ("delta", 1)
    assert (h[3]["kind"], h[3]["base_version"], h[3]["is_latest"]) == ("base", 3, True)
    assert all(r["n_files"] > 0 for r in h.values())
    assert h[3]["n_bytes"] > 0

    flat = str(tmp_path / "flat")
    V.versioned_write(spark.range(5), flat)
    (row,) = V.history(spark, flat).collect()
    assert (row["kind"], row["base_version"], row["is_latest"]) == ("cow", None, True)
