"""Upsert / merge-by-key — the reference's write semantics (S5).

`coll.upsert(documents=[...])` overwrites by primary key `id`
(TencentVDB.py:47,70,74-79: delete+insert per doc).  Spark-first, with plain
parquet (no Delta in this image): last-writer-wins merge =
    merged = updates ∪ (existing ⟕anti updates on key)
then a full rewrite of the target partition(s).  At scale: partition the
table by a stable key prefix (bucket) so a merge only rewrites touched
buckets; with Delta/Iceberg available this becomes a real MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def upsert_by_key(existing: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Last-writer-wins merge.  `updates` is deduped on key first (the
    reference's per-doc loop implicitly keeps the last write)."""
    updates = updates.dropDuplicates([key])
    survivors = existing.join(updates.select(key), on=key, how="left_anti")
    return updates.unionByName(survivors)

