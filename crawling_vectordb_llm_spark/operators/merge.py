"""Upsert / merge-by-key — the reference's write semantics (S5).

`coll.upsert(documents=[...])` overwrites by primary key `id`
(TencentVDB.py:47,70,74-79: delete+insert per doc).  Spark-first, with plain
parquet (no Delta in this image): the merge is
    merged = updates ∪ (existing ⟕anti updates on key)
then a full rewrite of the target partition(s).  At scale: partition the
table by a stable key prefix (bucket) so a merge only rewrites touched
buckets; with Delta/Iceberg available this becomes a real MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def greatest_per_key(df: DataFrame, key: str) -> DataFrame:
    """One row per `key`: of the rows that share it, the greatest by the
    other columns in `df`'s order.  One aggregate, so the row kept does
    not depend on how `df` is partitioned; columns keep their order."""
    cols = [c for c in df.columns if c != key]
    row = F.max(F.struct(*cols)).alias("_row")
    return df.groupBy(key).agg(row).select(
        *(c if c == key else F.col("_row").getField(c).alias(c) for c in df.columns)
    )


def upsert_by_key(existing: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Merge `updates` over `existing` by key: an update replaces the
    existing row with its key.  Updates that share a key within the batch
    carry no write order, so the greatest by the batch's columns is kept
    (`greatest_per_key`) — the same row at any partitioning."""
    updates = greatest_per_key(updates, key)
    survivors = existing.join(updates.select(key), on=key, how="left_anti")
    return updates.unionByName(survivors)
