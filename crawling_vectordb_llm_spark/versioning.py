"""Versioned collection storage — snapshot isolation on plain parquet.

The reference declares EVENTUAL read consistency client-wide
(TencentVDB.py:18-19) and upserts in place; a batch engine can do better
with zero extra infrastructure: every write lands in a fresh `v=N`
directory and a tiny `_LATEST` pointer file flips atomically (os.replace)
after the data is fully written.  Readers resolve the pointer once and
then scan an immutable directory — a reader that started on v3 keeps a
consistent snapshot while v4 lands, which is exactly the J4 semantics the
reference outsources to its service.

At scale this is the poor-man's core of Delta/Iceberg: directory-level
MVCC with last-write-wins pointer flips.  What it deliberately does NOT
provide: concurrent-WRITER conflict detection (two simultaneous writers
race on the pointer) — single-writer pipelines (the crawl->upsert loop)
are the intended regime; a lock/txn layer is the upgrade path.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_POINTER = "_LATEST"
_STAGE_PREFIX = "_stage_"
_MANIFEST = "_manifest.json"  # Spark's readers skip `_`-prefixed files


def _versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )


def _flip_pointer(path: str, version: int) -> None:
    fd, tmp = tempfile.mkstemp(dir=path, prefix="._latest_")
    with os.fdopen(fd, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(path, _POINTER))  # atomic pointer flip


def stage_path(path: str) -> str:
    """A fresh staging directory path under `path` (not created).  Build
    the full version payload here, then `promote_staged` it — version
    directories appear atomically, so `_versions`/`history`/`read_version`
    can never observe a half-written version (ADVICE r2)."""
    os.makedirs(path, exist_ok=True)
    return os.path.join(path, f"{_STAGE_PREFIX}{uuid.uuid4().hex[:12]}")


def promote_staged(path: str, staged: str, flip: bool = True) -> int:
    """Atomically rename a fully-built staged directory to the next
    `v=N`.  A crash before the rename leaves only an orphaned `_stage_*`
    directory (vacuumable); a crash after it leaves a complete version
    that merely isn't pointed at yet — never a torn one.  Returns N."""
    while True:
        vs = _versions(path)
        v = (vs[-1] + 1) if vs else 1
        vdir = os.path.join(path, f"v={v}")
        if os.path.exists(vdir):  # lost a race to a concurrent writer
            continue
        try:
            os.rename(staged, vdir)
            break
        except OSError:
            if os.path.exists(vdir):
                continue
            raise
    if flip:
        _flip_pointer(path, v)
    return v


def write_manifest(vdir: str, schema: StructType, base: int | None = None) -> None:
    """Record a version's kind (a base, or a delta of version `base`) and
    its Spark schema in `vdir` — the per-version metadata of the Iceberg
    table spec.  Written into the staged directory before
    `promote_staged`, so no version is ever seen without it."""
    with open(os.path.join(vdir, _MANIFEST), "w") as f:
        json.dump(
            {
                "kind": "base" if base is None else "delta",
                "base": base,
                "schema": schema.jsonValue(),
            },
            f,
        )


def read_manifest(path: str, version: int) -> dict | None:
    """`{"version", "kind", "base", "schema"}` of `version` (a base is its
    own base), or None for a version without a manifest: the `vdb`
    format's flat layout, or a collection written before manifests."""
    p = os.path.join(path, f"v={version}", _MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        m = json.load(f)
    return {
        "version": version,
        "kind": m["kind"],
        "base": version if m["base"] is None else m["base"],
        "schema": StructType.fromJson(m["schema"]),
    }


def versioned_write(df: DataFrame, path: str) -> int:
    """Write `df` as the next version of the collection at `path`; returns
    the new version number.  The parquet write lands in a staging dir that
    is atomically renamed to `v=N`; the `_LATEST` pointer flips only after
    that, so a crash mid-write leaves the previous version live and at
    worst an orphaned staging directory (vacuumable) — never a
    half-visible version."""
    staged = stage_path(path)
    df.write.mode("overwrite").parquet(staged)
    return promote_staged(path, staged)


def latest_version(path: str) -> int | None:
    p = os.path.join(path, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(f.read().strip())


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a pinned version (time travel) or the pointer's current one.
    The returned DataFrame scans an immutable directory — later writes
    never change what this reader sees."""
    v = version if version is not None else latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no versions at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def list_versions(path: str) -> list[int]:
    return _versions(path)


def compact(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite the CURRENT version's data as a new
    version with ~target_rows_per_file rows per parquet file.  Returns the
    new version number.

    Incremental upserts (streaming foreachBatch, per-crawl merges) each
    land a handful of rows per task and a 100 TB table degrades into
    millions of KB-sized files — open/footer overhead then dominates every
    scan and the driver's file listing itself becomes the bottleneck.
    Compaction is the standard housekeeping (Delta OPTIMIZE / Iceberg
    rewrite_data_files): coalesce to ceil(rows/target) files, written as a
    NEW snapshot so concurrent readers of the old version are untouched
    (same MVCC guarantee as any versioned_write); old versions age out via
    vacuum().  Row content is preserved exactly — compaction is a physical
    rewrite, not a logical change.
    """
    df = read_version(spark, path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    return versioned_write(df.coalesce(n_files), path)


def vacuum(path: str, keep: int = 2, stage_ttl_s: float = 3600.0) -> list[int]:
    """Drop old versions (never the pointer target), keeping at least the
    newest `keep`.  Returns the removed version numbers.

    Also reaps orphaned staging directories (`_stage_*` / `_staging_*`,
    left by crashed or aborted writers) older than `stage_ttl_s` — the TTL
    keeps an in-flight writer's staging safe while letting housekeeping
    reclaim genuinely dead ones.

    Manifest-aware (ADVICE r1): a retained delta version reads through
    its base (read_manifest), so the base of every retained version is
    kept too.  A delta holds every change since its base, so the versions
    between the two are not needed; flat versions without a manifest
    keep the plain newest-`keep` behavior."""
    import shutil
    import time

    now = time.time()
    if os.path.isdir(path):
        for d in os.listdir(path):
            if d.startswith((_STAGE_PREFIX, "_staging_")):
                full = os.path.join(path, d)
                try:
                    if (
                        os.path.isdir(full)
                        and now - os.path.getmtime(full) > stage_ttl_s
                    ):
                        shutil.rmtree(full, ignore_errors=True)
                except OSError:
                    pass
    vs = _versions(path)
    if len(vs) <= keep:
        return []
    retained = {*vs[-keep:], latest_version(path)}
    needed = retained | {
        m["base"] for v in retained if v is not None and (m := read_manifest(path, v))
    }
    removable = [v for v in vs if v not in needed]
    for v in removable:
        shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return removable


def history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY analog (Delta/Iceberg parity): one row per
    version with its physical layout — file count, bytes, kind and base
    version from its manifest (`base`, or `delta` with the base it
    applies to; `cow` for a flat version without a manifest), and whether
    the pointer currently targets it.  Driver-side directory walk
    (version counts are small by construction) that starts no Spark job;
    returned as a DataFrame so it composes with SQL like any other
    table."""
    live = latest_version(path)
    rows = []
    for v in _versions(path):
        vdir = os.path.join(path, f"v={v}")
        m = read_manifest(path, v)
        kind, base = ("cow", None) if m is None else (m["kind"], m["base"])
        n_files = 0
        n_bytes = 0
        for root, _dirs, files in os.walk(vdir):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        rows.append((v, kind, base, n_files, n_bytes, v == live))
    return spark.createDataFrame(
        rows,
        "version int, kind string, base_version int, n_files int, n_bytes bigint, "
        "is_latest boolean",
    )
