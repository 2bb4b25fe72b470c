"""IVF scan-pruning at I/O-dominant scale (VERDICT r4 #3).

The r4 clustered bench showed the partitioned-by-centroid layout's
pruning was "sub-second noise either way" at 400 KB cells — too small
for I/O to matter.  This builds a ~2M x 64 clustered corpus (~0.6 GB
parquet, ~5 MB/cell at 128 cells — 12x the r4 cell size), writes it
partitioned by centroid_id (the plans/index_build.py layout), and
measures BYTES READ (the SQL plan-graph 'size of files read' metric
via the REST API — the authoritative post-partition-pruning scan set;
stage-level inputBytes underreports on local filesystems) plus
median-of-3 wall for `ivf_search` with single-cluster query batteries
vs the exact full-scan kNN:

  - bytes-read for the pruned scan should track the probed-cell
    fraction (partition pruning happens BEFORE any byte is read), while
    the full scan always reads the whole table;
  - at this cell size the wall win should survive being I/O-dominant,
    not just flop-dominant.

Prints a markdown table for SCALE.md.  Run alone (bench noise rules,
MEMORY.md):  python tools/ivf_io_bench.py [n_rows]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators import ivf as I
from crawling_vectordb_llm_spark.operators.knn import knn_join_numpy
from crawling_vectordb_llm_spark.sources.synthetic_embeddings import (
    clustered_embeddings,
)


def build_spark() -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    return (
        SparkSession.builder.appName("ivf_io_bench")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "true")  # REST API for inputBytes
        .getOrCreate()
    )


def _sql_url(app_id: str) -> str:
    return (
        f"http://localhost:4040/api/v1/applications/{app_id}/sql"
        "?length=1000&details=true&planDescription=false"
    )


def next_sql_id(app_id: str) -> int:
    import requests

    qs = requests.get(_sql_url(app_id), timeout=10).json()
    return 1 + max((q["id"] for q in qs), default=-1)


def _parse_size(v: str) -> float:
    """Parse the SQL UI's human size ('34.4 MiB', '901.2 KiB', '12.0 B').

    Some plan-graph metrics render as 'total (min, med, max)' composites;
    parse only the LEADING '<num> <unit>' pair instead of a strict
    two-token unpack so those don't kill the bench (ADVICE r5).
    """
    import re

    m = re.match(r"\s*([0-9.eE+-]+)\s+(B|KiB|MiB|GiB|TiB)\b", v)
    if not m:
        raise ValueError(f"unparseable size metric: {v!r}")
    return float(m.group(1)) * {
        "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40
    }[m.group(2)]


def scan_stats_since(app_id: str, min_sql_id: int) -> tuple[int, float]:
    """(files read, bytes read) summed over every parquet Scan node of
    SQL executions >= min_sql_id.  Stage-level inputBytes underreports
    on the local filesystem (Hadoop FS statistics quirk); the SQL
    plan-graph metrics 'number of files read' / 'size of files read'
    are authoritative — they are exactly the post-partition-pruning
    scan set.  The UI store updates asynchronously after the job
    returns, so poll until the metrics appear (the r6 run caught a
    '0 files read' race)."""
    import requests

    for _ in range(10):
        files, size = 0, 0.0
        for q in requests.get(_sql_url(app_id), timeout=10).json():
            if q["id"] < min_sql_id:
                continue
            for n in q.get("nodes", []):
                if "Scan" not in n["nodeName"]:
                    continue
                for m in n.get("metrics", []):
                    if m["name"] == "number of files read":
                        files += int(m["value"].replace(",", ""))
                    elif m["name"] == "size of files read":
                        size += _parse_size(m["value"])
        if files:
            return files, size
        time.sleep(1)
    return files, size


def median3(fn, reps: int = 5):
    """median of `reps` (5 default — sub-2s walls on this box carry
    ±1s scheduler noise; a 3-rep median flipped ratios between r6
    runs)."""
    walls = sorted(timed(fn)[0] for _ in range(reps))
    return walls[len(walls) // 2]


def evict_page_cache(*dirs: str) -> float:
    """Drop every parquet byte under `dirs` from the OS page cache via
    posix_fadvise(DONTNEED) — no root needed, verified effective on this
    box (101 MB file: 0.02s warm read -> 1.6s post-evict).  Returns MB
    evicted.  This is the VERDICT r6 #5 cold-I/O lever: the corpus far
    exceeding RAM is infeasible locally, but eviction before every timed
    run makes each scan pay real device I/O, which is the same regime."""
    total = 0
    for d in dirs:
        for dp, _, fs in os.walk(d):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(dp, f)
                total += os.path.getsize(p)
                fd = os.open(p, os.O_RDONLY)
                try:
                    os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
                finally:
                    os.close(fd)
    return total / 2**20


def median3_cold(fn, *evict_dirs: str, reps: int = 5):
    """median of `reps` where every rep pays cold file I/O (cache
    evicted immediately before each run; eviction time NOT counted)."""
    walls = []
    for _ in range(reps):
        evict_page_cache(*evict_dirs)
        walls.append(timed(fn)[0])
    return sorted(walls)[len(walls) // 2]


def timed(fn):
    t0 = time.time()
    r = fn()
    return time.time() - t0, r


def main(n: int = 2_000_000) -> None:
    spark = build_spark()
    app_id = spark.sparkContext.applicationId
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    k_true, n_cells, n_probe = 64, 128, 8
    emb = clustered_embeddings(
        spark, n, k=k_true, sigma=0.12, partitions=64
    ).select("vec_id", "embedding")

    base = tempfile.mkdtemp(prefix="ivf_io_")
    try:
        # one-time index build + both layouts on disk
        raw = os.path.join(base, "raw")
        t0 = time.time()
        emb.write.mode("overwrite").parquet(raw)
        print(f"generated + wrote raw corpus in {time.time() - t0:.1f}s")
        emb = spark.read.parquet(raw)
        t_fit, centroids = timed(
            lambda: I.kmeans_centroids(emb, n_cells, "embedding")
        )
        assigned = I.assign_centroids(emb, centroids, "embedding")
        part_path = os.path.join(base, "ivf_assignment")
        t_write, _ = timed(
            lambda: assigned.repartition(n_cells, "centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(part_path)
        )
        full_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(part_path)
            for f in fs
            if f.endswith(".parquet")
        )
        print(
            f"index build: kmeans {t_fit:.1f}s, partitioned write "
            f"{t_write:.1f}s, table {full_bytes / 1e9:.2f} GB, "
            f"{full_bytes / n_cells / 1e6:.1f} MB/cell\n"
        )

        print(
            "| query battery | probed cells | MB read (pruned) | files "
            "(pruned) | MB read (full) | bytes ratio | wall s pruned | "
            "wall s full | wall ratio | cold s pruned | cold s full | "
            "cold ratio |"
        )
        print("|---|---|---|---|---|---|---|---|---|---|---|---|")
        # realistic serving batteries: every query from ONE topic
        # cluster (label = vec_id % k_true), so the probe set stays
        # n_probe-sized however large the batch — the pruning regime a
        # topical lookup workload actually sees
        for nq in (5, 20, 100):
            qs = (
                emb.where((F.col("vec_id") % k_true == 0)
                          & (F.col("vec_id") < nq * k_true))
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"),
                )
                .localCheckpoint()
            )
            qrows = qs.collect()
            qmat = np.array([r["query_vec"] for r in qrows], dtype=np.float64)
            qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
            probed = np.unique(
                np.argsort(-(qmat @ centroids.T), axis=1)[:, :n_probe]
            )

            def pruned():
                return I.ivf_search(
                    qs,
                    spark.read.parquet(part_path).where(
                        F.col("centroid_id").isin([int(c) for c in probed])
                    ),
                    centroids,
                    10,
                    n_probe,
                    corpus_id="vec_id",
                ).count()

            def full():
                return knn_join_numpy(
                    qs, spark.read.parquet(raw), k=10, corpus_id="vec_id"
                ).count()

            pruned(), full()  # warm plan compile (page cache stays warm
            # for BOTH paths — the comparison is scan volume, not disk)
            tp, tf = median3(pruned), median3(full)
            s0 = next_sql_id(app_id)
            pruned()
            fp, bp = scan_stats_since(app_id, s0)
            s1 = next_sql_id(app_id)
            full()
            _, bf = scan_stats_since(app_id, s1)
            # cold-I/O regime (VERDICT r6 #5): evict the page cache
            # before every rep so each scan pays device I/O — the wall
            # must now track bytes, not flops
            tpc = median3_cold(pruned, part_path)
            tfc = median3_cold(full, raw)
            print(
                f"| {nq} queries (1 cluster) | {len(probed)}/{n_cells} | "
                f"{bp / 2**20:.1f} | {fp} | {bf / 2**20:.1f} | "
                f"{bp / max(bf, 1):.3f} | {tp:.2f} | {tf:.2f} | "
                f"{tp / tf:.2f}x | {tpc:.2f} | {tfc:.2f} | "
                f"{tpc / tfc:.2f}x |"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000)
