"""Streaming incremental near-dup: the crawl feed deduped per micro-batch
against everything previously ingested, with replay-idempotent storage.

Composes three subsystems: Structured Streaming (foreachBatch), the
incremental LSH probe (operators/incremental_dedup.py), and batch-keyed
idempotent storage.  Layout under `store_path`:

  corpus/batch=<id>/   the micro-batch's raw docs (append-only corpus)
  index/batch=<id>/    its (__id, band, band_hash) band rows
  pairs/batch=<id>/    near-dup pairs involving this batch

Each foreachBatch invocation treats strictly-earlier batches as the
indexed past (`batch < id` partition pruning on the index dir), so a
replayed micro-batch recomputes EXACTLY the same probe — and every write
lands under its own batch=<id> directory with overwrite, so at-least-once
delivery collapses to exactly-once state (same recipe as the vdb
streaming sink's batch-identity idempotency, vdb_datasource.py).

Execution adapts to the micro-batch/index size (VERDICT r6 #1 — the r5
all-Spark shape measured 619 rows/s at sf1, per-micro-batch job overhead
bound):

* **driver mode** (micro-batch ≤ `max_driver_batch_rows` AND past index
  ≤ `max_driver_index_bytes`): the whole probe runs on the driver —
  numpy signer (bit-identical twin of the expression ladder,
  parity-tested), pyarrow reads of the hive-partitioned index/corpus
  with id-predicate pushdown, numpy bucket pair-gen, exact-Jaccard
  verify — ZERO Spark jobs after the one bounded micro-batch collect.
  Same adaptive pattern as the ≤500k-edge driver union-find
  (operators/components.py): the data is provably bounded (trigger-
  bounded batch; flood-cap-bounded candidates), so per-job scheduling
  overhead is the only thing a cluster round-trip would add.
* **distributed mode** (either bound exceeded): the r5 shape — signer
  via mapInPandas, touched-bucket broadcast filter, one groupBy
  pair-gen shuffle, flood-cap-bounded collect, pruned verify.
* **flood overflow** (candidates past `max_collect_pairs` in either
  mode): fully distributed recompute with the distinct shuffle.

Scale: per batch the probe signs only the batch, scans only touched
index buckets, and the verify reads only candidate texts (parquet
row-group pruning on doc_id) — all O(batch + touched), never O(corpus).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.operators.dedup import (
    _band_rows_pdf,
    _pairs_from_banded,
    _verified_pairs,
    lsh_band_rows,
)
from crawling_vectordb_llm_spark.operators.incremental_dedup import (
    incremental_candidate_pairs,
)

_EMPTY_INDEX_SCHEMA = "__id long, band int, band_hash bigint"
# LSH geometry of dedup.lsh_band_rows — the stream's index format.
# bands ≤ 8 and band_hash < 2^31 (Mersenne-prime family) make
# band_hash*8+band an injective int64 bucket key with no overflow.
_BANDS = 8


def _round6_half_up(v: float) -> float:
    """Bit-identical twin of Spark's round(double, 6): Spark's Round
    converts via BigDecimal.valueOf (Double.toString), then setScale(6,
    HALF_UP).  Python's builtin round() is banker's rounding and would
    diverge on exact half-way decimals.

    JVM-version caveat (ADVICE r6): Double.toString is guaranteed the
    SHORTEST round-trip decimal — equal to Python's repr — only from
    JDK 19 (JDK-4511638); earlier JVMs (including this environment's
    JDK 17) can emit a longer digit string for rare doubles, and the
    two spellings could quantize differently ONLY when they straddle an
    exact 6-dp halfway boundary.  Both spellings round-trip to the same
    double, so they differ beyond the 17th significant digit — for a
    boundary straddle the shortest repr itself would have to terminate
    exactly at ...5 AND the JVM string to deviate below it, which no
    value in the jaccard domain (small-integer ratios k/m) has ever
    produced; the three-mode byte-parity test is the standing tripwire.
    Quantizing the EXACT binary value (Decimal(v)) instead would remove
    the JVM dependence but break parity the other way: e.g. 0.1234565
    has shortest repr '0.1234565' (rounds up to 0.123457) but exact
    binary ...64999…, which rounds DOWN — so repr is kept
    deliberately."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(v)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _verify_pairs_local(
    cand_rows: list, texts: dict, tau: float, shingle_n: int
) -> tuple[list, list, list]:
    """Driver-side exact-Jaccard verify of the flood-cap-bounded candidate
    pairs — the bit-identical twin of the distributed
    word_shingles/ngram_jaccard plan (parity-tested): distinct n-token
    shingle sets over split(' ') tokens, jaccard = round(|A∩B| /
    max(|A∪B|, 1), 6) with Spark's HALF_UP rounding.  Docs with fewer
    than n tokens have no shingles and are dropped exactly like the
    `size(sh) > 0` filter."""
    sh: dict = {}
    for d, t in texts.items():
        toks = (t or "").split(" ")
        if len(toks) < shingle_n:
            continue
        sh[d] = {
            " ".join(toks[i : i + shingle_n])
            for i in range(len(toks) - shingle_n + 1)
        }
    a_out, b_out, j_out = [], [], []
    for r in cand_rows:
        a, b = r[0], r[1]
        sa, sb = sh.get(a), sh.get(b)
        if sa is None or sb is None:
            continue
        j = _round6_half_up(len(sa & sb) / max(len(sa | sb), 1))
        if j >= tau:
            a_out.append(a)
            b_out.append(b)
            j_out.append(j)
    return a_out, b_out, j_out


def _write_parquet_dir(dest_dir: str, table) -> None:
    """Idempotent driver-side parquet write: wipe dest_dir, write ONE
    file.  Driver-side because every caller's table is bounded (the
    micro-batch, its band rows, or flood-cap-bounded pairs) — no reason
    to launch a write job for data already in driver memory.  Spark
    reads the result like its own output (hive partition dirs, no
    _SUCCESS needed)."""
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(dest_dir, ignore_errors=True)
    os.makedirs(dest_dir, exist_ok=True)
    pq.write_table(table, os.path.join(dest_dir, "part-00000.parquet"))


def _write_pairs_parquet(pairs_batch_dir: str, a, b, j) -> None:
    """Verified pairs (a_id long, b_id long, jaccard double)."""
    import pyarrow as pa

    _write_parquet_dir(
        pairs_batch_dir,
        pa.table(
            {
                "a_id": pa.array(a, type=pa.int64()),
                "b_id": pa.array(b, type=pa.int64()),
                "jaccard": pa.array(j, type=pa.float64()),
            }
        ),
    )


def _read_index_before(
    spark: SparkSession, index_dir: str, batch_id: int
) -> DataFrame:
    if not os.path.isdir(index_dir):
        return spark.createDataFrame([], _EMPTY_INDEX_SCHEMA)
    df = spark.read.option("basePath", index_dir).parquet(index_dir)
    return df.where(F.col("batch") < batch_id).select(
        "__id", "band", "band_hash"
    )


def _index_bytes_before(index_dir: str, batch_id: int) -> int:
    """Total parquet bytes of index partitions batch < batch_id (cheap
    os.stat walk — decides driver vs distributed probe)."""
    total = 0
    if not os.path.isdir(index_dir):
        return 0
    for ent in os.listdir(index_dir):
        if not ent.startswith("batch="):
            continue
        try:
            if int(ent.split("=", 1)[1]) >= batch_id:
                continue
        except ValueError:
            continue
        d = os.path.join(index_dir, ent)
        for f in os.listdir(d):
            total += os.stat(os.path.join(d, f)).st_size
    return total


def _driver_read_index_before(index_dir: str, batch_id: int):
    """(ids, band, band_hash) numpy arrays of all index rows with
    batch < batch_id, via a pyarrow hive-partitioned dataset read
    (callers gate on _index_bytes_before first)."""
    import numpy as np

    if not os.path.isdir(index_dir) or not any(
        e.startswith("batch=") for e in os.listdir(index_dir)
    ):
        z = np.array([], dtype=np.int64)
        return z, z.astype(np.int32), z
    import pyarrow.dataset as pads

    tbl = pads.dataset(index_dir, format="parquet", partitioning="hive").to_table(
        columns=["__id", "band", "band_hash"],
        filter=pads.field("batch") < batch_id,
    )
    return (
        tbl["__id"].to_numpy(zero_copy_only=False).astype("int64"),
        tbl["band"].to_numpy(zero_copy_only=False).astype("int32"),
        tbl["band_hash"].to_numpy(zero_copy_only=False).astype("int64"),
    )


def _driver_pairs(ids, bands, hashes, new_ids: set, max_bucket: int,
                  max_pairs: int):
    """Numpy twin of `_pairs_from_banded` + the new-involving filter +
    the cross-band distinct (parity pinned by the stream == snapshot-
    ladder equality test): bucket on (band, band_hash), drop buckets
    with <2 or >max_bucket members (flood cap on the COMBINED old∪new
    membership), emit sorted-member pairs (mi, mj) i<j keeping pairs
    with ≥1 new id.  Returns None when the pre-filter pair count
    exceeds max_pairs — the caller falls back to the fully distributed
    overflow path, mirroring the distributed mode's collect cap."""
    import numpy as np

    if len(ids) == 0:
        return []
    key = hashes * _BANDS + bands  # injective: band < 8, hash < 2^31
    order = np.lexsort((ids, key))
    k_s, i_s = key[order], ids[order]
    bnd = np.flatnonzero(np.r_[True, k_s[1:] != k_s[:-1], True])
    counts = np.diff(bnd)
    multi = np.flatnonzero((counts >= 2) & (counts <= max_bucket))
    if int((counts[multi] * (counts[multi] - 1) // 2).sum()) > max_pairs:
        return None
    pairs: set = set()
    for bi in multi:
        mem = i_s[bnd[bi] : bnd[bi + 1]]
        m = len(mem)
        for x in range(m - 1):
            a = int(mem[x])
            a_new = a in new_ids
            for y in range(x + 1, m):
                b = int(mem[y])
                if a_new or b in new_ids:
                    pairs.add((a, b))
    return sorted(pairs)


def _driver_read_candidate_texts(
    corpus_dir: str, batch_id: int, old_need: list
) -> dict:
    """Texts of OLD candidate ids via a pyarrow dataset read of the
    hive-partitioned corpus store: batch < batch_id partition pruning +
    an isin(doc_id) filter that prunes row groups by min/max stats.
    Bounded: |old_need| ≤ 2·max_collect_pairs by the flood cap."""
    if not old_need or not os.path.isdir(corpus_dir) or not any(
        e.startswith("batch=") for e in os.listdir(corpus_dir)
    ):
        return {}
    import pyarrow.dataset as pads

    tbl = pads.dataset(
        corpus_dir, format="parquet", partitioning="hive"
    ).to_table(
        columns=["doc_id", "text"],
        filter=(pads.field("batch") < batch_id)
        & pads.field("doc_id").isin(old_need),
    )
    return dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))


def _emit_profile(batch_id: int, marks: list, profile: bool) -> None:
    """SPARK_GRAFT_STREAM_PROFILE=1 → one stderr line per micro-batch
    with per-stage wall ms (tooling aid for tools/streaming_bench.py;
    zero cost when off)."""
    if not profile or len(marks) < 2:
        return
    import sys as _sys

    parts = [
        f"{lbl}={round((t - marks[i][1]) * 1000)}ms"
        for i, (lbl, t) in enumerate(marks[1:])
    ]
    total = round((marks[-1][1] - marks[0][1]) * 1000)
    print(
        f"[dedup-stream-profile] batch={batch_id} total={total}ms "
        + " ".join(parts),
        file=_sys.stderr,
    )


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    tau: float = 0.2,
    shingle_n: int = 3,
    max_bucket: int = 50,
    max_collect_pairs: int = 200_000,
    max_driver_batch_rows: int = 200_000,
    max_driver_index_bytes: int = 256 << 20,
    max_collect_band_rows: int = 2_000_000,
) -> None:
    """The foreachBatch body — safe to replay: reads only batches < id,
    writes only batch=<id> dirs (overwrite).  Mode selection per the
    module docstring: driver mode when both the micro-batch and the
    past index fit the documented driver bounds, distributed otherwise,
    fully distributed recompute on candidate-flood overflow in either
    mode.  All three emit byte-identical pairs (equality test pins the
    driver/distributed twins to the snapshot ladder)."""
    import time

    profile = os.environ.get("SPARK_GRAFT_STREAM_PROFILE") == "1"
    marks: list[tuple[str, float]] = [("start", time.time())]

    def _mark(label: str) -> None:
        if profile:
            marks.append((label, time.time()))

    spark = batch_df.sparkSession
    corpus_dir = os.path.join(store_path, "corpus")
    index_dir = os.path.join(store_path, "index")
    pairs_dir = os.path.join(store_path, "pairs")
    idx_batch_dir = os.path.join(index_dir, f"batch={batch_id}")
    pairs_batch_dir = os.path.join(pairs_dir, f"batch={batch_id}")

    docs = batch_df.select("doc_id", "text")
    batch_pdf = docs.limit(max_driver_batch_rows + 1).toPandas()
    _mark("batch_collect")
    if (
        len(batch_pdf) <= max_driver_batch_rows
        and _index_bytes_before(index_dir, batch_id) <= max_driver_index_bytes
    ):
        done = _process_batch_driver(
            spark, batch_pdf, batch_id, corpus_dir, index_dir,
            pairs_batch_dir, tau, shingle_n, max_bucket, max_collect_pairs,
            _mark,
        )
        _emit_profile(batch_id, marks, profile)
        if done:
            return
        # candidate flood past the driver cap: corpus+index for THIS
        # batch are already written — recompute fully distributed
        _process_overflow_distributed(
            spark, batch_id, corpus_dir, index_dir, idx_batch_dir,
            pairs_batch_dir, tau, shingle_n, max_bucket,
        )
        return
    _process_batch_distributed(
        spark, docs, batch_id, corpus_dir, index_dir, idx_batch_dir,
        pairs_batch_dir, tau, shingle_n, max_bucket, max_collect_pairs,
        _mark, max_collect_band_rows=max_collect_band_rows,
    )
    _emit_profile(batch_id, marks, profile)


def _process_batch_driver(
    spark: SparkSession,
    batch_pdf,
    batch_id: int,
    corpus_dir: str,
    index_dir: str,
    pairs_batch_dir: str,
    tau: float,
    shingle_n: int,
    max_bucket: int,
    max_collect_pairs: int,
    _mark,
) -> bool:
    """Driver-mode body: zero Spark jobs.  Returns False on candidate
    flood (caller runs the distributed overflow recompute — this
    batch's corpus/index partitions are already written)."""
    import numpy as np
    import pyarrow as pa

    ids_np = batch_pdf["doc_id"].to_numpy()
    id_rep, band, bh = _band_rows_pdf(
        ids_np.tolist(), batch_pdf["text"].tolist(), 32, shingle_n,
        _BANDS, 4,
    )
    _mark("driver_sign")
    _write_parquet_dir(
        os.path.join(corpus_dir, f"batch={batch_id}"),
        pa.table(
            {
                "doc_id": pa.array(ids_np, type=pa.int64()),
                "text": pa.array(batch_pdf["text"], type=pa.string()),
            }
        ),
    )
    _write_parquet_dir(
        os.path.join(index_dir, f"batch={batch_id}"),
        pa.table(
            {
                "__id": pa.array(id_rep, type=pa.int64()),
                "band": pa.array(band, type=pa.int32()),
                "band_hash": pa.array(bh, type=pa.int64()),
            }
        ),
    )
    _mark("driver_writes")

    old_id, old_band, old_bh = _driver_read_index_before(index_dir, batch_id)
    if len(old_id):
        touched = np.unique(bh * _BANDS + band)
        keep = np.isin(old_bh * _BANDS + old_band, touched)
        old_id, old_band, old_bh = old_id[keep], old_band[keep], old_bh[keep]
    _mark("driver_index_read")
    cand = _driver_pairs(
        np.concatenate([old_id, id_rep]),
        np.concatenate([old_band.astype(np.int64), band.astype(np.int64)]),
        np.concatenate([old_bh, bh]),
        set(ids_np.tolist()),
        max_bucket,
        max_collect_pairs,
    )
    _mark("driver_pair_gen")
    if cand is None:
        return False
    if not cand:
        _write_pairs_parquet(pairs_batch_dir, [], [], [])
        return True
    new_texts = dict(zip(ids_np.tolist(), batch_pdf["text"].tolist()))
    need = {i for p in cand for i in p}
    texts = _driver_read_candidate_texts(
        corpus_dir, batch_id, sorted(need - new_texts.keys())
    )
    for i in need & new_texts.keys():
        texts[i] = new_texts[i]
    _mark("driver_text_read")
    a_out, b_out, j_out = _verify_pairs_local(cand, texts, tau, shingle_n)
    _write_pairs_parquet(pairs_batch_dir, a_out, b_out, j_out)
    _mark("driver_verify_write")
    return True


def _process_batch_distributed(
    spark: SparkSession,
    docs: DataFrame,
    batch_id: int,
    corpus_dir: str,
    index_dir: str,
    idx_batch_dir: str,
    pairs_batch_dir: str,
    tau: float,
    shingle_n: int,
    max_bucket: int,
    max_collect_pairs: int,
    _mark,
    max_collect_band_rows: int = 2_000_000,
) -> None:
    """Distributed-mode body (the r5 shape): mapInPandas signer evaluated
    once, corpus/index writes overlapped with the probe, touched-bucket
    filter, one groupBy pair-gen shuffle, flood-cap-bounded collect,
    candidate-pruned verify.

    The touched-bucket/new-id bookkeeping is itself mode-adaptive
    (ADVICE r6): a band-row collect here is bands×batch rows, and under
    the availableNow throughput posture one mega-batch can be the whole
    outstanding corpus — an unbounded driver collect in exactly the mode
    chosen BECAUSE the batch exceeded the driver bounds.  So the collect
    is capped at `max_collect_band_rows` (3-long rows; ~50 MB pandas at
    the default): under the cap the touched filter is a broadcast numpy
    set and the new-involving filter runs driver-side (fastest, the
    measured r6 shape); past it NOTHING batch-sized touches the driver —
    touched buckets via a (band, band_hash) semi-join, the new-involving
    filter via id semi-joins, the cross-band dedup via a distributed
    distinct, and only the flood-cap-bounded candidate list is ever
    collected."""
    import threading

    band_rows = lsh_band_rows(docs, shingle_n=shingle_n).persist()
    # bounded probe collect: band rows drive the broadcast fast path only
    # while they provably fit (limit stops the scan at cap+1 rows)
    new_pdf = band_rows.limit(max_collect_band_rows + 1).toPandas()
    driver_bookkeeping = len(new_pdf) <= max_collect_band_rows
    if not driver_bookkeeping:
        new_pdf = None
    _mark("sign_collect_band_rows")

    # the index LISTING must happen before the background overwrite of
    # idx_batch_dir starts: on a REPLAYED batch that overwrite first
    # deletes the existing batch=<id> files, and a concurrent
    # spark.read listing/footer pass over index_dir could hit
    # FileNotFoundException and fail the very replay exactly-once
    # recovery depends on (ADVICE r6).  _read_index_before prunes
    # batch >= id at execution, so pre-listing is also correct.
    old_rows = _read_index_before(spark, index_dir, batch_id)

    # the corpus and index writes are needed only by FUTURE batches, so
    # they run concurrently with this batch's probe (Spark schedules
    # concurrent jobs fine; the persisted band_rows is computed once and
    # shared).  Both must COMPLETE before the body returns — the
    # checkpoint commit happens after foreachBatch, and exactly-once
    # replay depends on every batch=<id> dir being fully written by then.
    errs: list = []

    def _bg(fn):
        def run():
            try:
                fn()
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        return t

    threads = [
        _bg(
            lambda: docs.write.mode("overwrite").parquet(
                os.path.join(corpus_dir, f"batch={batch_id}")
            )
        ),
        _bg(
            lambda: band_rows.write.mode("overwrite").parquet(idx_batch_dir)
        ),
    ]
    try:
        import numpy as np

        if driver_bookkeeping:
            # probe = ONE job: scan index (batch < id), keep touched
            # buckets via a broadcast key set (map-only), ONE groupBy
            # shuffle of the touched rows, in-bucket pair-gen, collect.
            # Driver then drops old-old pairs, dedups cross-band copies,
            # applies the cap.
            touched_keys = np.unique(
                new_pdf["band_hash"].to_numpy() * _BANDS
                + new_pdf["band"].to_numpy()
            )
            bt = spark.sparkContext.broadcast(touched_keys)

            def _touched_filter(batches):
                tk = bt.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    keys = (
                        pdf["band_hash"].to_numpy() * _BANDS
                        + pdf["band"].to_numpy()
                    )
                    yield pdf[np.isin(keys, tk)]

            old_touched = old_rows.mapInPandas(
                _touched_filter, schema=_EMPTY_INDEX_SCHEMA
            )
            combined = old_touched.unionByName(
                spark.createDataFrame(new_pdf, schema=_EMPTY_INDEX_SCHEMA)
            )
            raw_pairs = (
                _pairs_from_banded(combined, max_bucket, distinct=False)
                .limit(max_collect_pairs + 1)
                .collect()
            )
            _mark("probe_collect_pairs")
            overflow = len(raw_pairs) > max_collect_pairs
            new_ids = set(new_pdf["__id"])
            seen = set()
            cand_rows = []
            for r in raw_pairs:
                k = (r["a_id"], r["b_id"])
                if k in seen or (
                    k[0] not in new_ids and k[1] not in new_ids
                ):
                    continue
                seen.add(k)
                cand_rows.append(k)
        else:
            # mega-batch posture: every batch-sized set stays distributed.
            # Touched buckets = old rows whose (band, band_hash) appears
            # in this batch's band rows (semi-join, the
            # incremental_candidate_pairs shape); new-involving filter =
            # id semi-joins against the batch; cross-band dedup = one
            # distinct shuffle.  Only the capped candidate list is
            # collected.
            new_keys = band_rows.select("band", "band_hash").distinct()
            old_touched = old_rows.join(
                new_keys, ["band", "band_hash"], "left_semi"
            )
            combined = old_touched.unionByName(band_rows)
            all_pairs = _pairs_from_banded(
                combined, max_bucket, distinct=False
            )
            nid_a = docs.select(F.col("doc_id").alias("a_id"))
            nid_b = docs.select(F.col("doc_id").alias("b_id"))
            new_involving = (
                all_pairs.join(nid_a, "a_id", "left_semi")
                .unionByName(all_pairs.join(nid_b, "b_id", "left_semi"))
                .distinct()
            )
            raw_pairs = new_involving.limit(max_collect_pairs + 1).collect()
            _mark("probe_collect_pairs")
            overflow = len(raw_pairs) > max_collect_pairs
            cand_rows = [(r["a_id"], r["b_id"]) for r in raw_pairs]
    finally:
        for t in threads:
            t.join()
        band_rows.unpersist()
        _mark("writes_joined")
    if errs:
        raise errs[0]

    if overflow:
        _process_overflow_distributed(
            spark, batch_id, corpus_dir, index_dir, idx_batch_dir,
            pairs_batch_dir, tau, shingle_n, max_bucket,
        )
        return
    if not cand_rows:
        _write_pairs_parquet(pairs_batch_dir, [], [], [])
        return

    # bounded driver verify: the candidate set is flood-capped, so ONE
    # pruned collect fetches the <= 2·|pairs| candidate texts and the
    # exact Jaccard + the pairs write run driver-side — no broadcast
    # materialization, no join stages, no write job
    known = _known_docs(spark, corpus_dir, batch_id, docs)
    need = sorted({i for p in cand_rows for i in p})
    if len(need) <= 1024:
        # small list: In-literals reach the parquet scan as row-group
        # pruning
        pruned = known.where(F.col("doc_id").isin(need))
    else:
        # big list: a thousands-literal In() costs more in planning and
        # per-row eval than it saves (measured 1.9s vs 0.5s at sf1) —
        # broadcast-semi-join instead
        ids_df = spark.createDataFrame([(i,) for i in need], "doc_id long")
        pruned = known.join(F.broadcast(ids_df), "doc_id", "left_semi")
    texts = {r["doc_id"]: r["text"] for r in pruned.collect()}
    _mark("pruned_text_collect")
    a_out, b_out, j_out = _verify_pairs_local(cand_rows, texts, tau, shingle_n)
    _write_pairs_parquet(pairs_batch_dir, a_out, b_out, j_out)
    _mark("verify_write")


def _known_docs(
    spark: SparkSession, corpus_dir: str, batch_id: int,
    docs: DataFrame | None,
) -> DataFrame:
    """past corpus (batch < id) ∪ the current batch.  When `docs` is
    None the current batch is read back from its (already written)
    corpus partition instead."""
    have_past = os.path.isdir(corpus_dir) and any(
        e.startswith("batch=") for e in os.listdir(corpus_dir)
    )
    if not have_past:
        past = spark.createDataFrame([], "doc_id long, text string")
    else:
        cond = (
            F.col("batch") < batch_id
            if docs is not None
            else F.col("batch") <= batch_id
        )
        past = (
            spark.read.option("basePath", corpus_dir)
            .parquet(corpus_dir)
            .where(cond)
            .select("doc_id", "text")
        )
    if docs is None:
        return past
    return past.where(F.col("doc_id").isNotNull()).unionByName(docs)


def _process_overflow_distributed(
    spark: SparkSession,
    batch_id: int,
    corpus_dir: str,
    index_dir: str,
    idx_batch_dir: str,
    pairs_batch_dir: str,
    tau: float,
    shingle_n: int,
    max_bucket: int,
) -> None:
    """Candidate flood past the collect cap: fully distributed recompute
    WITH the distinct shuffle (the flood made driver dedup
    unaffordable).  Runs after this batch's corpus+index partitions are
    fully written, so both sides read the store."""
    new_rows = spark.read.parquet(idx_batch_dir).select(
        "__id", "band", "band_hash"
    )
    cands = incremental_candidate_pairs(
        _read_index_before(spark, index_dir, batch_id), new_rows, max_bucket
    ).localCheckpoint()
    need_df = (
        cands.select(F.col("a_id").alias("doc_id"))
        .unionByName(cands.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    known = _known_docs(spark, corpus_dir, batch_id, None).join(
        need_df, "doc_id", "left_semi"
    )
    pairs = _verified_pairs(cands, known, tau, "doc_id", "text", shingle_n)
    pairs.write.mode("overwrite").parquet(pairs_batch_dir)


def run_streaming_incremental_dedup(
    spark: SparkSession,
    docs_parquet_dir: str,
    store_path: str,
    tau: float = 0.2,
    max_files_per_trigger: int | None = 1,
    checkpoint: str | None = None,
) -> DataFrame:
    """File-stream the docs dir (one micro-batch per file by default;
    max_files_per_trigger=None lets availableNow take every outstanding
    file in ONE micro-batch — the throughput posture) → per-batch
    incremental probe → batch-keyed store.  Returns all pairs
    accumulated in the store."""
    schema = spark.read.parquet(docs_parquet_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(docs_parquet_dir)
    ckpt = checkpoint or os.path.join(
        store_path, f"_ckpt_{uuid.uuid4().hex[:8]}"
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: process_batch(df, bid, store_path, tau=tau)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.option("basePath", os.path.join(store_path, "pairs")).parquet(
        os.path.join(store_path, "pairs")
    )
