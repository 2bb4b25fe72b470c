"""Deduplication operators — the north-star LLM-pipeline ops.

The reference dedups implicitly: upsert-by-id overwrites (TencentVDB.py:70
`id=url` primary key), so re-crawled pages replace themselves.  A training-
data pipeline needs the full ladder, each implemented Spark-first:

  exact_dedup            md5(text) groupBy — one shuffle of (hash, id)
  lsh_band_rows          n-gram shingles → 32 universal-hash (mod 2^31-1)
                         MinHash permutations → 8 band keys per doc, one
                         numpy pass per Arrow batch (mapInPandas)
  _pairs_from_banded     shuffle on (band, band_hash), pairs within
                         buckets — the candidate generator that makes
                         near-dup O(candidates) instead of O(n²)
  ngram_jaccard          exact verify: token-shingle Jaccard >= tau
  minhash_near_dup_pairs the three stages above as one pipeline
  simhash64              64-bit SimHash (Arrow/numpy batch), hamming-ball
                         candidates at scale via bit-band buckets
  embedding near-dup     threshold_similarity_join (operators/knn.py)

At 100 TB: LSH candidates + exact verify is the only quadratic-free path;
bucket shuffles hash-partition evenly (band-hash keys), hot buckets are
capped by `max_bucket` to bound worst-case pair blowup.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: canonical id = min(id)."""
    h = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    return h.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups")
    )


def paragraph_dedup(
    docs: DataFrame,
    chunk_words: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document exact dedup, C4-style (Raffel et al. 2020 §2.2 dedupe
    three-sentence spans; here the span unit is a fixed word window since
    the fixture corpus has no sentence punctuation): split every doc into
    non-overlapping `chunk_words`-word chunks, keep only the GLOBALLY first
    occurrence of each distinct chunk (first = lowest (doc_id, chunk_idx)),
    and reassemble each doc from its surviving chunks in order.

    Scale shape: chunking is map-only (sequence+slice array exprs, no
    Python); the keeper choice is one shuffle keyed by the chunk TEXT —
    at 100 TB key by xxhash64(chunk) instead so shuffle rows carry 8-byte
    keys, and break ties by (doc_id, chunk_idx) exactly as here.  The
    reassembly groupBy re-shuffles only surviving (doc_id, idx, chunk)
    rows.  Emits per-doc n_chunks / n_kept / kept_text (empty string when
    every chunk of a doc was seen earlier elsewhere).
    """
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = (
        docs.select(id_col, words.alias("__ws"), n_chunks.alias("__n"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__ws"), i * chunk_words + 1, chunk_words)
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .where(F.col("chunk") != "")
    )
    w = Window.partitionBy("chunk").orderBy(F.asc(id_col), F.asc("chunk_idx"))
    kept = chunks.withColumn("__rn", F.row_number().over(w))
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("__rn") == 1).cast("int")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") == 1,
                            F.struct(F.col("chunk_idx"), F.col("chunk")),
                        )
                    )
                ),
                lambda s: s.getField("chunk"),
            ),
        ).alias("kept_text"),
    )
    return per_doc.select(
        id_col,
        F.col("n_chunks").cast("int"),
        F.col("n_kept").cast("int"),
        "kept_text",
    )


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """n-token shingles as strings (distinct), pure array exprs.

    Built by zip_with-ing n shifted slices of the token array rather than
    a transform(sequence(...)) whose lambda captures the token array: a
    captured `split()` is NOT common-subexpression-eliminated inside a
    higher-order-function lambda, so the capture form re-splits the text
    once per shingle — O(tokens^2) per document (measured 2.2x slower at
    sf0.1).  Slices/zip_with evaluate the split a constant number of
    times; the lambda touches only its own arguments.

    Guarded: texts with < n tokens yield an empty array (a negative slice
    length would otherwise throw)."""
    toks = F.split(F.col(text_col), " ")
    m = F.size(toks) - (n - 1)
    sh = F.slice(toks, 1, m)
    for i in range(1, n):
        sh = F.zip_with(
            sh, F.slice(toks, i + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# MinHash → LSH.  One hash family: universal hashing over the Mersenne prime
# 2^31-1.  Every step is plain int64 arithmetic that Spark and DuckDB
# evaluate bit-identically, so the whole MinHash→LSH→verify ladder —
# candidate bucketing included — is value-checked by a DuckDB replay
# (suite/dedup_suite.py `_portable_minhash_oracle`).  (a·x+b) mod p is the
# textbook MinHash construction (Broder).
# ---------------------------------------------------------------------------

MERSENNE31 = 2_147_483_647
_CHAR_B = 131        # char-rolling base for shingle -> int
_BAND_C = 1_000_003  # band-fold base; MERSENNE31 * _BAND_C < 2^62


def perm_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for h_i(x) = (a_i·x + b_i) mod p.  Fixed
    literals (Knuth multiplicative constants) so the signer and the
    generated oracle SQL embed identical numbers."""
    out = []
    for i in range(num_perm):
        a = (i * 2_654_435_761 + 1) % MERSENNE31 or 1
        b = (i * 40_503 + 7) % MERSENNE31
        out.append((a, b))
    return out


def _band_rows_pdf(
    ids, texts, num_perm: int, shingle_n: int, bands: int, rows_per_band: int
):
    """The MinHash signer: (doc ids, texts) → (id_rep, band, band_hash)
    numpy arrays, one row per doc per band, docs with < shingle_n tokens
    dropped.  Its specification is the Spark expression form in
    tests/minhash_reference.py (and the DuckDB oracle), which it matches
    BIT-IDENTICALLY (parity tests on fixture and adversarial unicode
    text):

    * tokens: Python ``str.split(" ")`` == Spark ``split(text, ' ')``
      (Java regex split, limit -1: all empty tokens kept, verified
      empirically incl. leading/trailing runs);
    * shingles: n consecutive tokens joined with one space == the
      zip_with/concat ladder of `word_shingles`; ``array_distinct`` is
      deliberately SKIPPED — duplicate shingle hashes cannot change a
      per-permutation minimum;
    * char hash: codepoints via utf-32 decode (== Spark split('') +
      ascii(): full code points, no surrogate halves, empty→0), rolling
      ``(acc*131 + cp) % P`` applied at every step — all int64-exact
      (acc*131+cp < 2^38);
    * perms/bands: (h*a+b) % P mins via minimum.reduceat, band fold
      (acc*1000003 + v) % P — int64-exact (< 2^62 / < 2^51).
    """
    P = MERSENNE31
    # ---- per-TOKEN rolling hashes, then COMPOSE shingle hashes ----
    # H over concatenation composes: H(x||y) = (H(x)·B^len(y) + H(y))
    # mod P, so the 3-token shingle hash is five modular folds over
    # per-token (hash, B^len) pairs — no shingle STRINGS are ever built
    # (the string-join loop was ~60% of the signer's profile).
    doc_ids, doc_sh_counts, tok_lists = [], [], []
    for d, t in zip(ids, texts):
        toks = (t or "").split(" ")
        m = len(toks) - shingle_n + 1
        if m <= 0:
            continue
        doc_ids.append(d)
        doc_sh_counts.append(m)
        tok_lists.append(toks)
    if not doc_ids:
        z = np.array([], dtype=np.int64)
        return z, z.astype(np.int32), z
    flat_toks = [tok for toks in tok_lists for tok in toks]
    tok_counts = np.array([len(toks) for toks in tok_lists], dtype=np.int64)
    # hash UNIQUE tokens only (pd.factorize is a C hash table): natural
    # text repeats tokens ~50-100x, so the char-rolling loop below runs
    # over the vocabulary, not the token stream — measured 1.9s -> 0.4s
    # per 17k docs with identical output (th/tpw depend only on the
    # token STRING, so gathering through the codes is exact)
    codes, uniques = pd.factorize(np.asarray(flat_toks, dtype=object))
    uniq_toks = uniques.tolist()
    lens = np.array([len(s) for s in uniq_toks], dtype=np.int64)
    cps = np.frombuffer(
        "".join(uniq_toks).encode("utf-32-le"), dtype="<u4"
    ).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    uth = np.zeros(len(lens), dtype=np.int64)  # per-unique-token hash
    maxlen = int(lens.max()) if len(lens) else 0
    for i in range(maxlen):
        sel = lens > i
        uth[sel] = (uth[sel] * _CHAR_B + cps[starts[sel] + i]) % P
    # B^len(token) mod P via precomputed powers
    pw_table = np.empty(maxlen + 1, dtype=np.int64)
    pw_table[0] = 1
    for i in range(1, maxlen + 1):
        pw_table[i] = (pw_table[i - 1] * _CHAR_B) % P
    th = uth[codes]
    tpw = pw_table[lens][codes]
    # shingle hash: fold tokens k..k+n-1 with single-space separators
    # (codepoint 32, pw = B) — bit-identical to char-rolling the joined
    # string because the rolling hash is associative over concatenation
    tok_starts = np.concatenate(([0], np.cumsum(tok_counts)[:-1]))
    sh_idx0 = np.concatenate(
        [ts + np.arange(m) for ts, m in zip(tok_starts, doc_sh_counts)]
    ).astype(np.int64)
    acc = th[sh_idx0]
    for j in range(1, shingle_n):
        idx = sh_idx0 + j
        acc = (acc * _CHAR_B + 32) % P           # append " "
        acc = (acc * tpw[idx] + th[idx]) % P     # append token j
    doc_starts = np.concatenate(
        ([0], np.cumsum(doc_sh_counts)[:-1])
    ).astype(np.int64)
    sig = np.empty((len(doc_ids), num_perm), dtype=np.int64)
    for j, (a, b) in enumerate(perm_coeffs(num_perm)):
        sig[:, j] = np.minimum.reduceat((acc * a + b) % P, doc_starts)
    bh = np.zeros((len(doc_ids), bands), dtype=np.int64)
    for b_idx in range(bands):
        for r in range(rows_per_band):
            bh[:, b_idx] = (
                bh[:, b_idx] * _BAND_C + sig[:, b_idx * rows_per_band + r]
            ) % P
    id_rep = np.repeat(np.asarray(doc_ids), bands)
    band = np.tile(np.arange(bands, dtype=np.int32), len(doc_ids))
    return id_rep, band, bh.reshape(-1)


def lsh_band_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """(__id, band, band_hash) rows — the LSH bucket relation, one row
    per doc per band for every doc with >= shingle_n tokens.  It is also
    the persisted dedup index format (operators/incremental_dedup.py,
    plans/index_build.py): later batches bucket against it instead of
    re-signing the corpus.  `__id` keeps the type of `id_col`.

    One Arrow pass (mapInPandas) through the numpy signer; the
    equivalent expression plan (tests/minhash_reference.py) runs at ~1/10
    the throughput because its transform/aggregate lambdas never enter
    whole-stage codegen."""
    if num_perm != bands * rows_per_band:
        raise ValueError(
            f"lsh_band_rows: num_perm={num_perm} must equal "
            f"bands={bands} * rows_per_band={rows_per_band}"
        )

    def _sign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            id_rep, band, bh = _band_rows_pdf(
                pdf[id_col], pdf[text_col], num_perm, shingle_n, bands,
                rows_per_band,
            )
            yield pd.DataFrame({"__id": id_rep, "band": band, "band_hash": bh})

    schema = StructType(
        [
            StructField("__id", docs.schema[id_col].dataType),
            StructField("band", IntegerType()),
            StructField("band_hash", LongType()),
        ]
    )
    return docs.select(id_col, text_col).mapInPandas(_sign, schema=schema)


def _pairs_from_banded(
    banded: DataFrame, max_bucket: int, distinct: bool = True
) -> DataFrame:
    """(__id, band, band_hash) rows → candidate pairs (a_id < b_id).
    Buckets larger than `max_bucket` (degenerate near-identical floods)
    are dropped to bound the within-bucket pair blowup; the drop is
    silent — nothing records the dropped buckets until ROADMAP item 2's
    trace does.  In-bucket pair generation is array exprs (no
    self-join): for sorted members [m0..mk], pairs = {(mi, mj) : i < j}
    — ONE shuffle (the groupBy) instead of groupBy + join + join.

    Rows that carry a boolean `__new` column (incremental_candidate_pairs)
    keep only buckets holding a new row and only pairs with >= 1 new
    member; the size cap still counts every member.

    distinct=False skips the cross-band dedup shuffle and returns up to
    one copy of a pair PER SHARED BAND (<= bands copies) — for callers
    that dedup downstream anyway (the incremental stream dedups its
    flood-cap-bounded collect on the driver)."""
    flagged = "__new" in banded.columns
    aggs = [F.sort_array(F.collect_list("__id")).alias("ms")]
    keep = (F.size("ms") >= 2) & (F.size("ms") <= max_bucket)
    if flagged:
        aggs.append(
            F.collect_list(F.when(F.col("__new"), F.col("__id"))).alias("nms")
        )
        keep = keep & (F.size("nms") > 0)
    members = banded.groupBy("band", "band_hash").agg(*aggs).where(keep)
    pair_structs = F.flatten(
        F.transform(
            "ms",
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size("ms")),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    if flagged:
        pair_structs = F.filter(
            pair_structs,
            lambda p: F.array_contains("nms", p["a_id"])
            | F.array_contains("nms", p["b_id"]),
        )
    out = members.select(F.explode(pair_structs).alias("p")).select(
        "p.a_id", "p.b_id"
    )
    return out.distinct() if distinct else out


def ngram_jaccard(
    left_shingles: F.Column, right_shingles: F.Column
) -> F.Column:
    """Exact Jaccard over distinct shingle sets (verify stage)."""
    inter = F.size(F.array_intersect(left_shingles, right_shingles))
    union = F.size(F.array_union(left_shingles, right_shingles))
    return F.round(inter / F.greatest(union, F.lit(1)), 6)


def _verified_pairs(
    cands: DataFrame,
    docs: DataFrame,
    tau: float,
    id_col: str,
    text_col: str,
    shingle_n: int,
) -> DataFrame:
    """Exact-Jaccard verify of candidate (a_id, b_id) pairs against the
    docs' shingle sets: (a_id, b_id, jaccard) rows with jaccard >= tau.
    The shingle table is rebuilt per side, not persisted, so the call
    leaves no cache entry behind."""
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
    ).where(F.size("sh") > 0)
    a = sh.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            ngram_jaccard(F.col("a_sh"), F.col("b_sh")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= tau)
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    tau: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: MinHash (32 permutations) → LSH candidates
    (8 bands × 4 rows, buckets over 50 members dropped) → exact-Jaccard
    verify.  The scale path: pair space is O(candidates), not O(n²).

    In a production run the band rows are an INDEX ARTIFACT: materialize
    them at ingest (plans/index_build.py, the reference's build_index=True
    analog, TencentVDB.py:79) and probe them incrementally
    (operators/incremental_dedup.py)."""
    banded = lsh_band_rows(docs, id_col, text_col, num_perm, shingle_n)
    cands = _pairs_from_banded(banded, max_bucket=50)
    return _verified_pairs(cands, docs, tau, id_col, text_col, shingle_n)

def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc (Arrow batch path): token xxhash-equivalent
    (stable md5-derived 64-bit), sum ±1 per bit, sign → bit.

    numpy does the 64-lane popcount-style accumulation per batch; this is
    the case where a vectorized Python kernel beats 64 separate JVM
    expressions."""

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        bits = np.arange(64, dtype=np.uint64)
        for pdf in it:
            out = np.zeros(len(pdf), dtype=np.int64)
            for i, t in enumerate(pdf[text_col].fillna("")):
                acc = np.zeros(64, dtype=np.int64)
                for tok in t.split():
                    h = np.uint64(
                        int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
                    )
                    hb = np.right_shift(h, bits) & np.uint64(1)
                    acc += np.where(hb.astype(bool), 1, -1)
                out[i] = int(((acc > 0).astype(np.uint64) << bits).sum().astype(np.int64))
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return docs.select(id_col, text_col).mapInPandas(
        _batch, schema=f"{id_col} long, simhash long"
    )


def simhash_near_dup_candidates(
    sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Candidate pairs within a hamming ball: band the 64 bits into 4
    16-bit keys (pigeonhole: ≤3 differing bits → ≥1 identical band),
    bucket-join on (band, key), verify exact hamming via bit_count."""
    banded = sim.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "key"),
    )
    a = banded.select("band", "key", F.col(id_col).alias("a_id"), F.col("simhash").alias("a_sim"))
    b = banded.select("band", "key", F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sim"))
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sim", "b_sim")
        .distinct()
    )
    return pairs.select(
        "a_id",
        "b_id",
        F.bit_count(F.expr("a_sim ^ b_sim")).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def _bloom_positions(col: str, m_bits: int, k: int, seed: int) -> F.Column:
    """k bit positions per value, all JVM-side: pmod(xxhash64(v, seed+i), m).
    Independent seeds stand in for independent hash functions (the standard
    double-hashing-free construction; xxhash64's seed mixes thoroughly)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(seed + i)), F.lit(m_bits))
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 5, seed: int = 0
) -> np.ndarray:
    """Build a Bloom bitset (packed uint8, m_bits/8 bytes) over df[col].

    The build side is the SMALL side by contract (an eval benchmark's
    shingle set, a blocklist): one distinct-positions pass collects at most
    k x |values| longs; the bitset itself is m_bits/8 bytes (2^20 bits =
    128 KB, 2^30 = 128 MB) — broadcastable where the value set itself might
    not be.  Spark's own `bloom_filter_agg` is not exposed through the
    Python function registry, so positions are computed with public
    xxhash64 exprs — which also makes probe-side behavior reproducible
    anywhere xxhash64 exists.
    """
    pos = (
        df.select(F.explode(_bloom_positions(col, m_bits, k, seed)).alias("p"))
        .distinct()
        .collect()
    )
    bits = np.zeros(m_bits >> 3, dtype=np.uint8)
    idx = np.array([r["p"] for r in pos], dtype=np.int64)
    np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
    return bits


def bloom_might_contain(
    df: DataFrame,
    col: str,
    bitset: np.ndarray,
    k: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Filter df to rows whose col MIGHT be in the bloomed set (no false
    negatives; false-positive rate set by m_bits/k vs build cardinality).

    The probe is map-only: positions come from the same JVM xxhash64
    exprs, the broadcast bitset is tested with one vectorized numpy gather
    per hash.  At 100 TB this is the pre-join shrink: the exact-verify
    join downstream sees only bloom survivors, not the corpus.
    """
    spark = df.sparkSession
    m_bits = int(bitset.shape[0]) << 3
    bc = spark.sparkContext.broadcast(bitset)
    import pandas as pd  # noqa: F811 (module-level import exists)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        bits = bc.value
        out = np.ones(len(pos), dtype=bool)
        if len(pos):
            mat = np.array(list(pos), dtype=np.int64)  # (rows, k)
            for j in range(mat.shape[1]):
                p = mat[:, j]
                out &= (bits[p >> 3] >> (p & 7) & 1).astype(bool)
        return pd.Series(out)

    return df.withColumn(
        "__bloom_hit", _probe(_bloom_positions(col, m_bits, k, seed))
    ).where(F.col("__bloom_hit")).drop("__bloom_hit")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for each benchmark doc, the top-k corpus
    docs by n-gram containment |sh(corpus) ∩ sh(bench)| / |sh(bench)| — the
    standard eval-leakage check a training pipeline runs before a data
    release (corpus docs above a containment threshold get dropped).

    Scale shape: the benchmark side is small (eval sets are thousands of
    docs) so its exploded shingles BROADCAST; the corpus side is a map-only
    explode, one shuffle for the (doc, bench) overlap count, then the
    grouped top-k window.  No corpus self-join anywhere.
    """
    from crawling_vectordb_llm_spark.operators.topk import grouped_topk

    bsh = benchmark.select(
        F.col(id_col).alias("bench_id"), word_shingles(text_col, n).alias("sh")
    ).where(F.size("sh") > 0)
    bench_sizes = bsh.select("bench_id", F.size("sh").alias("n_sh"))
    btok = bsh.select("bench_id", F.explode("sh").alias("sh"))
    ctok = corpus.select(
        F.col(id_col), word_shingles(text_col, n).alias("sh")
    ).select(id_col, F.explode("sh").alias("sh"))
    inter = (
        ctok.join(F.broadcast(btok), "sh")
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("inter"))
    )
    scored = inter.join(F.broadcast(bench_sizes), "bench_id").select(
        "bench_id",
        id_col,
        F.round(F.col("inter") / F.col("n_sh").cast("double"), 6).alias("containment"),
    )
    return grouped_topk(
        scored, ["bench_id"], [F.desc("containment"), F.asc(id_col)], k
    )


def positional_word_shingles(text_col: str, n: int = 5) -> F.Column:
    """Like word_shingles but keeps EVERY occurrence in position order
    (index i = shingle starting at token i, 0-based) — the form span
    excision needs, where word_shingles' array_distinct would erase
    within-doc repeats.  Same shifted-slice zip_with construction (and the
    same reason: a captured split() is not CSE'd inside a higher-order
    lambda, so the capture form would re-split per shingle)."""
    toks = F.split(F.col(text_col), " ")
    m = F.size(toks) - (n - 1)
    sh = F.slice(toks, 1, m)
    for i in range(1, n):
        sh = F.zip_with(
            sh, F.slice(toks, i + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(F.size(toks) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


def duplicate_span_excise(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos_pack: int = 1_000_000,
) -> DataFrame:
    """Substring-level dedup TRANSFORM (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): excise every n-token
    span that occurs >= min_count times in the corpus, keeping exactly the
    globally-first occurrence (min (doc_id, pos)) — the companion operator
    to the duplicate_ngram_spans signal, producing the cleaned corpus.

    Returns (id_col, n_tokens int, n_excised int, clean_text string) with
    one row per input document; clean_text drops every token covered by a
    non-owner duplicated span occurrence.

    Scale shape (100 TB-safe): explode to (gram, doc, pos) occurrences
    (n x token volume), one shuffle to count per-gram occurrences and
    elect the owner (a single min of the packed doc*pos key — no struct
    min, no second pass), one shuffle joining survivors back to
    occurrences, and one shuffle re-grouping covered positions per doc.
    The only per-doc state is the distinct covered-position list, bounded
    by the document's own token count.  Within-doc repeats of a gram are
    occurrences too, so a doc that plagiarizes itself is trimmed to one
    copy.  Position packs into doc_id * pos_pack + pos; pos_pack need
    only exceed the max token count per document (1e6 ~ a 4 MB document
    at avg 4 chars/token, far above the P4/P9 truncation caps upstream).
    The packing additionally requires NON-NEGATIVE ids — a negative
    doc_id would invert the (doc, pos) order inside the packed min and
    collide keys across documents — so both bounds are enforced inline
    on the packed key (raise_error on violation, ~one branch per
    occurrence, not a separate validation pass over the corpus)."""
    toks = F.split(F.col(text_col), " ")
    occ = docs.select(
        F.col(id_col),
        F.posexplode(positional_word_shingles(text_col, n)).alias("pos", "gram"),
    )
    # guard lives inside the key expression so column pruning can never
    # drop it: invalid ids/positions error the job instead of silently
    # electing a wrong owner (ADVICE r3)
    okey_ok = (F.col(id_col) >= 0) & (F.col("pos") < pos_pack)
    okey = F.when(okey_ok, F.col(id_col) * pos_pack + F.col("pos")).otherwise(
        F.raise_error(
            F.format_string(
                "duplicate_span_excise: requires 0 <= %s and token pos < "
                "pos_pack=%d (got id=%s, pos=%s)",
                F.lit(id_col), F.lit(pos_pack), F.col(id_col), F.col("pos"),
            )
        )
    )
    packed = occ.select("gram", okey.alias("okey"))
    dup = (
        packed.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("okey").alias("owner_key"))
        .where(F.col("n_occ") >= min_count)
        .select("gram", "owner_key")
    )
    # non-owner occurrences of duplicated grams -> covered token positions
    covered = (
        occ.join(dup, "gram")
        .where(F.col(id_col) * pos_pack + F.col("pos") != F.col("owner_key"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("cpos"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("cpos")).alias("cov"))
    )
    out = docs.join(covered, id_col, "left").select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).alias("n_excised"),
        F.concat_ws(
            " ",
            F.filter(
                toks, lambda t, i: ~F.coalesce(
                    F.array_contains("cov", i), F.lit(False)
                )
            ),
        ).alias("clean_text"),
    )
    return out
