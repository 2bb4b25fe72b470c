"""The two closed-loop workloads.

Each workload has one client: a single driver thread that issues its
next call only after the previous one returned.  `prepare` writes the
seeded inputs (and any prebuilt state) into a fresh directory; `reset`
restores what a round changed, so `round` runs one fixed unit of timed
work whatever came before it; `check` verifies outputs and returns
the number of failed checks.  Every call into a package layer sits
inside a tracer span, and every lazy result is forced inside the span
that produced it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.spans import Tracer

TOP_K = 3  # the reference's searchByText limit


class Workload:
    name = ""
    spans: tuple[str, ...] = ()
    #: input sizes at scale 1.0; `scale` shrinks them for the smoke test
    sizes: dict[str, int] = {}
    #: quality figures below these floors make the run incorrect
    quality_floor: dict[str, float] = {}
    #: nominal seconds of one timed round on a 4-core host; a run times
    #: `--seconds / round_s` rounds, rounded
    round_s = 10.0

    def __init__(self, spark, seed: int, scale: float, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.size = {k: max(1, int(v * scale)) for k, v in self.sizes.items()}
        self.tracer = tracer
        self.data_dir = ""
        self.quality: dict[str, float] = {}

    def prepare(self, data_dir: str) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        """Put back any state a round changes (untimed, before each round)."""

    def round(self, scratch: str) -> None:
        raise NotImplementedError

    def check(self) -> int:
        return 0

    def quality_ok(self) -> bool:
        """Every quality figure at or above the workload's floor."""
        return all(self.quality.get(k, 0.0) >= v for k, v in self.quality_floor.items())


def _sample(rng: np.random.Generator, values, n: int) -> list:
    idx = rng.choice(len(values), size=min(n, len(values)), replace=False)
    return [values[i] for i in sorted(idx)]


# ---------------------------------------------------------------- rag_serve


class RagServe(Workload):
    """The reference's RAG service, write and read path in one loop.

    Set-up writes the seeded corpus, builds a fully indexed collection
    from it and keeps a copy of that collection.  Before every round the
    collection is put back to that copy (untimed), so each round does the
    same work on the same corpus: upsert one crawl batch of new documents
    (server-side embedding, merge by id, a new cow version) and assign
    it incrementally to the IVF cells; then the read path: exact and IVF
    searchByText over the same texts, corpus texts plus texts of the
    batch just written (read-your-writes), BM25 keyword top-k, and
    retrieve → prompt → generate → cite."""

    name = "rag_serve"
    spans = (
        "vectorstore.upsert", "vectorstore.build_index", "vectorstore.search_ivf",
        "vectorstore.search_exact", "bm25.bm25_topk", "rag.search_pipeline",
        "generate.rag_generate",
    )
    sizes = {"docs": 4000, "batch_docs": 400, "queries": 32, "ryw_queries": 16,
             "checked_queries": 4}
    # IVF (4 of 16 cells probed) vs exact top-3 for 8-word query prefixes
    # measured 0.55-0.75 across seeds
    quality_floor = {"recall_at_k": 0.4}

    def prepare(self, data_dir: str) -> None:
        from crawling_vectordb_llm_spark.vectorstore import VectorCollection

        spark, n = self.spark, self.size["docs"]
        # documents.parquet holds the served corpus plus the crawl batch
        # (ids >= n); embeddings.parquet feeds the retrieval pipeline
        docs_path = inputs.write_documents(spark, data_dir, n + self.size["batch_docs"],
                                           self.seed)
        inputs.write_embeddings(spark, data_dir, n, self.seed, clustered=False)
        docs = pq.read_table(docs_path).to_pandas().sort_values("doc_id")
        docs = docs.rename(columns={"doc_id": "id"}).reset_index(drop=True)
        served, batch = docs[docs["id"] < n], docs[docs["id"] >= n]
        self.corpus_path = os.path.join(data_dir, "corpus.parquet")
        self.batch_path = os.path.join(data_dir, "crawl_batch.parquet")
        for part, path in ((served, self.corpus_path), (batch, self.batch_path)):
            pq.write_table(pa.Table.from_pandas(part[["id", "text"]], preserve_index=False),
                           path)
        self.coll = VectorCollection(spark, os.path.join(data_dir, "collection"), dim=64)
        self.coll.upsert(spark.read.parquet(self.corpus_path), build_index=True)
        self.snapshot = os.path.join(data_dir, "collection.prepared")
        shutil.copytree(self.coll.path, self.snapshot)
        # read-your-writes texts must have one correct top hit, so they
        # come from originals with unique text
        counts = docs["text"].map(docs["text"].value_counts())
        pool = batch[(batch["id"] % 100 < 93) & (counts[batch.index] == 1)]
        self.ryw = _sample(self.rng, list(zip(pool["id"], pool["text"])),
                           self.size["ryw_queries"])
        words = [t.split() for t in served["text"]]
        # search texts: the first 8 words of seeded documents; BM25 queries:
        # 3 seeded words of seeded documents
        self.texts = [" ".join(w[:8]) for w in _sample(self.rng, words, self.size["queries"])]
        self.bm25_queries = [
            (i, " ".join(self.rng.choice(w, 3, replace=False)))
            for i, w in enumerate(_sample(self.rng, words, self.size["queries"]))
        ]
        self.checked = sorted(self.rng.choice(len(self.texts), self.size["checked_queries"],
                                              replace=False).tolist())
        self.docs_path = docs_path
        self.data_dir = data_dir
        self.hits = self.asked = 0
        self.last: dict[str, pd.DataFrame] = {}
        self.recalls: list[float] = []

    def reset(self) -> None:
        shutil.rmtree(self.coll.path)
        shutil.copytree(self.snapshot, self.coll.path)

    def round(self, scratch: str) -> None:
        from crawling_vectordb_llm_spark.operators.bm25 import bm25_topk
        from crawling_vectordb_llm_spark.plans.generate import rag_generate
        from crawling_vectordb_llm_spark.plans.rag import search_pipeline

        spark, tr, coll = self.spark, self.tracer, self.coll
        with tr.span("vectorstore.upsert"):
            coll.upsert(spark.read.parquet(self.batch_path), build_index=False)
        with tr.span("vectorstore.build_index"):
            coll.build_index(incremental=True)
        # query ids below len(texts) are corpus texts (IVF recall against
        # exact), the rest are the batch just written (read-your-writes)
        texts, n = self.texts + [t for _, t in self.ryw], len(self.texts)
        with tr.span("vectorstore.search_exact"):
            exact = coll.search_by_text(texts, limit=TOP_K).toPandas()
        with tr.span("vectorstore.search_ivf"):
            ivf = coll.search_by_text(texts, limit=TOP_K, use_index=True).toPandas()
        top = ivf[ivf["rank"] == 1].set_index("query_id")["id"]
        self.hits += sum(int(top.get(n + q, -1)) == d for q, (d, _) in enumerate(self.ryw))
        self.asked += len(self.ryw)
        with tr.span("bm25.bm25_topk"):
            docs = spark.read.parquet(self.docs_path).where(f"doc_id < {self.size['docs']}")
            bm25 = bm25_topk(docs, self.bm25_queries, k=10).toPandas()
        with tr.span("rag.search_pipeline"):
            ctx = search_pipeline(spark, self.data_dir, n_queries=self.size["queries"]).toPandas()
        with tr.span("generate.rag_generate"):
            answers = rag_generate(
                spark.createDataFrame(ctx, "query_id long, context string, "
                                      "citations string, prompt string")
            ).toPandas()
        self.last = {"exact": exact, "bm25": bm25, "answers": answers}
        self.recalls.append(_recall(exact[exact["query_id"] < n], ivf[ivf["query_id"] < n]))

    def check(self) -> int:
        from crawling_vectordb_llm_spark.embedding import hash_encode_batch

        self.quality["fresh_hit_frac"] = self.hits / max(1, self.asked)
        self.quality["recall_at_k"] = float(np.mean(self.recalls))
        # the collection after one round (the prepared version, the
        # round's merged version and the index) over the bytes upserted
        self.quality["bytes_stored_per_input_byte"] = inputs.dir_bytes(self.coll.path) / (
            inputs.dir_bytes(self.corpus_path) + inputs.dir_bytes(self.batch_path)
        )
        # an incrementally assigned doc searched by its own text must come
        # back first; a miss means the write or the index lost it
        failed = self.asked - self.hits
        # exact hits of the last round vs numpy brute force over the
        # snapshot that round searched (no write happened since)
        stored = self.coll.documents().select("id", "vector").toPandas()
        ids = stored["id"].to_numpy()
        vectors = np.array(stored["vector"].tolist(), dtype=np.float64)
        exact = self.last["exact"]
        qvecs = hash_encode_batch([self.texts[i] for i in self.checked], 64)
        for qi, qv in zip(self.checked, qvecs):
            got = exact[exact["query_id"] == qi].sort_values("rank")
            failed += not _matches_brute_force(got, ids, vectors @ qv)
        failed += self.last["bm25"]["query_id"].nunique() != len(self.bm25_queries)
        answers = self.last["answers"]
        failed += len(answers) != self.size["queries"] or answers["response"].isna().any()
        return int(failed)


def _recall(exact: pd.DataFrame, ivf: pd.DataFrame) -> float:
    """Share of exact top-k ids the IVF search also returned, per query."""
    want = exact.groupby("query_id")["id"].apply(set)
    got = ivf.groupby("query_id")["id"].apply(set)
    return float(np.mean([len(w & got.get(q, set())) / len(w) for q, w in want.items()]))


def _matches_brute_force(got: pd.DataFrame, ids: np.ndarray, scores: np.ndarray) -> bool:
    """Exact hits equal a numpy brute-force top-k over the stored vectors:
    same scores, and the same ids wherever the score is not a tie."""
    order = np.lexsort((ids, -scores))[: TOP_K + 1]
    want_ids, want_scores = ids[order], scores[order]
    if len(got) != TOP_K or not np.allclose(got["score"], want_scores[:TOP_K], atol=1e-5):
        return False
    for r, gid in enumerate(got["id"]):
        tied = np.abs(want_scores - want_scores[r]) <= 1e-5
        if gid not in set(want_ids[tied]):
            return False
    return True


# ----------------------------------------------------------- curation_dedup


#: registered relational queries run by `curation_dedup`, a subset of
#: the suite: the TPC-H Q21 shape (correlated semi/anti joins), the
#: interval overlap join, a scan-filter-aggregate and a window top-k
SQL_QUERIES = ("tpch_q6_shape", "tpch_q21_shape", "interval_overlap_join", "window_rank_topk")


class CurationDedup(Workload):
    """LLM-data curation over one corpus: exact dedup, MinHash near-dup
    pairs → components, IVF-pruned top-k join → edges → components, and
    semantic dedup; then the analytics that go with it, registered
    relational queries over a seeded TPC-H-shaped fixture in a seeded
    order (one `suite.relational` span per query).  It calls no
    vectorstore code."""

    name = "curation_dedup"
    spans = (
        "dedup.exact_dedup_groups", "dedup.minhash_near_dup_pairs",
        "components.connected_components", "ivf.ivf_pruned_topk_join",
        "semdedup.semantic_dedup", "suite.relational",
    )
    sizes = {"docs": 4000, "vectors": 2000, "topk_k": 16, "lineitems": 60_000}
    round_s = 13.0
    # one-word near duplicates of short documents fall below the MinHash
    # tau; measured 0.97-0.99 across seeds
    quality_floor = {"dup_recall": 0.9}
    TAU = 0.9

    def prepare(self, data_dir: str) -> None:
        spark = self.spark
        self.docs_path = inputs.write_documents(spark, data_dir, self.size["docs"], self.seed)
        self.emb_path = inputs.write_embeddings(
            spark, data_dir, self.size["vectors"], self.seed, clustered=True
        )
        docs = pq.read_table(self.docs_path, columns=["doc_id", "text"]).to_pandas()
        self.truth = _planted_masters(docs)
        self.sql_dir = os.path.join(data_dir, "tpch")
        inputs.write_tpch_tables(self.sql_dir, self.size["lineitems"] / 6e6, self.seed)
        self.oracle = _oracle_results(self.sql_dir)
        self.data_dir = data_dir
        self.last: dict = {}
        self.admit: list[float] = []

    def round(self, scratch: str) -> None:
        from crawling_vectordb_llm_spark.operators.components import connected_components
        from crawling_vectordb_llm_spark.operators.dedup import (
            exact_dedup_groups,
            minhash_near_dup_pairs,
        )
        from crawling_vectordb_llm_spark.operators.ivf import ivf_pruned_topk_join
        from crawling_vectordb_llm_spark.operators.knn import topk_edges
        from crawling_vectordb_llm_spark.operators.semdedup import semantic_dedup
        from crawling_vectordb_llm_spark.suite import QUERIES

        spark, tr = self.spark, self.tracer
        docs = spark.read.parquet(self.docs_path)
        emb = spark.read.parquet(self.emb_path)
        pairs_path = os.path.join(scratch, "text_pairs")
        directed_path = os.path.join(scratch, "vector_topk")
        with tr.span("dedup.exact_dedup_groups"):
            groups = exact_dedup_groups(docs).toPandas()
        with tr.span("dedup.minhash_near_dup_pairs"):
            minhash_near_dup_pairs(docs).write.parquet(pairs_path)
        with tr.span("components.connected_components"):
            text_cc = connected_components(spark.read.parquet(pairs_path)).toPandas()
        stats: dict = {}
        with tr.span("ivf.ivf_pruned_topk_join"):
            ivf_pruned_topk_join(
                emb, tau=self.TAU, k=self.size["topk_k"], stats_out=stats
            ).write.parquet(directed_path)
        with tr.span("components.connected_components"):
            edges = topk_edges(spark.read.parquet(directed_path)).select("a_id", "b_id")
            vec_cc = connected_components(edges).toPandas()
        with tr.span("semdedup.semantic_dedup"):
            sem = semantic_dedup(emb, tau=self.TAU, n_clusters=32).toPandas()
        self.admit.append(float(stats.get("fine_admit_rate", float("nan"))))
        self.last = {"groups": groups, "text_cc": text_cc, "vec_cc": vec_cc, "sem": sem}
        for q in self.rng.permutation(SQL_QUERIES):
            with tr.span("suite.relational", detail=q):
                self.last[q] = QUERIES[q](spark, self.sql_dir).toPandas()

    def check(self) -> int:
        masters, hashes = self.truth
        last = self.last
        label = dict(zip(last["text_cc"]["node"], last["text_cc"]["component"]))
        hits = sum(label.get(d, d) == label.get(m, m) for d, m in masters.items())
        self.quality["dup_recall"] = hits / max(1, len(masters))
        self.quality["prune_admit_frac"] = float(np.nanmedian(self.admit))
        # every planted exact duplicate shares its master's exact group
        canon = dict(zip(last["groups"]["content_hash"], last["groups"]["canonical_id"]))
        min_id: dict[str, int] = {}
        for d, h in hashes.items():
            min_id[h] = min(min_id.get(h, d), d)
        failed = sum(
            canon.get(hashes[d]) != min_id[hashes[d]] for d in masters if d % 100 < 97
        )
        failed += len(last["sem"]) != self.size["vectors"]
        failed += last["vec_cc"]["node"].nunique() != len(last["vec_cc"])
        # each query's last result vs its DuckDB oracle over the same files
        for q in SQL_QUERIES:
            if not _same_rows(last[q], self.oracle[q]):
                print(f"curation_dedup: {q} differs from its DuckDB oracle", file=sys.stderr)
                failed += 1
        return int(failed)


def _planted_masters(docs: pd.DataFrame) -> tuple[dict[int, int], dict[int, str]]:
    """Map each planted duplicate (id % 100 >= 93) to its master original.

    Exact duplicates share the master's text.  A near duplicate is the
    master's words with one position replaced by the marker `dup`, so its
    first or its last five words are the master's, and it differs from
    the master in exactly one position."""
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].tolist()
    words = [t.split() for t in texts]
    originals = [i for i, d in enumerate(ids) if d % 100 < 93]
    by_text = {texts[i]: int(ids[i]) for i in originals}
    by_head = {tuple(words[i][:5]): i for i in originals}
    by_tail = {tuple(words[i][-5:]): i for i in originals}
    masters = {}
    for i, d in enumerate(ids):
        if d % 100 < 93:
            continue
        if d % 100 < 97:
            if texts[i] in by_text:
                masters[int(d)] = by_text[texts[i]]
            continue
        w = words[i]
        for j in (by_head.get(tuple(w[:5])), by_tail.get(tuple(w[-5:]))):
            if j is not None and len(words[j]) == len(w) and sum(
                a != b for a, b in zip(words[j], w)
            ) == 1:
                masters[int(d)] = int(ids[j])
                break
    hashes = {int(d): hashlib.md5(t.encode()).hexdigest() for d, t in zip(ids, texts)}
    return masters, hashes


def _oracle_results(sql_dir: str) -> dict[str, pd.DataFrame]:
    """Each relational query's DuckDB oracle SQL run over the fixture."""
    import duckdb

    from crawling_vectordb_llm_spark.suite import ORACLES

    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events"):
            path = os.path.join(sql_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {q: con.sql(ORACLES[q]).df() for q in SQL_QUERIES}
    finally:
        con.close()


def _same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality of two result sets.  Float columns
    match within 1e-6, the last place of the queries' own 6-dp rounding:
    Spark's and DuckDB's decimal paths can round one product to
    neighbouring 6-dp values.  Everything else must match exactly."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    floats = [c for c in want.columns
              if pd.api.types.is_float_dtype(want[c]) or pd.api.types.is_float_dtype(got[c])]
    others = sorted(c for c in want.columns if c not in floats)
    key = others + sorted(floats)
    got, want = (
        df.astype({c: str for c in others}).sort_values(key, kind="mergesort")
        .reset_index(drop=True)
        for df in (got, want)
    )
    return all((got[c] == want[c]).all() for c in others) and all(
        np.allclose(got[c].astype(float), want[c].astype(float), rtol=1e-12, atol=1e-6,
                    equal_nan=True)
        for c in floats
    )


QUALITY_UNITS = {
    "fresh_hit_frac": "fraction", "recall_at_k": "fraction",
    "bytes_stored_per_input_byte": "ratio", "dup_recall": "fraction",
    "prune_admit_frac": "fraction",
}
WORKLOADS = {w.name: w for w in (RagServe, CurationDedup)}
ALL_SPANS = tuple(dict.fromkeys(s for w in WORKLOADS.values() for s in w.spans))
