"""VectorCollection facade: the reference SDK contract end-to-end —
upsert (embed-on-write, overwrite-by-id), searchByText (batch, filtered,
indexed), build_index."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.vectorstore import VectorCollection

from .conftest import SF_SMALL


def _fresh(spark, tmp_path, **kw):
    docs = (
        read_table(spark, SF_SMALL, "documents")
        .where(F.col("doc_id") < 100)
        .select(
            F.concat(F.lit("https://x/"), F.col("doc_id").cast("string")).alias("id"),
            "text",
            "lang",
        )
    )
    coll = VectorCollection(spark, str(tmp_path / "coll"), dim=64, **kw)
    coll.upsert(docs, build_index=True)
    return coll, docs


def test_upsert_and_search_by_text(spark, tmp_path):
    coll, docs = _fresh(spark, tmp_path)
    assert coll.documents().count() == 100
    # query with a document's own text: that document must be rank 1
    target = docs.where(F.col("id") == "https://x/7").first()
    hits = coll.search_by_text([target["text"]], limit=3).collect()
    rank1 = [r for r in hits if r["rank"] == 1][0]
    assert rank1["id"] == "https://x/7"
    assert abs(rank1["score"] - 1.0) < 1e-6


def test_upsert_overwrites_by_id(spark, tmp_path):
    coll, docs = _fresh(spark, tmp_path)
    update = spark.createDataFrame(
        [("https://x/7", "completely new replacement text", "en")],
        "id string, text string, lang string",
    )
    coll.upsert(update)
    assert coll.documents().count() == 100  # overwrite, not append
    row = coll.documents().where(F.col("id") == "https://x/7").first()
    assert row["text"] == "completely new replacement text"
    # the new text now finds itself
    hits = coll.search_by_text(["completely new replacement text"], limit=1).collect()
    assert hits[0]["id"] == "https://x/7"


def test_filtered_search(spark, tmp_path):
    coll, docs = _fresh(spark, tmp_path)
    some_text = docs.first()["text"]
    hits = coll.search_by_text([some_text], limit=5, filter="lang = 'en'")
    ids = {r["id"] for r in hits.collect()}
    en_ids = {r["id"] for r in coll.documents().where("lang = 'en'").collect()}
    assert ids and ids <= en_ids


def test_indexed_search_matches_exact_mostly(spark, tmp_path):
    coll, docs = _fresh(spark, tmp_path, n_centroids=8)
    texts = [r["text"] for r in docs.limit(5).collect()]
    exact = {
        (r["query_id"], r["id"])
        for r in coll.search_by_text(texts, limit=5).collect()
    }
    approx = {
        (r["query_id"], r["id"])
        for r in coll.search_by_text(
            texts, limit=5, use_index=True, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_search_results_with_docs(spark, tmp_path):
    coll, docs = _fresh(spark, tmp_path)
    hits = coll.search_by_text([docs.first()["text"]], limit=3)
    enriched = coll.search_results_with_docs(hits)
    assert enriched.count() == 3
    assert {"text", "lang", "rank", "score"} <= set(enriched.columns)

def test_delete_by_id_versions_and_preserves_old_snapshot(spark, tmp_path):
    from crawling_vectordb_llm_spark.vectorstore import VectorCollection

    coll = VectorCollection(spark, str(tmp_path / "c"), dim=16, shards=2)
    docs = spark.createDataFrame(
        [(f"u{i}", f"text number {i} alpha beta", f"t{i}") for i in range(10)],
        "id string, text string, title string",
    )
    coll.upsert(docs, build_index=False)
    before = coll.documents()  # pins version 1
    v = coll.delete(["u3", "u7"])
    assert v == 2
    remaining = {r["id"] for r in coll.documents().select("id").collect()}
    assert remaining == {f"u{i}" for i in range(10)} - {"u3", "u7"}
    # pinned pre-delete snapshot still contains the deleted rows
    assert before.count() == 10


def test_indexed_search_excludes_deleted_ids(spark, tmp_path):
    """ADVICE r1 regression: after delete() (default build_index=False) an
    UNFILTERED indexed search must not surface the deleted ids — the
    search ranks the post-delete snapshot itself."""
    coll, docs = _fresh(spark, tmp_path, n_centroids=4)
    texts = [r["text"] for r in docs.limit(5).collect()]
    deleted = ["https://x/0", "https://x/3"]
    coll.delete(deleted)  # build_index stays False: no refit, no rewrite
    hits = coll.search_by_text(texts, limit=5, use_index=True, n_probe=4)
    ids = {r["id"] for r in hits.collect()}
    assert ids and not (ids & set(deleted))


def test_indexed_search_scores_current_vectors_after_upsert(spark, tmp_path):
    """A doc re-upserted with new text (index NOT rebuilt) must be scored by
    its current embedding, not the one it had before the update."""
    coll, docs = _fresh(spark, tmp_path, n_centroids=4)
    new_text = "entirely different replacement content xyz"
    update = spark.createDataFrame(
        [("https://x/7", new_text, "en")], "id string, text string, lang string"
    )
    coll.upsert(update, build_index=False)
    # indexed search for the OLD text must not return a perfect 1.0 for x/7
    old_text = docs.where(F.col("id") == "https://x/7").first()["text"]
    hits = coll.search_by_text([old_text], limit=100, use_index=True, n_probe=4)
    x7 = [r for r in hits.collect() if r["id"] == "https://x/7"]
    assert all(abs(r["score"] - 1.0) > 1e-6 for r in x7)


def test_incremental_index_update_finds_new_docs(spark, tmp_path):
    """upsert(build_index=False) on an indexed collection assigns the
    ingest rows to the EXISTING centroids as it writes them — new docs
    become indexed-search visible without a full rebuild, and the
    centroid table is untouched."""
    import numpy as np

    coll, docs = _fresh(spark, tmp_path, n_centroids=4)
    cents_before = coll._load_centroids().copy()

    new = spark.createDataFrame(
        [("https://y/1", "totally novel incremental document body", "en")],
        "id string, text string, lang string",
    )
    coll.upsert(new, build_index=False)
    assert np.array_equal(coll._load_centroids(), cents_before)

    hits = coll.search_by_text(
        ["totally novel incremental document body"], limit=3,
        use_index=True, n_probe=4,
    ).collect()
    top = [r for r in hits if r["rank"] == 1][0]
    assert top["id"] == "https://y/1"
    assert abs(top["score"] - 1.0) < 1e-6


def test_indexed_search_from_fresh_session_instance(spark, tmp_path):
    """Centroids persist with the index: a NEW VectorCollection object on
    the same path answers indexed searches without retraining (the
    cross-session / cross-node story)."""
    coll, docs = _fresh(spark, tmp_path, n_centroids=4)
    target = docs.where(F.col("id") == "https://x/9").first()

    fresh = VectorCollection(
        spark, coll.path, dim=64, n_centroids=4
    )
    assert fresh.centroids is None
    hits = fresh.search_by_text(
        [target["text"]], limit=3, use_index=True
    ).collect()
    assert [r for r in hits if r["rank"] == 1][0]["id"] == "https://x/9"


def test_updated_doc_is_found_in_its_new_cell(spark, tmp_path):
    """An update without a rebuild moves the doc to the cell of its new
    vector: probing that one cell finds it (a cell kept from before the
    update would hide it)."""
    coll, docs = _fresh(spark, tmp_path, n_centroids=8)

    def cell_of_x7():
        return coll.documents().where("id = 'https://x/7'").first()["centroid_id"]

    old_cell = cell_of_x7()
    new_text = "zebra quantum harbor"
    update = spark.createDataFrame(
        [("https://x/7", new_text, "en")], "id string, text string, lang string"
    )
    coll.upsert(update, build_index=False)
    assert cell_of_x7() != old_cell
    hits = coll.search_by_text([new_text], limit=1, use_index=True, n_probe=1).collect()
    assert hits[0]["id"] == "https://x/7"
    assert abs(hits[0]["score"] - 1.0) < 1e-6


def test_fresh_instance_upsert_assigns_stored_cells(spark, tmp_path):
    """A new VectorCollection on an indexed path loads the persisted
    centroids for its first write, so its rows are indexed at once."""
    coll, _ = _fresh(spark, tmp_path, n_centroids=4)
    fresh = VectorCollection(spark, coll.path, dim=64, n_centroids=4)
    text = "a document written by a second collection instance"
    fresh.upsert(
        spark.createDataFrame(
            [("https://z/1", text, "en")], "id string, text string, lang string"
        ),
        build_index=False,
    )
    hits = fresh.search_by_text([text], limit=3, use_index=True).collect()
    assert [r for r in hits if r["rank"] == 1][0]["id"] == "https://z/1"


def test_indexed_search_plan_has_no_join(spark, tmp_path):
    """The cell is a column of the collection: an indexed search scans
    the snapshot alone — no join in the executed plan and no side table
    on disk."""
    import os

    coll, docs = _fresh(spark, tmp_path, n_centroids=4)
    hits = coll.search_by_text([docs.first()["text"]], limit=3, use_index=True)
    assert len(hits.collect()) == 3
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan  # the indexed path ran
    assert "Join" not in plan, plan
    assert not os.path.exists(os.path.join(coll.path, "ivf_assignment"))


def test_upsert_embeds_each_doc_once(spark, tmp_path):
    """An upsert encodes each incoming doc once: a full build fits the
    centroids and writes the rows from one evaluation of the embedding,
    and the merge's id-only anti-join side runs no embedding."""
    from crawling_vectordb_llm_spark.embedding import hash_encode_batch

    encoded = spark.sparkContext.accumulator(0)

    def counting_encoder(texts, dim):
        encoded.add(len(texts))
        return hash_encode_batch(texts, dim)

    coll = VectorCollection(
        spark, str(tmp_path / "c"), dim=16, n_centroids=4, encode_batch=counting_encoder
    )
    docs = spark.createDataFrame(
        [(f"u{i}", f"text number {i} alpha beta") for i in range(50)],
        "id string, text string",
    )
    coll.upsert(docs, build_index=True)
    assert encoded.value == 50
    coll.upsert(docs.where(F.col("id").startswith("u1")), build_index=True)  # 11 docs
    assert encoded.value == 61
    coll.upsert(docs.where(F.col("id").startswith("u2")), build_index=False)
    assert encoded.value == 72
    assert coll.documents().count() == 50


def test_collection_without_manifest_is_refused(spark, tmp_path):
    """A collection written before versions carried a manifest (a flat
    snapshot): upsert, delete and search raise ValueError naming the path
    before anything is written, and the pointer does not move."""
    from crawling_vectordb_llm_spark import versioning as V

    coll, _ = _fresh(spark, tmp_path, n_centroids=4)
    old = coll.documents().repartition(coll.shards, "id")
    version = V.versioned_write(old, coll._table)  # no manifest
    text = "a late arrival about harbor zebras"
    new = spark.createDataFrame(
        [("https://y/1", text, "en")], "id string, text string, lang string"
    )
    for call in (
        lambda: coll.upsert(new, build_index=False),
        lambda: coll.upsert(new, build_index=True),
        lambda: coll.delete(["https://x/1"]),
        lambda: coll.search_by_text([text]),
        lambda: coll.search_by_text([text], use_index=True),
    ):
        with pytest.raises(ValueError, match="predates the manifest layout") as e:
            call()
        assert coll.path in str(e.value)
    assert V.latest_version(coll._table) == version
    assert not [d for d in os.listdir(coll._table) if d.startswith("_stage_")]


def test_duplicate_ids_in_one_batch_keep_a_fixed_row(spark, tmp_path):
    """Within one batch the row kept for an id is fixed (the greatest by
    the batch's columns in order), whatever the batch's partitioning: the
    same duplicate-key batch gives the same collection at 1, 3 and 7
    input partitions, written as a base and folded into a delta."""
    rows = [(f"k{i % 5}", f"write {i:03d} to key {i % 5}", i % 7) for i in range(250)]
    want = {}
    for row in sorted(rows):
        want[row[0]] = row
    got = []
    for n in (1, 3, 7):
        batch = spark.createDataFrame(rows, "id string, text string, n int").repartition(n)
        coll = VectorCollection(spark, str(tmp_path / f"p{n}"), dim=8)
        coll.upsert(batch, build_index=False)          # a base
        first = sorted(tuple(r) for r in coll.documents().select("id", "text", "n").collect())
        coll.upsert(batch.where("n > 0"), build_index=False)  # into a delta
        got.append((first, sorted(
            tuple(r) for r in coll.documents().select("id", "text", "n").collect()
        )))
    assert got[0] == got[1] == got[2]
    assert got[0][0] == sorted(want.values())
