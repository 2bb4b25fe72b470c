"""Merge-on-read, the collection's one layout (vectorstore.py): a base plus
at most one cumulative delta, each version with a manifest.  Upserts and
deletes land as O(|change|) deltas; a read resolves base + delta in one
plan with last-writer-wins; the MAX_DELTA_WRITES-th write since the base,
index builds and compaction write a new base; old snapshots stay pinned."""

from __future__ import annotations

import random
import uuid
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark import versioning as V
from crawling_vectordb_llm_spark.vectorstore import MAX_DELTA_WRITES, VectorCollection


def _docs(spark, ids, tag):
    return spark.createDataFrame(
        [(i, f"{tag} title {i}", f"{tag} text body {i}") for i in ids],
        "id long, title string, text string",
    )


def _coll(spark, tmp_path, n=1000):
    coll = VectorCollection(spark, str(tmp_path / "coll"), dim=16, n_centroids=4)
    coll.upsert(_docs(spark, range(n), "base"), build_index=False)
    return coll


def _jobs(spark, fn) -> int:
    """Spark jobs that `fn()` starts, counted by job group."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mor_upsert_delete_resolution(spark, tmp_path):
    coll = _coll(spark, tmp_path)
    coll.delete(list(map(str, range(100))))  # ids 0..99
    # upsert: overwrite ids 500..549, insert 2000..2009
    coll.upsert(_docs(spark, [*range(500, 550), *range(2000, 2010)], "delta"),
                build_index=False)
    assert V.latest_version(coll._table) == 3
    assert coll.delta_chain_length() == 2

    got = coll.documents()
    assert got.count() == 1000 - 100 + 10
    assert got.where(F.col("id") < 100).count() == 0           # deleted
    over = got.where((F.col("id") >= 500) & (F.col("id") < 550))
    assert over.where(F.col("title").startswith("delta")).count() == 50  # last write wins
    assert got.where(F.col("id") >= 2000).count() == 10        # inserts
    assert got.where(F.col("id") == 400).first()["title"] == "base title 400"


def test_mor_time_travel_and_compaction(spark, tmp_path):
    coll = _coll(spark, tmp_path, 200)
    coll.delete(list(map(str, range(50))))
    before = coll.documents().orderBy("id").collect()

    # time travel: v1 still sees the full base
    assert coll.documents(version=1).count() == 200
    assert coll.documents(version=2).count() == 150

    assert coll.compact() == 3
    assert coll.delta_chain_length() == 0  # delta folded
    after = coll.documents().orderBy("id").collect()
    assert [r.asDict() for r in before] == [r.asDict() for r in after]
    # pinned old versions still resolve after compaction
    assert coll.documents(version=1).count() == 200
    assert coll.documents(version=2).count() == 150


def test_mor_read_is_lazy_and_prunable(spark, tmp_path):
    """The resolved view is a plan, not a materialization: a filter on the
    key column reaches the base file scan (pushdown through the
    anti-join and the union)."""
    coll = _coll(spark, tmp_path)
    coll.delete(list(map(str, range(10))))
    df = coll.documents().where(F.col("id") > 900)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,900)" in plan
    assert df.count() == 99


def test_vector_collection_mor_mode(spark, tmp_path):
    """Upserts and deletes are delta versions whose manifests name their
    base, search answers from the resolved view, and compact folds the
    delta into a base with the same content."""
    coll = _coll(spark, tmp_path, 100)
    coll.upsert(_docs(spark, range(50, 120), "v2"), build_index=False)  # 50-99 overwritten
    coll.delete([str(i) for i in range(10)])                            # 0-9 gone
    assert coll.delta_chain_length() == 2
    assert [(m["kind"], m["base"]) for m in map(coll._manifest, (1, 2, 3))] == [
        ("base", 1), ("delta", 1), ("delta", 1)
    ]

    got = coll.documents()
    assert got.count() == 110  # 120 - 10 deleted
    assert got.where(F.col("id") == 5).count() == 0
    assert got.where(F.col("id") == 60).first()["title"].startswith("v2")
    assert got.where(F.col("id") == 20).first()["title"].startswith("base")

    # search runs against the resolved view; the build writes a new base
    coll.build_index()
    assert coll.delta_chain_length() == 0
    hits = coll.search_by_text(["v2 text body 60"], limit=3)
    assert hits.where("rank = 1").first()["id"] == 60

    before = sorted(r["id"] for r in got.select("id").collect())
    coll.upsert(_docs(spark, [7], "v3"), build_index=False)
    coll.compact()
    assert coll.delta_chain_length() == 0
    after = sorted(r["id"] for r in coll.documents().select("id").collect())
    assert after == sorted([*before, 7])


def test_vacuum_is_mor_aware(spark, tmp_path):
    """ADVICE r1 regression: vacuum(keep=N) never deletes the base a
    retained delta resolves through.  A delta holds every change since
    its base, so the deltas between the two are not needed."""
    coll = _coll(spark, tmp_path, 100)                  # v1 base
    for lo in (0, 10, 20):                              # v2..v4 deltas
        coll.delete([str(i) for i in range(lo, lo + 10)])

    assert V.vacuum(coll._table, keep=2) == [2]  # v3, v4 retained need v1
    assert coll.documents().count() == 70
    assert coll.documents(version=3).count() == 80

    # compact (v5 base) + one more delta (v6): keep=2 retains v5..v6 whose
    # base IS v5, so everything older goes
    coll.compact()                                      # v5 base
    coll.delete([str(i) for i in range(30, 40)])        # v6 delta
    assert V.vacuum(coll._table, keep=2) == [1, 3, 4]
    assert coll.documents().count() == 60


def test_reads_start_no_job_and_search_jobs_do_not_grow(spark, tmp_path):
    """Every read passes the manifest's schema, so building the snapshot
    starts no Spark job; an exact search runs the same jobs at one write
    since the base as at the most a delta holds, and at most 3."""
    coll = _coll(spark, tmp_path, 200)
    texts = ["base text body 3", "base text body 150"]

    def search():
        return coll.search_by_text(texts, limit=3).collect()

    coll.upsert(_docs(spark, range(200, 210), "w1"), build_index=False)
    assert coll.delta_chain_length() == 1
    assert _jobs(spark, coll.documents) == 0
    at_one = _jobs(spark, search)
    for w in range(2, MAX_DELTA_WRITES):
        coll.upsert(_docs(spark, range(200 + 10 * w, 210 + 10 * w), f"w{w}"),
                    build_index=False)
    assert coll.delta_chain_length() == MAX_DELTA_WRITES - 1
    assert _jobs(spark, coll.documents) == 0
    at_most = _jobs(spark, search)
    assert at_one == at_most <= 3, (at_one, at_most)


def test_random_writes_match_a_dict_model(spark, tmp_path):
    """A seeded random sequence of upserts (new and existing ids,
    duplicate ids within a batch), deletes (present and absent ids,
    delete-then-reupsert, upsert-then-delete), index builds and
    compactions, long enough to cross the base threshold twice: after
    every write, the current snapshot and every earlier version equal a
    dict model, and the delta's length follows the base rule.  Then
    vacuum(keep=2) leaves every retained version readable."""
    rng = random.Random(12)
    coll = VectorCollection(spark, str(tmp_path / "coll"), dim=8, n_centroids=4)
    words = "alpha beta gamma delta harbor zebra quantum river stone cloud".split()
    model: dict[int, str] = {}
    models: dict[int, dict[int, str]] = {}
    chain = crossings = 0

    def text():
        return " ".join(rng.choice(words) for _ in range(4))

    def check(full):
        nonlocal chain, crossings
        if full or not models:
            chain = 0
        elif chain + 1 == MAX_DELTA_WRITES:
            chain, crossings = 0, crossings + 1
        else:
            chain += 1
        assert coll.delta_chain_length() == chain
        models[V.latest_version(coll._table)] = dict(model)
        snaps = reduce(DataFrame.unionByName, [
            coll.documents(v).select(F.lit(v).alias("v"), "id", "text") for v in models
        ]).collect()
        for v, want in models.items():
            assert {r["id"]: r["text"] for r in snaps if r["v"] == v} == want, v

    def upsert(rows, build_index=False):
        for i, t in sorted(rows):  # within a batch the greatest row wins
            model[i] = t
        coll.upsert(spark.createDataFrame(rows, "id long, text string"), build_index)
        check(build_index)

    def delete(ids):
        for i in ids:
            model.pop(i, None)
        coll.delete([str(i) for i in ids])
        check(False)

    def plain(n):  # writes that land in the delta, or cross the threshold
        return [rng.choice(["upsert", "upsert", "delete"]) for _ in range(n)]

    ops = (["upsert"] * 3 + ["reupsert_deleted", "delete_new"] + plain(MAX_DELTA_WRITES)
           + ["build"] + plain(MAX_DELTA_WRITES) + ["compact"] + plain(2)
           + ["upsert_build"] + plain(2))
    for op in ops:
        if op.startswith("upsert"):
            ids = rng.sample(range(40), 5)
            upsert([(i, text()) for i in ids] + [(ids[0], text())], op == "upsert_build")
        elif op == "delete":
            delete(rng.sample(range(45), 3))  # some never written
        elif op == "reupsert_deleted":
            delete([1])
            upsert([(1, "reborn " + text())])
        elif op == "delete_new":
            upsert([(100, text())])
            delete([100])
        else:
            coll.build_index() if op == "build" else coll.compact()
            check(True)
    assert crossings >= 2

    assert V.vacuum(coll._table, keep=2)
    for v in V.list_versions(coll._table):
        got = {r["id"]: r["text"] for r in coll.documents(v).select("id", "text").collect()}
        assert got == models[v], v
