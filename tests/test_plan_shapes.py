"""Physical-plan regression tests — the scale contract.

Correct results are necessary but not sufficient: these assert the PLANS
stay right (pushdown reaches the scan, small dims broadcast, top-k avoids
full sorts, the as-of join shuffles exactly once).  A regression here is a
100 TB performance bug even when sf0.01 results stay correct.
"""

from __future__ import annotations

import pytest

from crawling_vectordb_llm_spark.suite import QUERIES

from .conftest import SF_MEDIUM, SF_SMALL


def plan_of(spark, name: str, execute: bool = False) -> str:
    df = QUERIES[name](spark, SF_MEDIUM)
    if execute:  # AQE reveals the final (codegen-annotated) plan only then
        df.collect()  # count() would plan a DIFFERENT query; collect this one
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushed_to_scan(spark):
    plan = plan_of(spark, "filter_project")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # column pruning: the 11-column table scans only the 6 needed columns
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    cols = scan.split("FileScan parquet [", 1)[1].split("]", 1)[0].split(",")
    assert len(cols) == 6, cols
    assert plan.count("Exchange") == 0  # pure map job: no shuffle at all


def test_dim_joins_broadcast(spark):
    assert "BroadcastHashJoin" in plan_of(spark, "join_broadcast")
    multi = plan_of(spark, "join_multiway")
    # customer/nation/region ride broadcasts; only lineitem<->orders shuffles
    assert multi.count("BroadcastHashJoin") >= 3


def test_semi_join_broadcasts(spark):
    plan = plan_of(spark, "semi_join")
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_global_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0


def test_hash_agg_has_partial_phase(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "partial_" in plan  # map-side combine before the single shuffle
    assert plan.count("Exchange") == 1


def test_knn_sql_broadcasts_queries(spark):
    plan = plan_of(spark, "knn_topk_sql")
    assert "BroadcastNestedLoopJoin" in plan
    # corpus side scans only (vec_id, embedding)
    assert "PushedFilters" in plan


def test_asof_join_single_shuffle(spark):
    plan = plan_of(spark, "asof_join")
    assert plan.count("Exchange") == 1  # one hash partition on user_id
    assert "Window" in plan


def test_no_cartesian_products_anywhere(spark):
    for name in (
        "join_broadcast",
        "join_multiway",
        "semi_join",
        "anti_join",
        "range_join_bands",
    ):
        assert "CartesianProduct" not in plan_of(spark, name), name


@pytest.mark.parametrize(
    "name", ["pricing_summary", "join_broadcast", "window_rank_topk"]
)
def test_whole_stage_codegen_active(spark, name):
    # "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert "*(1)" in plan_of(spark, name, execute=True)

def test_sequence_packing_single_shuffle(spark):
    """Packing must shuffle exactly once (hash by shard), never globally:
    a single-partition global cumsum would be the 100 TB deathtrap."""
    plan = plan_of(spark, "sequence_packing")
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan


def test_quality_band_bounds_broadcast(spark):
    """The per-lang percentile bounds table must ride a broadcast back
    onto the corpus — no full-data window, no second corpus shuffle."""
    plan = plan_of(spark, "quality_band_filter")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_interval_overlap_stays_equi_join(spark):
    """Banding must plan as a HASH join on (supplier, week) with the
    overlap predicate as a join-condition filter — a
    BroadcastNestedLoopJoin or CartesianProduct here means the band keys
    stopped matching and the join degenerated to the O(n^2) theta form."""
    plan = plan_of(spark, "interval_overlap_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan
    # the interval table is checkpointed (both self-join sides read it),
    # so the pruned FileScan sits behind the RDD scan boundary here; scan
    # pruning itself is pinned by test_filter_and_projection_pushed_to_scan


def test_dsir_model_broadcasts_back(spark):
    """The 4096-row hashed-bigram model must ride a broadcast onto the
    feature stream; the corpus itself shuffles only for the final
    per-doc mean."""
    plan = plan_of(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan


def test_url_canonicalize_is_map_only(spark):
    """The whole regexp chain must fuse into the scan projection — any
    Exchange here is a planner regression (it's a pure per-row op)."""
    plan = plan_of(spark, "url_canonicalize")
    assert "Exchange" not in plan


def test_hll_rolling_shuffles_raw_events_once(spark):
    """Raw events collapse to distinct (type, day, user) triples in ONE
    up-front shuffle (checkpointed); everything downstream — the sketch
    build, the 7-day union, and the in-query exact-verification branch —
    exchanges only day-level / triple-level rows, never raw event
    columns."""
    plan = plan_of(spark, "rolling_distinct_users_hll")
    assert "hll_union_agg" in plan
    # the raw-event scan was collapsed into the checkpointed triple table:
    # no FileScan of events remains in the final plan
    assert "FileScan" not in plan
    assert "BroadcastExchange" in plan
    # no exchange keys on raw event columns (ts/value/event_id/props)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "event_id" not in line and "value#" not in line
            assert "ts#" not in line and "props" not in line


def test_tpch_q6_all_predicates_pushed_scan_only(spark):
    """Q6 is the pure scan query: every range predicate must reach the
    parquet reader, the projection must prune to the 4 used columns, and
    the single global aggregate needs exactly one exchange."""
    import contextlib
    import io

    df = QUERIES["tpch_q6_shape"](spark, SF_MEDIUM)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")  # formatted mode prints filters untruncated
    plan = buf.getvalue()
    assert "PushedFilters:" in plan
    for f in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert f in plan, f
    schema = next(
        l for l in plan.splitlines() if l.strip().startswith("ReadSchema")
    )
    assert schema.count(":") - 1 == 4, schema  # 4 pruned columns
    import re as _re

    # formatted mode names each node once in the tree and once in the
    # detail section — count the detail headers
    n_exchanges = len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M))
    assert n_exchanges == 1  # partial agg -> single final agg


def test_tpch_q5_snowflake_broadcasts_every_dim(spark):
    """Every dimension (customer, supplier, nation, region) must ride a
    broadcast; at sf0.01 even orders is small enough that AQE broadcasts
    the fact-fact join too, so only the broadcast count is pinned (plus:
    no cartesian anywhere)."""
    plan = plan_of(spark, "tpch_q5_shape")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_tpch_q10_topk_avoids_full_sort(spark):
    plan = plan_of(spark, "tpch_q10_shape")
    assert "TakeOrderedAndProject" in plan


def test_tpch_q4_exists_becomes_semi_join(spark):
    plan = plan_of(spark, "tpch_q4_shape")
    assert "LeftSemi" in plan


def test_tpch_q16_not_in_becomes_broadcast_anti(spark):
    plan = plan_of(spark, "tpch_q16_shape")
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_tpch_q21_single_aggregate_no_self_join(spark):
    """The EXISTS/NOT-EXISTS pair is decorrelated into ONE per-order
    aggregate — the plan must scan lineitem exactly once (the textbook
    formulation scans it three times)."""
    plan = plan_of(spark, "tpch_q21_shape")
    assert sum("FileScan" in l and "lineitem" in l for l in plan.splitlines()) == 1


def test_star_round_never_materializes_a_neighborhood(spark):
    """CC star rounds must compute per-node minima as a PARTIAL-AGGREGABLE
    scalar + equi-join, never a collect_set neighborhood array: on a
    converged component every edge points at the component min, so one
    node's 'array' is the whole component — the r10 sf9 run measured
    167 s/round in that buffer vs 3.5 s for the min+join form (per-round
    figures: SCALE.md round-10 instrumentation, prose-only; the checked-in
    artifacts CC_MODE_PREFIX_r10.json / CC_MODE_r10.json record the
    whole-fixpoint medians, 201 s vs 8.2 s on the same sf9 star)."""
    from pyspark.sql import functions as F

    from crawling_vectordb_llm_spark.operators.components import _star_round

    star = spark.range(1, 2000).select(F.col("id").alias("u"), F.lit(0).alias("v"))
    for large in (True, False):
        df = _star_round(star, large=large)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "collect_set" not in plan, plan[:800]
        assert "Generate explode" not in plan, plan[:800]
        # the min must reach a partial (map-side) aggregate
        assert "partial_min" in plan or "partial_least" in plan, plan[:800]


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_driver_built_frames_are_local_scans(spark):
    """A frame built on the driver must not be a Scan ExistingRDD: that
    is a Python RDD, and every one of its tasks runs in a Python worker."""
    from crawling_vectordb_llm_spark.session import local_frame

    full = local_frame(spark, [(1, "a", [0.5])], "k bigint, t string, v array<double>")
    empty = local_frame(spark, [], "k bigint, t string, v array<double>")
    for df in (full, empty):
        assert "LocalTableScan" in _executed(df) and "ExistingRDD" not in _executed(df)
    assert full.collect()[0].asDict() == {"k": 1, "t": "a", "v": [0.5]}
    assert empty.collect() == [] and empty.schema == full.schema


def test_bm25_term_table_is_a_local_scan(spark):
    from crawling_vectordb_llm_spark.catalog import read_table
    from crawling_vectordb_llm_spark.operators.bm25 import bm25_topk

    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    plan = _executed(bm25_topk(docs, [(0, "the data"), (1, "spark")], k=3))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_fold_onto_a_base_scans_no_python_rdd(spark, tmp_path):
    """Every upsert onto a base folds an empty previous delta; that empty
    side must not be a Python RDD."""
    from pyspark.sql import functions as F

    from crawling_vectordb_llm_spark.vectorstore import VectorCollection

    coll = VectorCollection(spark, str(tmp_path / "coll"), dim=8, n_centroids=2)
    coll.upsert(
        spark.range(20).select(
            F.col("id").cast("string").alias("id"),
            F.lit("t").alias("title"),
            F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
        ),
        build_index=False,
    )
    m = coll._manifest()
    assert m["kind"] == "base"
    change = coll._scan(m).limit(3).withColumn("_deleted", F.lit(False))
    plan = _executed(coll._fold(m, change))
    assert "ExistingRDD" not in plan
