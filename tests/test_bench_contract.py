"""Bench output contract (VERDICT r13 #8): the one-line JSON the driver
parses must be the LAST thing bench.py prints, as exactly one parseable
line — round 12's driver tail capture cut off before the headline line
and the round lost its round-over-round comparison entirely."""

from __future__ import annotations

import ast
import io
import json
import os
from contextlib import redirect_stdout

import bench


def test_emit_headline_line_is_one_parseable_line():
    payload = {
        "metric": "headline_queries_total_time",
        "value": 1.23,
        "unit": "sec",
        "queries": {"knn_topk": 0.5},
        "sf": 0.1,
        "n": 3,
        "streaming": {"tws": {"rows": 1}},
    }
    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.emit_headline_line(payload)
    out = buf.getvalue()
    assert out.endswith("\n") and out.count("\n") == 1
    assert json.loads(out.strip()) == payload


def test_emit_is_the_last_statement_of_main():
    """Source-level pin: no statement follows the emit call in main(), so
    nothing can ever print after the headline line."""
    src = open(os.path.join(os.path.dirname(bench.__file__), "bench.py")).read()
    tree = ast.parse(src)
    main_fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "main"
    )
    last = main_fn.body[-1]
    assert isinstance(last, ast.Expr) and isinstance(last.value, ast.Call)
    assert getattr(last.value.func, "id", "") == "emit_headline_line"


def test_headline_queries_all_registered():
    from crawling_vectordb_llm_spark.suite import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing


def test_run_query_leaves_an_empty_cache(spark):
    """Every timed rep starts cold: a query that persists must not leave
    its cache entry for the next rep of the same query to read."""

    def persisting_query(spark, sf_dir):
        return spark.range(100).selectExpr("id * 2 AS x").persist()

    for _ in range(2):
        took, _ = bench.run_query(persisting_query, spark, "unused")
        assert took >= 0
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_warm_rep_compile_counts_ride_bench_full(spark):
    """run_query counts the classes each rep compiled; a warm rep of a
    repeated query compiles none.  BENCH_FULL adds the per-rep counts
    under `warm_codegen_compiles` and keeps every headline field as is."""

    def query(spark, sf_dir):
        return spark.range(1000).selectExpr("id % 13 AS k").groupBy("k").count()

    bench.run_query(query, spark, "unused")
    _, compiled = bench.run_query(query, spark, "unused")
    assert compiled == 0

    payload = {"metric": "headline_queries_total_time", "value": 1.0, "queries": {"q": 1.0}}
    full = bench.full_artifact(payload, {"q": [0, 0, 0]})
    assert {k: full[k] for k in payload} == payload
    assert full["warm_codegen_compiles"] == {"q": [0, 0, 0]}
