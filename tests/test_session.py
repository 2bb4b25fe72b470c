"""Session defaults sized from the host, and the compile-once contract:
the compiled-class cache holds the engine's working set, so a plan shape
that repeats within a session is not compiled again."""

from __future__ import annotations

import warnings

import pytest

from crawling_vectordb_llm_spark import shipping
from crawling_vectordb_llm_spark.catalog import read_table
from crawling_vectordb_llm_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
    CODEGEN_CACHE_FLOOR,
    codegen_compiles,
    default_driver_memory,
)

from .conftest import SF_SMALL

GIB = 2**30


def test_default_driver_memory_is_half_the_ram_capped_at_24g():
    # a "16 GB" host: MemTotal 16479424 kB, 15.7 GiB
    assert default_driver_memory(16479424 * 1024) == "7g"
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(128 * GIB) == "24g"  # the cap
    assert default_driver_memory(48 * GIB) == "24g"
    assert default_driver_memory(1 * GIB) == "1g"  # the floor


def test_get_spark_codegen_cache_covers_the_floor(spark):
    assert CODEGEN_CACHE_ENTRIES >= CODEGEN_CACHE_FLOOR
    assert int(spark.conf.get(CODEGEN_CACHE_CONF)) == CODEGEN_CACHE_ENTRIES


def _curation_sequence(spark) -> None:
    """The operators of one curation round, at fixture scale."""
    from crawling_vectordb_llm_spark.operators.components import connected_components
    from crawling_vectordb_llm_spark.operators.dedup import minhash_near_dup_pairs
    from crawling_vectordb_llm_spark.operators.ivf import ivf_pruned_topk_join
    from crawling_vectordb_llm_spark.operators.semdedup import semantic_dedup
    from crawling_vectordb_llm_spark.suite import QUERIES

    docs = read_table(spark, SF_SMALL, "documents")
    emb = read_table(spark, SF_SMALL, "embeddings")
    connected_components(minhash_near_dup_pairs(docs)).toPandas()
    ivf_pruned_topk_join(emb, tau=0.9, k=8).toPandas()
    semantic_dedup(emb, tau=0.9, n_clusters=8).toPandas()
    QUERIES["tpch_q6_shape"](spark, SF_SMALL).toPandas()


def test_repeated_curation_sequence_compiles_nothing(spark):
    _curation_sequence(spark)
    before = codegen_compiles(spark)
    _curation_sequence(spark)
    assert codegen_compiles(spark) - before == 0


def test_bm25_over_a_grown_corpus_compiles_nothing(spark):
    """The corpus constants (n, avgdl) change as the corpus grows; they
    must reach the plan as data, not as literals in generated code."""
    from crawling_vectordb_llm_spark.operators.bm25 import bm25_topk

    rows = [(i, f"spark engine doc{i % 7} " + "data " * (i % 5)) for i in range(60)]
    queries = [(0, "spark data"), (1, "engine doc3")]

    def corpus(n):
        return spark.createDataFrame(rows[:n], "doc_id long, text string")

    bm25_topk(corpus(40), queries, k=3).collect()
    before = codegen_compiles(spark)
    grown = bm25_topk(corpus(60), queries, k=3).collect()
    assert codegen_compiles(spark) - before == 0
    assert {r["query_id"] for r in grown} == {0, 1}


class _Conf(dict):
    def set(self, key, value):
        self[key] = value


class _Session:
    """Just what ensure_session_confs reads and sets."""

    def __init__(self, cap: int):
        self.conf = _Conf({CODEGEN_CACHE_CONF: str(cap)})
        self.sparkContext = object()


def test_small_codegen_cache_warns_once_naming_conf_and_floor():
    msg = shipping.codegen_cache_warning(100)
    assert CODEGEN_CACHE_CONF in msg and str(CODEGEN_CACHE_FLOOR) in msg
    assert shipping.codegen_cache_warning(CODEGEN_CACHE_FLOOR) is None

    small = _Session(100)
    with pytest.warns(RuntimeWarning, match=CODEGEN_CACHE_CONF):
        shipping.ensure_session_confs(small)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        shipping.ensure_session_confs(small)  # once per context
        shipping.ensure_session_confs(_Session(CODEGEN_CACHE_ENTRIES))


def test_lazy_zip_directories_in_a_worker(spark, tmp_path):
    """Inside a Python worker, after the package import has installed the
    lazy directories (Python < 3.13): invalidating re-reads no zip
    directory, a zip put on sys.path afterwards imports, and a zip
    rewritten and invalidated exposes its new module.  On 3.13 and later
    the install leaves zipimporter as it is."""
    import json

    late = str(tmp_path / "late.zip")

    def probe(batches):
        import importlib
        import sys
        import zipfile
        import zipimport

        import pandas as pd

        from crawling_vectordb_llm_spark import shipping as worker_shipping

        for _ in batches:
            pass
        importer = zipimport.zipimporter
        out = {
            "lazy": isinstance(importer.__dict__.get("_files"), property),
            "installed_again": worker_shipping.install_lazy_zip_directories(),
            "zip_importers": sum(
                isinstance(f, importer) for f in sys.path_importer_cache.values()
            ),
        }
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            out["invalidate_reads"] = len(reads)
            with zipfile.ZipFile(late, "w") as z:
                z.writestr("cvls_late_a.py", "VALUE = 1\n")
            sys.path.insert(0, late)
            out["late_import"] = importlib.import_module("cvls_late_a").VALUE
            with zipfile.ZipFile(late, "w") as z:
                z.writestr("cvls_late_a.py", "VALUE = 1\n")
                z.writestr("cvls_late_b.py", "VALUE = 2\n")
            importlib.invalidate_caches()
            out["rewritten_import"] = importlib.import_module("cvls_late_b").VALUE
        finally:
            zipimport._read_directory = read_directory
            sys.path.remove(late)
            sys.modules.pop("cvls_late_a", None)
            sys.modules.pop("cvls_late_b", None)
        out["py313"] = sys.version_info >= (3, 13)
        yield pd.DataFrame({"out": [json.dumps(out)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "out string").collect()
    out = json.loads(rows[0]["out"])
    assert out["installed_again"] is False
    assert out["late_import"] == 1 and out["rewritten_import"] == 2
    if out["py313"]:
        assert out["lazy"] is False
    else:
        assert out["lazy"] is True
        assert out["zip_importers"] > 0
        assert out["invalidate_reads"] == 0


def test_lazy_zip_install_needs_a_task_and_python_before_313(monkeypatch):
    """On the driver (no TaskContext), or under Python 3.13 and later,
    the install changes nothing."""
    import sys
    import zipimport

    import pyspark

    before = dict(zipimport.zipimporter.__dict__)
    assert shipping.install_lazy_zip_directories() is False
    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: object()))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert shipping.install_lazy_zip_directories() is False
    assert dict(zipimport.zipimporter.__dict__) == before
