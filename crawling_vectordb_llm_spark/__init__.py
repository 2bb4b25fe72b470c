"""crawling_vectordb_llm_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of newlxj/Crawling_VectorDB_LLM.

The reference (see /root/reference, SURVEY.md) is a RAG pipeline: crawl →
clean → embed → vector-store upsert → top-k cosine search → ordered context
concat → prompt → generate → cite.  This package re-expresses every operator
Spark-first (DataFrame/SQL, Catalyst-optimized, Arrow-vectorized UDFs only
where built-ins can't express the semantics) and generalizes them into the
LLM-data-pipeline surface a 100 TB training-data job needs: dedup (exact /
MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine), similarity
search (brute-force + IVF), text analysis (lang-id, quality, tokens,
fingerprints), multimodal binary-column plumbing, and a full relational
analytics core validated against DuckDB oracles.

Layout:
    session.py    SparkSession factory (scale-minded defaults)
    catalog.py    fixture tables (TESTDATA.md) as DataFrames / temp views
    functions/    column-level expression builders (vector math, text)
    operators/    composed dataflow operators (knn, dedup, merge, topk, ...)
    sources/      ingest plumbing (crawl-shaped pipeline, multimodal binary)
    plans/        end-to-end composed queries (flagship RAG search)
    streaming/    event-time windows, sessionization (batch + streaming)
    suite/        the registered query inventory + DuckDB oracles
"""

from crawling_vectordb_llm_spark.session import get_spark
from crawling_vectordb_llm_spark.catalog import TABLES, load_tables
from crawling_vectordb_llm_spark.shipping import install_lazy_zip_directories

install_lazy_zip_directories()

__all__ = ["get_spark", "TABLES", "load_tables"]
