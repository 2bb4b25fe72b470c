"""Pipeline-op queries: upsert-merge (S5), recursive tree flatten (F1),
and the crawl-shaped ingest (S1-S4/P1-P7) with a deterministic fake fetcher.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawling_vectordb_llm_spark.catalog import table_path
from crawling_vectordb_llm_spark.operators.flatten import flatten_tree
from crawling_vectordb_llm_spark.operators.merge import upsert_by_key
from crawling_vectordb_llm_spark.sources import crawl
from crawling_vectordb_llm_spark.suite.registry import query


@query(
    "upsert_merge",
    oracle="""
WITH updates AS (
  SELECT doc_id, 'updated:' || CAST(doc_id AS VARCHAR) AS text, lang, source
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new:' || CAST(doc_id AS VARCHAR) AS text,
         lang, source
  FROM documents WHERE doc_id < 5
)
SELECT doc_id, substr(text, 1, 30) AS text_prefix, source FROM updates
UNION ALL
SELECT d.doc_id, substr(d.text, 1, 30) AS text_prefix, d.source
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.doc_id = d.doc_id)
""",
)
def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: last-writer-wins merge-by-key — updates overwrite, inserts append
    (the reference's upsert overwrite semantics, TencentVDB.py:70,74-79)."""
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    updates = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.lit("updated:"), F.col("doc_id").cast("string")).alias("text"),
        "lang",
        "source",
    )
    inserts = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new:"), F.col("doc_id").cast("string")).alias("text"),
        "lang",
        "source",
    )
    merged = upsert_by_key(
        docs.select("doc_id", "text", "lang", "source"),
        updates.unionByName(inserts),
        key="doc_id",
    )
    return merged.select(
        "doc_id", F.substring("text", 1, 30).alias("text_prefix"), "source"
    )


@query(
    "flatten_tree",
    oracle="""
SELECT r_name AS title, CAST(0 AS INT) AS depth, NULL AS parent_title FROM region
UNION ALL
SELECT n.n_name AS title, CAST(1 AS INT) AS depth, r.r_name AS parent_title
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
""",
)
def q_flatten_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: build a 2-level nav tree (region → nations) as nested structs,
    then flatten via the iterative-explode operator (Crawling.py:23-30)."""
    nation = spark.read.parquet(table_path(sf_dir, "nation"))
    region = spark.read.parquet(table_path(sf_dir, "region"))
    tree = (
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("title"))
        .agg(
            F.collect_list(F.struct(F.col("n_name").alias("title"))).alias(
                "children"
            )
        )
    )
    flat = flatten_tree(tree)
    return flat.select("title", F.col("depth").cast("int").alias("depth"), "parent_title")


@query(
    "crawl_bfs_frontier",
    oracle="""
WITH RECURSIVE reach AS (
  SELECT 1 AS n
  UNION
  SELECT u AS n FROM (SELECT unnest([2 * n + 1, 2 * n + 2]) AS u FROM reach)
  WHERE u < 25
)
SELECT 'page:' || CAST(n AS VARCHAR) AS link FROM reach
""",
)
def q_crawl_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop BFS crawl over a synthetic site (page n links to 2n+1,
    2n+2 below 25), seed page:1 — the visited set must equal graph
    reachability (oracle: recursive CTE).  Exercises the iterate-to-
    fixpoint frontier loop with anti-join dedup and per-hop lineage
    checkpointing."""

    def fetch(url: str) -> str:
        n = int(url.split(":")[1])
        anchors = "".join(
            f'<a href="page:{c}">x</a>' for c in (2 * n + 1, 2 * n + 2) if c < 25
        )
        return f'<html>{anchors}<div class="content">node {n}</div></html>'

    seeds = spark.createDataFrame([("page:1",)], "link string")
    return crawl.crawl_bfs(seeds, fetch, max_depth=10)


@query(
    "crawl_ingest",
    oracle="""
SELECT 'https://site.example/' || CAST(n_nationkey AS VARCHAR) AS id,
       n_name AS title,
       trim(regexp_replace(
         'Page about ' || n_name || '   region ' || CAST(n_regionkey AS VARCHAR),
         '\\s+', ' ', 'g')) AS text
FROM nation
""",
)
def q_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1→P7: the crawl pipeline against a deterministic fake fetcher —
    the mapInPandas fetch stage, regex content extraction, clean, and the
    Document(id,title,text) projection are all real."""
    nation = spark.read.parquet(table_path(sf_dir, "nation"))
    urls = nation.select(
        F.concat(F.lit("https://site.example/"), F.col("n_nationkey").cast("string")
        ).alias("link"),
        F.col("n_name").alias("title"),
        F.col("n_regionkey"),
    )

    def fake_fetch(url: str) -> str:
        return ""  # replaced below; fetch uses row-local fields instead

    # deterministic fake pages derived from the frontier row itself
    def _fetch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf["html"] = [
                f'<html><div class="nav">x</div><div class="content">Page about '
                f"<b>{t}</b>   region {rk}</div></html>"
                for t, rk in zip(pdf["title"], pdf["n_regionkey"])
            ]
            yield pdf

    pages = urls.mapInPandas(_fetch, schema=crawl.with_html_column(urls))
    docs = crawl.clean_pages(crawl.extract_content(pages))
    return docs.select(F.col("link").alias("id"), "title", "text")


@query(
    "incremental_reembed",
    oracle="""
WITH batch AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN text || ' [recrawled]' ELSE text END AS text
  FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
), delta AS (
  SELECT b.doc_id,
         CASE WHEN s.doc_id IS NULL THEN 'new'
              WHEN md5(b.text) <> md5(s.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM batch b LEFT JOIN documents s ON b.doc_id = s.doc_id
)
SELECT status, COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_id, CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM delta GROUP BY status
""",
)
def q_incremental_reembed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh delta: classify a re-crawl batch against the
    stored corpus as new / changed / unchanged by content hash, so the
    embedding stage (the expensive UDF at 100 TB — the reference re-embeds
    every upsert unconditionally, TencentVDB.py:74-79) runs ONLY on new +
    changed rows.  The batch joins the store on the id — broadcast when the
    batch is small (it is: deltas are a fraction of the corpus), so the
    store is never shuffled.  The simulated batch: re-crawl of doc_id<100
    (half with changed text) plus 20 genuinely new ids."""
    d = spark.read.parquet(table_path(sf_dir, "documents"))
    recrawl = d.where(F.col("doc_id") < 100).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.col("text"), F.lit(" [recrawled]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    fresh = d.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    batch = recrawl.unionByName(fresh)
    store = d.select(
        F.col("doc_id").alias("s_id"), F.md5("text").alias("s_hash")
    )
    delta = (
        F.broadcast(batch)
        .join(store, batch["doc_id"] == store["s_id"], "left")
        .select(
            "doc_id",
            F.when(F.col("s_id").isNull(), "new")
            .when(F.md5("text") != F.col("s_hash"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
    )
    return delta.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
    )


@query(
    "url_canonicalize",
    oracle=r"""
WITH dirty AS (
  SELECT doc_id,
         'HTTPS://' || source || '.Example.COM' ||
         CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END ||
         '/' || lang || '/doc/' || doc_id ||
         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         '?utm_source=crawler&id=' || doc_id || '&ref=share' ||
         CASE WHEN doc_id % 3 = 0 THEN '&page=2' ELSE '' END ||
         '#sec-' || doc_id % 5 AS url
  FROM documents
), canon AS (
  SELECT doc_id, regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              lower(regexp_extract(url, '^([^/]*//[^/?#]*)', 1))
                || regexp_replace(url, '^[^/]*//[^/?#]*', ''),
              '#.*$', '', 'g'),
            '&(?:utm_[a-z]+|ref|fbclid)=[^&]*', '', 'g'),
          '\?(?:utm_[a-z]+|ref|fbclid)=[^&]*&', '?', 'g'),
        '\?(?:utm_[a-z]+|ref|fbclid)=[^&]*$', '', 'g'),
      '^(https?://[^/:?#]*):(?:80|443)([/?#]|$)', '\1\2', 'g'),
    '([^/])/+(\?|$)', '\1\2', 'g') AS canonical_url
  FROM dirty
)
SELECT doc_id, canonical_url,
       regexp_extract(canonical_url, '^https?://([^/:?#]+)', 1) AS host
FROM canon
""",
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization (functions/text.canonicalize_url)
    over deterministically dirtied URLs: mixed-case scheme/host, default
    port, trailing slash, utm_*/ref tracking params, fragments — the alias
    classes a crawler's frontier must collapse before fetching (the
    reference fetches every frontier entry verbatim, Crawling.py:40, and
    dedups only at upsert time by id, TencentVDB.py:70).  Map-only regexp
    chain; at 100 TB this runs inside the scan projection, no shuffle."""
    from crawling_vectordb_llm_spark.functions.text import canonicalize_url

    d = spark.read.parquet(table_path(sf_dir, "documents"))
    dirty = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://"), F.col("source"), F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/"), F.col("lang"), F.lit("/doc/"), F.col("doc_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=crawler&id="), F.col("doc_id"), F.lit("&ref=share"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("&page=2")).otherwise(F.lit("")),
            F.lit("#sec-"), F.col("doc_id") % 5,
        ).alias("url"),
    )
    canon = dirty.select("doc_id", canonicalize_url("url"))
    return canon.withColumn(
        "host", F.regexp_extract("canonical_url", r"^https?://([^/:?#]+)", 1)
    )


@query(
    "recursive_cte_reachability",
    oracle="""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.35
), reach(node, depth) AS (
  SELECT vec_id, 0 FROM embeddings WHERE vec_id < 5
  UNION ALL
  SELECT p.v, r.depth + 1
  FROM reach r JOIN pairs p ON p.u = r.node
  WHERE r.depth < 3
)
SELECT node AS vec_id, CAST(MIN(depth) AS INT) AS hops
FROM reach GROUP BY node
""",
)
def q_recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4.x): shortest-hop distance (<= 3)
    from seed vectors over the cosine>=0.35 similarity graph, expressed
    as a recursive CTE instead of the driver-side iterate-to-fixpoint
    loops used by flatten_tree/crawl_bfs — the declarative form of the
    same frontier expansion (SURVEY §2.3 F1), UNION ALL + depth bound +
    MIN(depth) because Spark's recursion doesn't support distinct UNION
    yet.  The engine unrolls each step as a joined stage; path count is
    bounded by seed_count x max_degree^depth (max degree 11 on the
    fixture graph)."""
    from crawling_vectordb_llm_spark.operators.knn import (
        threshold_similarity_join,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = threshold_similarity_join(emb, tau=0.35).select("a_id", "b_id")
    sym = pairs.unionAll(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    )
    sym.createOrReplaceTempView("__sim_edges")
    emb.select("vec_id").createOrReplaceTempView("__sim_nodes")
    return spark.sql("""
        WITH RECURSIVE reach(node, depth) AS (
          SELECT vec_id, 0 FROM __sim_nodes WHERE vec_id < 5
          UNION ALL
          SELECT e.b_id, r.depth + 1
          FROM reach r JOIN __sim_edges e ON e.a_id = r.node
          WHERE r.depth < 3
        )
        SELECT node AS vec_id, CAST(MIN(depth) AS INT) AS hops
        FROM reach GROUP BY node
    """)


@query(
    "python_datasource_crawl",
    oracle="""
SELECT 'https://site.example/page/' || CAST(i AS VARCHAR) AS url,
       'Page ' || CAST(i AS VARCHAR) AS title,
       CAST(20 AS INT) AS n_tokens,
       array_to_string(
         list_transform(range(0, 20), j -> 'w' || CAST((i * 7 + j) % 13 AS VARCHAR)),
         ' ') AS text
FROM range(0, 300) t(i)
""",
)
def q_python_datasource_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl as a pluggable Spark source (Python Data Source API,
    sources/crawl_datasource.py): URL space split across input
    partitions, each task materializes its slice, downstream ops are
    ordinary lazy planning.  The oracle regenerates the identical
    deterministic corpus from range() — proving the source is a pure
    function of its options, which is what makes task-retry-as-crawl-
    retry sound."""
    from crawling_vectordb_llm_spark.sources import crawl_datasource

    crawl_datasource.register(spark)
    df = (
        spark.read.format("synthetic_crawl")
        .option("pages", "300")
        .option("numpartitions", "8")
        .load()
    )
    return df.select(
        "url",
        "title",
        F.size(F.split("text", " ")).alias("n_tokens"),
        "text",
    )


def _e2e_oracle() -> str:
    """Full-value DuckDB replay of the e2e pipeline (VERDICT r8 #5 /
    r9 #6 — the last pipeline rows-only entry graduates): the oracle
    regenerates the synthetic-crawl corpus from range() (the same move
    python_datasource_crawl's oracle makes — the source is a pure
    function of its options), replays clean_text, the md5 hash-embedder
    (vector_suite._md5_embed_fragment), top-3 cosine ranking on the
    knn_join_sql contract order (score DESC, id ASC), rank-ordered
    context/citation concat, the prompt template + 20000-char truncate,
    and the deterministic extractive generator (plans/generate.py
    fake_generate_batch: first 12 whitespace-split words of the prompt +
    the min(len, 8000) length stamp) with the citation block appended."""
    from crawling_vectordb_llm_spark.suite.vector_suite import (
        _md5_embed_fragment,
    )

    frag = _md5_embed_fragment(
        "SELECT id, text AS txt FROM cleaned", "emb", 64
    )
    return f"""
WITH pages AS (
  SELECT 'https://site.example/page/' || CAST(i AS VARCHAR) AS id,
         'Page ' || CAST(i AS VARCHAR) AS title,
         array_to_string(list_transform(range(0, 20),
                         j -> 'w' || CAST((i * 7 + j) % 13 AS VARCHAR)),
                         ' ') AS text
  FROM range(0, 200) t(i)
), cleaned AS (
  SELECT id, title,
         regexp_replace(substr(text, 1, 6000), '\\s+', ' ', 'g') AS text
  FROM pages
), {frag}, corpus AS (
  SELECT c.id, c.title, c.text, e.e FROM cleaned c JOIN emb e ON e.id = c.id
), q AS (
  SELECT id AS query_id, e FROM emb WHERE regexp_matches(id, '/page/[0-2]$')
), scored AS (
  SELECT q.query_id, c.id, c.title, c.text,
         list_cosine_similarity(q.e, c.e) AS score
  FROM q CROSS JOIN corpus c
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, id ASC) AS rank
  FROM scored
), per_query AS (
  SELECT query_id,
         string_agg(substr(text, 1, 6000), chr(10) ORDER BY rank) AS context,
         string_agg(title || '     ' || id, chr(10) || chr(10)
                    ORDER BY rank) AS citations
  FROM ranked WHERE rank <= 3 GROUP BY query_id
), prompts AS (
  SELECT query_id, citations,
         substr('请按照"' || query_id || '"进行总结,内容是：' || context,
                1, 20000) AS prompt
  FROM per_query
), gen AS (
  SELECT query_id, citations, prompt,
         string_split_regex(prompt, '\\s+') AS w
  FROM prompts
)
SELECT query_id,
       'summary(' || array_to_string(w[1:12], ' ') || ') [' ||
       CAST(LEAST(length(prompt), 8000) AS VARCHAR) || ' chars in]' ||
       chr(10) || chr(10) || citations AS response
FROM gen
"""


@query("e2e_crawl_to_answer", oracle=_e2e_oracle())
def q_e2e_crawl_to_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE reference, one lazy plan: crawl source (S1 via the
    Python Data Source) → clean (P4-P6) → batch embed (S5's server-side
    embedding as an iterator pandas_udf) → top-3 cosine search per query
    (J1) → score-ordered context concat (F2) → prompt template + truncate
    (P8/P9) → deterministic generation stand-in (G1) → citation append
    (P10).  No action until the driver collects — every stage is plan
    nodes (the search stage is knn_join_sql, whose 3-row query side is a
    broadcast branch of the SAME lazy plan, not an eager driver collect
    — VERDICT r3), so Catalyst prunes columns through the UDF boundaries
    and the crawl partitions stream straight into embedding without a
    materialization.  Value-oracled since r10 (_e2e_oracle above): every
    stage — crawl corpus, clean, md5 embed, ranking, prompt, fake
    generation, citations — is a pure function, so DuckDB reproduces the
    final (query_id, response) strings byte-for-byte."""
    from crawling_vectordb_llm_spark.embedding import make_embed_udf
    from crawling_vectordb_llm_spark.functions.text import clean_text
    from crawling_vectordb_llm_spark.operators.knn import knn_join_sql
    from crawling_vectordb_llm_spark.plans.generate import rag_generate
    from crawling_vectordb_llm_spark.sources import crawl_datasource

    crawl_datasource.register(spark)
    pages = (
        spark.read.format("synthetic_crawl")
        .option("pages", "200")
        .option("numpartitions", "8")
        .load()
    )
    embed = make_embed_udf(dim=64)
    corpus = pages.select(
        F.col("url").alias("id"),
        "title",
        clean_text("text").alias("text"),
    ).withColumn("vector", embed(F.col("text")))

    queries = corpus.where(
        F.col("id").rlike("/page/[0-2]$")
    ).select(
        F.col("id").alias("query_id"), F.col("vector").alias("query_vec")
    )
    hits = knn_join_sql(
        queries, corpus, k=3, corpus_id="id", corpus_vec="vector"
    )
    enriched = corpus.join(F.broadcast(hits), "id").select(
        "query_id",
        "rank",
        F.substring("text", 1, 6000).alias("snippet"),
        F.concat_ws("     ", "title", "id").alias("citation"),
    )
    per_query = (
        enriched.groupBy("query_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("rank", "snippet"))).alias("__c"),
            F.array_sort(F.collect_list(F.struct("rank", "citation"))).alias("__t"),
        )
        .select(
            "query_id",
            F.array_join(F.transform("__c", lambda s: s["snippet"]), "\n").alias(
                "context"
            ),
            F.array_join(F.transform("__t", lambda s: s["citation"]), "\n\n").alias(
                "citations"
            ),
        )
    )
    prompts = per_query.select(
        "query_id",
        "context",
        "citations",
        F.substring(
            F.format_string('请按照"%s"进行总结,内容是：%s', "query_id", "context"),
            1,
            20000,
        ).alias("prompt"),
    )
    return rag_generate(prompts).orderBy("query_id")
