"""SparkSession factory with scale-minded defaults.

Local tests run on local[N] (single JVM), but every config here is chosen to
also be the right default on a 1000-executor cluster reading 100 TB:
adaptive execution (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for every Python<->JVM hop, UTC timestamps so results
are reproducible across engines (the DuckDB oracle is UTC-naive), and a
compiled-class cache that holds the engine's whole working set, so a plan
shape that repeats within a session is compiled and JIT-warmed once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
#: The fewest cache entries that hold the largest repeating unit of the
#: engine's work (151 classes, see get_spark); below it, steady rounds
#: recompile.
CODEGEN_CACHE_FLOOR = 256
#: The cap get_spark sets: room for every class of the full sf0.01
#: selfcheck (2306).
CODEGEN_CACHE_ENTRIES = 4096


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far,
    read from its CodegenMetrics (a cache hit does not count; the read
    starts no job)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def default_driver_memory(mem_bytes: int) -> str:
    """The driver heap when SPARK_GRAFT_DRIVER_MEM is unset: half the
    host's RAM, between 1g and 24g.  local[N] runs every task thread in
    this one heap; at 8g on 32 cores GC stalls tripled query times
    (interval_overlap_join 2.4s -> 5.5s), and 24g is ample at 128 GiB."""
    return f"{max(1, min(24, mem_bytes // 2**31))}g"


def get_spark(
    app_name: str = "crawling_vectordb_llm_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    cpus defaults to $SPARK_GRAFT_CPUS or all local cores.  Shuffle
    partitions default to the core count — at cluster scale this would be
    sized to total-cores * 2-3 and AQE coalesces down; locally the 200
    default just adds scheduling overhead on kB-sized partitions.

    Spark keeps the classes its code generator compiled in a JVM-wide
    cache of spark.sql.codegen.cache.maxEntries entries (a static conf,
    default 100).  The engine's working set is larger: distinct classes
    compiled, counted with an unbounded cache, are 6 for curation_dedup's
    prepare and 141-145 for one of its rounds, 34 for rag_serve's prepare
    and 71 for one of its rounds, and 2306 for the full sf0.01 selfcheck.
    At 100, every steady curation_dedup round recompiled 118-139 classes
    and the JIT re-warmed each one; at 256 (CODEGEN_CACHE_FLOOR) or more
    steady rounds compile 0-7, all of them new plans rather than
    evictions.  The cap is CODEGEN_CACHE_ENTRIES, 4096.
    Its cost is the metaspace and JIT code of the classes it keeps alive:
    after the full selfcheck, 225 MB of metaspace and 129 MB of compiled
    code against 209 MB and 112 MB at 100; after four perfbench rounds,
    169 MB of metaspace either way.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # r13/r14 (guide §3.1, ADVICE r13): shuffled-hash joins come from
        # the AQE local-map threshold ONLY — SMJ is rewritten to SHJ at
        # runtime when every post-shuffle partition is under 64 MB, a
        # bound on REAL sizes, so a hash build can never OOM off a bad
        # Catalyst estimate and a healthy 100 TB shuffle (100 MB-1 GB
        # partitions) keeps spill-graceful sort-merge.  r13 additionally
        # flipped the STATIC planner (preferSortMergeJoin=false), which
        # picks the SHJ build side from size ESTIMATES that can be badly
        # wrong after filters/UDFs; r14 re-measured that flip interleaved
        # on the six join-heavy headline queries and found it performance-
        # neutral at bench scale (every median within +-6%, mixed sign —
        # the AQE rewrite already converts the same joins at runtime), so
        # the estimate-trusting static path is dropped and only the
        # runtime-bounded rewrite stays.  Results are strategy-independent
        # by definition; full 215-query DuckDB selfcheck green under this.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # auto-broadcast stays on (10 MB); we additionally hint explicitly
        # in operators where we KNOW the side is small (dims, query sets).
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/cvls-warehouse"),
        )
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as long and convert (catalog.read_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    from crawling_vectordb_llm_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """Driver-side `rows` under `schema` as a frame that plans as a
    LocalTableScan, so reading it starts no task.  `createDataFrame` of a
    list, or of an empty pandas frame, plans as a Scan ExistingRDD over a
    Python RDD, and each of its tasks runs in a Python worker; an Arrow
    table, empty or not, becomes a LocalRelation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.names)
    table = pa.Table.from_pydict(dict(zip(schema.names, columns)), to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
