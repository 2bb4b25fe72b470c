"""Ship this package to executor python workers.

Executor-side closures (mapInPandas/applyInPandas kernels) that reference
module-level helpers are pickled BY REFERENCE — the worker must be able to
`import crawling_vectordb_llm_spark`.  That holds when the driver's cwd is
the repo root (cwd is on the workers' sys.path) but not when an external
harness imports us from elsewhere.  The cluster-correct fix is the same as
the local one: zip the package and `sc.addPyFile` it, exactly what a real
100 TB deployment does with its job artifact.

A Python worker also pays for its zip imports.  PySpark's worker calls
`importlib.invalidate_caches()` before every task, and under Python
3.12 and older each `zipimporter` answers by re-reading its archive's
whole central directory at once.  A local worker holds 17 of them, over
pyspark.zip (1328 entries), py4j, the spark-core jar and this package's
zip: a median 131 ms per task before the UDF runs, 0.04 ms with the
directories lazy (4-core host, Python 3.11.7, PySpark 4.1.2).  Python 3.13
made that directory lazy: invalidating drops the cached directory and
the next lookup re-reads it.  `install_lazy_zip_directories` backports
that into the worker process, so a reused worker re-reads each
directory when it next imports from the archive, not before every task.
It acts only under Python < 3.13 and only where a `TaskContext` is set
(a worker running a task; never the driver), and at most once per
process; every package UDF imports the package, whose `__init__` calls
it.  It goes away once the Python floor is 3.13.
"""

from __future__ import annotations

import os
import sys
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession

from crawling_vectordb_llm_spark.session import CODEGEN_CACHE_CONF, CODEGEN_CACHE_FLOOR

_SHIPPED: set[int] = set()
_CODEGEN_CHECKED: set[int] = set()


def install_lazy_zip_directories() -> bool:
    """In a Python worker under Python < 3.13, make every `zipimporter`
    read its archive's directory lazily, as 3.13's does: `_files` reads
    the shared directory cache, re-reading the archive on a miss, and
    `invalidate_caches` only drops the archive's cache entry.  Returns
    True when this call installed it."""
    import zipimport

    from pyspark import TaskContext

    importer = zipimport.zipimporter
    if (
        sys.version_info >= (3, 13)
        or TaskContext.get() is None
        or isinstance(importer.__dict__.get("_files"), property)
    ):
        return False
    cache = zipimport._zip_directory_cache

    def files(self) -> dict:
        try:
            return cache[self.archive]
        except KeyError:
            try:
                found = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                found = {}
            return found

    def invalidate_caches(self) -> None:
        cache.pop(self.archive, None)

    # __init__ stores the directory it has just cached before it sets
    # self.archive, so the setter must not look at the instance
    importer._files = property(files, lambda self, value: None)
    importer.invalidate_caches = invalidate_caches
    return True


def _package_zip() -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), "crawling_vectordb_llm_spark_pkg.zip"
    )
    src_mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < src_mtime:
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def ensure_package_shipped(spark: SparkSession) -> None:
    """Idempotent per SparkContext; cheap to call at every query entry."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(key)


_PROTOBUF_SHIPPED: set[int] = set()


def ensure_protobuf(spark: SparkSession | None = None) -> bool:
    """Make `google.protobuf` importable, preferring a real install.

    transformWithStateInPandas needs protobuf on BOTH sides: the driver
    builds StateMessage requests and every Python worker runs the state
    API client.  When the package is absent (this container has no
    network for pip), fall back to the vendored pure-Python runtime in
    `vendor/` (see vendor/README.md for provenance): append it to the
    driver's sys.path and ship `vendor/google` to workers as a py-file
    zip — the identical artifact mechanics a 100 TB cluster job uses.

    Returns True iff `google.protobuf` imports afterwards.
    """
    import sys

    vendor = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor"
    )
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        if not os.path.isdir(os.path.join(vendor, "google", "protobuf")):
            return False
        if vendor not in sys.path:
            sys.path.append(vendor)
        try:
            import google.protobuf  # noqa: F401
        except ImportError:
            return False
        # Future JVMs (and their python workers) inherit this env var;
        # PythonWorkerFactory merges it into every worker's PYTHONPATH.
        env_pp = os.environ.get("PYTHONPATH", "")
        if vendor not in env_pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                vendor + os.pathsep + env_pp if env_pp else vendor
            )
    if spark is not None:
        sc = spark.sparkContext
        # transformWithStateInPandas runs a long-lived "driver worker"
        # (StreamingPythonRunner) that never sees addPyFile includes — its
        # sys.path is built from the udf's envVars PYTHONPATH.  Those
        # envVars are snapshotted from sc.environment at udf CREATION
        # time, so patching the dict here covers sessions built before
        # this module was imported (e.g. an external harness session).
        if os.path.isdir(os.path.join(vendor, "google", "protobuf")):
            env = sc.environment
            cur = env.get("PYTHONPATH", "")
            if vendor not in cur.split(os.pathsep):
                env["PYTHONPATH"] = (
                    vendor + os.pathsep + cur if cur else vendor
                )
        key = id(sc)
        if key not in _PROTOBUF_SHIPPED:
            zpath = os.path.join(
                tempfile.gettempdir(), "cvls_vendor_google_protobuf.zip"
            )
            if os.path.isdir(os.path.join(vendor, "google")):
                if not os.path.exists(zpath):
                    tmp = zpath + f".tmp{os.getpid()}"
                    with zipfile.ZipFile(tmp, "w") as z:
                        for root, _, files in os.walk(
                            os.path.join(vendor, "google")
                        ):
                            for f in files:
                                if f.endswith((".py", "LICENSE")):
                                    full = os.path.join(root, f)
                                    z.write(full, os.path.relpath(full, vendor))
                    os.replace(tmp, zpath)
                sc.addPyFile(zpath)
            _PROTOBUF_SHIPPED.add(key)
    return True


def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the engine requires regardless of who built the
    session (the external driver builds its own):
    - nanosAsLong: the events fixture is TIMESTAMP(NANOS), which Spark's
      parquet reader rejects otherwise
    - UTC session timezone: oracle comparisons are against UTC-naive DuckDB
    Both are runtime-settable SQL confs (verified).  The compiled-class
    cache size is static, so it is only checked: a cap under
    CODEGEN_CACHE_FLOOR warns once per SparkContext."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # r14: the bounded driver transfers (connected_components' mode probe,
    # collect_query_rows) go through toPandas and are sized assuming the
    # Arrow path (columnar buffers, no Row boxing — guide §6).  Arrow
    # toPandas is a behavior-identical fast path for the long/array
    # columns those probes move, but it is OFF by default in a bare
    # session — heal it like the confs above so a driver-built session
    # doesn't silently fall back to boxed-Row transfers.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    key = id(spark.sparkContext)
    if key not in _CODEGEN_CHECKED:
        _CODEGEN_CHECKED.add(key)
        msg = codegen_cache_warning(int(spark.conf.get(CODEGEN_CACHE_CONF)))
        if msg:
            warnings.warn(msg, RuntimeWarning, stacklevel=2)


def codegen_cache_warning(cap: int) -> str | None:
    """The warning for a session whose compiled-class cache holds fewer
    than CODEGEN_CACHE_FLOOR classes, or None when it holds enough."""
    if cap >= CODEGEN_CACHE_FLOOR:
        return None
    return (
        f"{CODEGEN_CACHE_CONF}={cap} is below the engine's floor of "
        f"{CODEGEN_CACHE_FLOOR}: queries that repeat in this session will "
        "recompile their generated classes each time; build the session "
        f"with --conf {CODEGEN_CACHE_CONF}={CODEGEN_CACHE_FLOOR} or more "
        "(it cannot be changed once the session exists)"
    )
