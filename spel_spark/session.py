"""SparkSession factory.

Single place where execution-relevant config is set so tests, bench and
spark-submit entrypoints agree.  Designed for a multi-executor cluster
(AQE on, skew-join on, Arrow on); in this sandbox it runs local[N].
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


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


def get_spark(
    app_name: str = "spel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same code path serves tests, bench at two parallelism levels, and a real
    cluster (where ``master`` is supplied by spark-submit and this arg stays
    None without overriding it).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPEL_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
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
        # local mode runs all 32 executor threads inside the driver JVM, so
        # this IS the cluster's memory: at 8g the heavy array-join queries
        # GC-thrash once a session accumulates state (measured: 24 s cold ->
        # 174 s after a few prior jobs at 8g; flat ~27 s at 32g).  Under
        # spark-submit on a real cluster the JVM already exists and this
        # setting is inert — driver memory comes from the submit command.
        .config("spark.driver.memory", os.environ.get("SPEL_DRIVER_MEM", "32g"))
    )
    # In local mode .master() applies; under spark-submit on a cluster the
    # master comes from the submit command and this is a no-op override.
    if not os.environ.get("SPEL_NO_MASTER_OVERRIDE"):
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in this context, or read-only tmp — workers
        # then rely on PYTHONPATH (spark-submit --py-files on a cluster)
    return spark


def ensure_min_parallelism(df, target: int | None = None):
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
    sc = df.sparkSession.sparkContext
    target = int(target or sc.defaultParallelism)
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
