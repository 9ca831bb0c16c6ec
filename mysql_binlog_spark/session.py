"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness/dev harness; the config mirrors what we would
submit to a real multi-executor cluster (AQE on, explicit shuffle
partitioning, Arrow enabled for the few vectorized-UDF paths).

Python workers fork from the engine's daemon, ``mysql_binlog_spark._pydaemon``:
before CPython 3.13 Spark's own daemon re-reads pyspark.zip's directory
once per zip importer on every task, which cost a small task most of its
wall. The daemon is set only when its process can import it: this process
launches the JVM (no ``PYSPARK_GATEWAY_PORT``, no live SparkContext), so
the ``PYTHONPATH`` set here reaches the workers, and the package is a
directory on that path. Under ``spark-submit --py-files`` the JVM already
runs without that path, and Spark keeps its default daemon.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mysql_binlog_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this is instead tuned to ~2-3x total cores / target partition
    size; AQE coalescing corrects over-partitioning at runtime.
    """
    # Make this package importable in executor Python workers regardless of
    # the driver's cwd — the local-mode analog of `spark-submit --py-files`.
    # (Workers unpickle mapInPandas/pandas_udf closures by module reference.)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # partition count should track DATA size, not core count — a fixed
        # count gives every cluster size identical work chunks (and equal
        # per-partition sort cost); default to cores only as a floor, let
        # SPARK_GRAFT_SHUFFLE_PARTITIONS pin it for scaling comparisons
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        shuffle_partitions = int(env_sp) if env_sp else cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Throughput batch engine -> ParallelGC. G1 (the JVM default)
        # collapses under allocation-heavy SQL with one task thread per
        # core: measured 2-3x slower end-to-end at local[32] on the replay
        # path; ParallelGC restores linear behavior. On a real cluster the
        # same flag goes in spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    # the engine daemon only where workers can import it (module docstring)
    if (
        "PYSPARK_GATEWAY_PORT" not in os.environ
        and SparkContext._active_spark_context is None
        and os.path.isfile(os.path.join(repo_root, "mysql_binlog_spark", "_pydaemon.py"))
    ):
        builder = builder.config(
            "spark.python.daemon.module", "mysql_binlog_spark._pydaemon"
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
