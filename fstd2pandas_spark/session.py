"""SparkSession factory tuned for this engine.

Local mode is for correctness testing only; the configs are chosen so the
same code scales to a multi-executor cluster (AQE, adaptive coalescing,
Arrow transfers, UTC timestamps).

Executor Python workers start through
:mod:`fstd2pandas_spark.worker_daemon`, which stops pyspark re-reading
its own zip archive at the start of every task on CPython < 3.12.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def per_spark_context(build):
    """Memoize a builder of unresolved Columns for the live SparkContext.

    Building a large Column tree costs one py4j round trip per node
    (the decode cascade: ~1 s), while the Columns are immutable
    unresolved expressions, safe to reuse across DataFrames and queries
    of one JVM gateway. The memo holds the SparkContext it was built
    under and compares it by identity (an ``id()`` can be reused after
    ``stop()``); a new context starts an empty ``lru_cache``."""
    memo: list = [object(), None]  # [owning context, cached builder]

    @functools.wraps(build)
    def get(*args):
        sc = SparkContext._active_spark_context
        if memo[0] is not sc:
            memo[:] = [sc, functools.lru_cache(maxsize=64)(build)]
        return memo[1](*args)

    return get


def _workers_import_package() -> bool:
    """True when a Python worker started from this process's environment
    imports this copy of the package: its parent directory is on
    ``PYTHONPATH`` or is the working directory (``python -m`` puts it on
    ``sys.path``), or the package is installed in site-packages. A
    package reachable only through the driver's own ``sys.path`` edits
    would make the worker daemon fail to start, so pyspark's default
    daemon is kept then."""
    import site

    pkg = os.path.dirname(os.path.abspath(__file__))
    dirs = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    dirs += [os.getcwd(), *site.getsitepackages(), site.getusersitepackages()]
    return any(d and os.path.realpath(os.path.join(d, "fstd2pandas_spark"))
               == os.path.realpath(pkg) for d in dirs)


def get_spark(
    app_name: str = "fstd2pandas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    Defaults honor ``SPARK_GRAFT_CPUS`` for local parallelism. On a real
    cluster, pass ``master=None`` and let spark-submit decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    if _workers_import_package():
        # static: the module Spark runs (``python -m``) to fork executor
        # Python workers
        builder = builder.config("spark.python.daemon.module",
                                 "fstd2pandas_spark.worker_daemon")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
