"""SparkSession factory tuned for this engine.

Local mode is for correctness testing only; the configs are chosen so the
same code scales to a multi-executor cluster (AQE, adaptive coalescing,
Arrow transfers, UTC timestamps).

Before the JVM starts, :func:`get_spark` puts the directory of
:mod:`fstd2pandas_spark._pyhook.sitecustomize` first on ``PYTHONPATH``.
Every Python process Spark starts (planner runners, the worker daemon
and its workers, non-daemon workers) then runs that hook at interpreter
start, which stops pyspark re-reading its own zip archive at the start
of every task and planner call on CPython < 3.12.

:func:`get_spark` also sizes Spark's cache of compiled generated classes
(``spark.sql.codegen.cache.maxEntries``, a static conf). The cache is an
LRU keyed on the generated source, and Spark's default holds 100
classes. A pass that cycles through more distinct classes than the cap,
in the same order each time, misses on every lookup and Janino-compiles
every class again on every repeat: one ``llm_dedup`` benchmark pass
needs 144. At :data:`CODEGEN_CACHE_ENTRIES` a repeat of any of the
measured consumers reuses every class whose source does not change from
run to run (README, "Generated code"). ``extra_conf`` can still
override it.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Largest measured working set of generated classes with headroom: the
# 50 oracle gates at sf0.001 compile 2,574 distinct classes, one
# llm_dedup pass 144 (README, "Generated code")
CODEGEN_CACHE_ENTRIES = 4096


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


def _put_hook_on_pythonpath() -> None:
    """Put the ``_pyhook`` directory first on ``PYTHONPATH`` (once): the JVM
    inherits this process's environment and passes the path on to every
    Python process it starts. It reaches only a JVM started after it."""
    hook = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "_pyhook")
    path = os.environ.get("PYTHONPATH", "")
    if hook not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = hook + (os.pathsep + path if path else "")


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
    _put_hook_on_pythonpath()
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
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
