"""SparkSession factory with the engine's tuned defaults.

Local-mode knobs mirror what the cluster deployment sets via
``spark-submit --conf``; nothing here is sandbox-specific except
``local[N]`` itself.  On a real cluster the same module is shipped with
``spark-submit --py-files greenex_py_spark.zip`` and ``master`` comes from
the cluster manager.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of the host's MemTotal a driver heap may take by default.  With
# a heap above the machine's memory (16 GB on a 15 GB host) the test
# suite's process tree peaked at 11.4-13.5 GB RSS, the JVM alone at
# 9 GB; half leaves the other half to the Python workers, DuckDB and the
# OS.  ``SPARK_DRIVER_MEM`` overrides it.
_DRIVER_HEAP_SHARE = 0.5


def _driver_heap() -> str:
    """``SPARK_DRIVER_MEM``, else ``_DRIVER_HEAP_SHARE`` of MemTotal
    (``/proc/meminfo``) in whole MB, at least 1 GB."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1024, int(kb * _DRIVER_HEAP_SHARE) // 1024)}m"


def get_spark(
    app_name: str = "greenex_py_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session, with a code-generation cache that holds the
    exposure api's warm path.

    Spark compiles each whole-stage and expression class once and keeps
    it in an LRU of ``spark.sql.codegen.cache.maxEntries`` classes.  A
    repeated api call reuses its classes only while the calls between
    its runs fit that cache: a warm call must compile nothing new.  A
    LIMIT compiles new code on every call (its counter is named from a
    JVM-global id), so keep ``limit(n)`` probes off per-call paths.  The
    cache size is a static setting read once per JVM: a session built
    outside this function, in a fresh JVM, keeps Spark's 100 entries.

    The driver heap defaults to ``_DRIVER_HEAP_SHARE`` of the host's
    memory (``SPARK_DRIVER_MEM`` overrides it).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        # 1 shuffle partition per core locally; clusters set 2-3× total cores.
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _driver_heap())
        .config("spark.ui.enabled", "false")
        # A cold pass of the benchmark's python_kernels calls compiles
        # about 200 classes.  With Spark's 100 entries each warm pass
        # recompiled 170 of them (mean_ndvi 18, gs_pct_network 98,
        # viewshed 54) and Janino held 21 % of the JVM samples of a warm
        # gs_pct_network; with 1000 they compile 0 / 4 / 0 (4-CPU box).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Adaptive execution numbers codegen stages in the order its
        # concurrent stages finish, and the number is part of a generated
        # class name by default, so equal code compiled again under a new
        # name (a cold pass of the api guard test's ten calls compiled 363
        # classes with the id in the name, 261 without).
        .config("spark.sql.codegen.useIdInClassName", "false")
        # timestamps in the documents table are microsecond parquet
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
