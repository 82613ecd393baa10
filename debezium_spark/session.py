"""SparkSession factory tuned for the sandbox (local[N]) but with
settings that carry to a multi-executor cluster (AQE, Arrow, UTC)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_memory_mb() -> int:
    """Physical memory of the host in MiB (on Linux, ``MemTotal``)."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def _memory_mb(spec: str) -> float:
    """A JVM memory string (``512m``, ``4g``, ``2048``: MiB by default,
    like ``spark.driver.memory``) in MiB."""
    units = {"k": 2**-10, "m": 1, "g": 2**10, "t": 2**20}
    s = spec.strip().lower().removesuffix("b")
    if s and s[-1] in units:
        return float(s[:-1]) * units[s[-1]]
    return float(s)


def driver_memory(requested: str | None = None) -> str:
    """The driver heap to launch with: ``requested`` (or
    ``$SPARK_DRIVER_MEM``) if the host can hold it, else half the
    host's ``MemTotal``. A heap larger than physical memory does not
    fail at start-up: it fails half-way through a run, when the heap
    grows into memory the host does not have. So it is refused here,
    before the JVM launches."""
    total = host_memory_mb()
    requested = requested or os.environ.get("SPARK_DRIVER_MEM")
    if requested is None:
        return f"{total // 2}m"
    if _memory_mb(requested) > total:
        raise ValueError(
            f"driver memory {requested!r} exceeds this host's {total} MiB "
            "of physical memory; set SPARK_DRIVER_MEM (or "
            "spark.driver.memory) to at most that, or unset it to use "
            f"half of it ({total // 2}m)"
        )
    return requested


def get_spark(
    app_name: str = "debezium_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a
    real cluster the master/cores come from spark-submit instead; every
    other setting below is cluster-valid. ``master`` overrides the
    local[N] default (e.g. ``local-cluster[4,8,16384]`` to emulate a
    multi-executor cluster with real executor JVMs).

    The driver heap is ``spark.driver.memory`` from ``extra_conf``, else
    ``$SPARK_DRIVER_MEM``, else half the host's memory; a heap larger
    than the host raises ``ValueError`` before the JVM launches (see
    :func:`driver_memory`).
    """
    extra_conf = dict(extra_conf or {})
    memory = driver_memory(extra_conf.pop("spark.driver.memory", None))
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Every micro-batch re-plans the same apply + publish plans; their
        # generated classes (~100 per streamed batch) must stay cached.
        # At the default 100 entries the working set overflows the LRU
        # and a batch recompiles (and runs cold) a varying share of it.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        # PySpark records the Python call site of every Column it builds,
        # at ~4x the Py4J round trips of the Column itself. It reads this
        # flag once per process, at the first Column, so it is set here.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
