"""SparkSession factory tuned for the sandbox (local[N]) but with
settings that carry to a multi-executor cluster (AQE, Arrow, UTC)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    """
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Every micro-batch re-plans the same apply + publish plans; their
        # generated classes (~100 per streamed batch) must stay cached.
        # At the default 100 entries the working set overflows the LRU
        # and a batch recompiles (and runs cold) a varying share of it.
        .config("spark.sql.codegen.cache.maxEntries", "512")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
