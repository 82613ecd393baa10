"""Change-log tail reader — the WAL/binlog analogue.

The decoded logical-replication stream is a parquet/Iceberg table of
envelope rows ordered by ``(partition_id, lsn)`` (what
``MySqlStreamingChangeEventSource.java:844-869`` /
``PgOutputMessageDecoder.java:197-218`` would have produced). Batch
replay slices it by LSN range — the parquet scan prunes on ``lsn``
min/max stats, so each micro-batch reads only its files. Restart-
position search (``WalPositionLocator.java:20-56``) reduces to
``WHERE lsn > committed``; over-reads are harmless because the sink
merge is LSN-guarded idempotent.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from debezium_spark.envelope import EVENT_SCHEMA


def read_changelog_range(
    spark: SparkSession,
    path: str,
    lsn_lo: int,
    lsn_hi: int,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Events with ``lsn_lo <= lsn < lsn_hi`` (filter pushed to scan).

    ``schema`` (a StructType or DDL string): the log's schema when the
    caller already knows it (a replay loop reads every window of one
    log); without it the parquet footers are inferred, which costs a
    Spark job per call."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    # a SQL predicate is parsed JVM-side in one round trip; the same
    # predicate as Column operators costs ~60 (each captures its origin)
    return reader.parquet(path).filter(
        f"lsn >= {int(lsn_lo)} AND lsn < {int(lsn_hi)}"
    )


def changelog_absent(path: str) -> bool:
    """True iff the changelog directory does not exist yet or holds no
    parquet segments — the ONLY condition under which a read error may
    be treated as "no events yet". Any other analysis failure (a
    mistyped path pointing at a different table, a segment without an
    ``lsn`` column) must propagate: swallowing it would silently replay
    nothing and report a converged state."""
    if not os.path.isdir(path):
        return True
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return False
    return True


def changelog_schema(spark: SparkSession, path: str) -> str | None:
    """The log's schema as DDL, read from its parquet footers (one
    Spark job), or ``None`` for a log that does not exist yet."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).schema.toDDL()
    except AnalysisException:
        if changelog_absent(path):
            return None
        raise


def lsn_bounds(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> tuple[int, int] | None:
    """(min, max) LSN of the log, or ``None`` for a log that does not
    exist yet or holds zero events — a streaming-tail deployment starts
    consuming before the first segment lands, and the engine must treat
    that as a clean no-op rather than crash on ``int(None)``.

    ``schema``: the log's schema when the caller already resolved it
    (see :func:`changelog_schema`); without it the footers are read."""
    from pyspark.errors import AnalysisException

    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        row = (
            reader.parquet(path)
            .agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi"))
            .collect()[0]
        )
    except AnalysisException:
        if changelog_absent(path):
            return None
        raise
    if row["lo"] is None:
        return None
    return int(row["lo"]), int(row["hi"])


def stream_changelog(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Structured Streaming file source over the change-log directory.

    Files are picked up in modification-time order; the engine's writer
    (:func:`write_changelog_ordered`) stamps mtimes in LSN order so
    micro-batches follow the log — the same per-partition-order
    contract the reference inherits from Kafka. The LSN-guarded merge
    tolerates reordering of updates/inserts across batches (per-row
    guard) and ANY order within a batch (in-batch LWW), but a DELETE
    applied in an earlier batch than a lower-LSN event of the same key
    would be resurrected by it (deletes remove state, so there is no
    row left to guard) — hence ordered pickup is part of the source
    contract, exactly as it is for a binlog segment directory.
    """
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def write_changelog_ordered(
    df: DataFrame, path: str, n_files: int = 8
) -> None:
    """Write the change log as LSN-range-partitioned files with
    monotone mtimes (so the streaming file source replays in log
    order, like a binlog segment directory)."""
    row = df.agg(F.min("lsn").alias("lo"), F.max("lsn").alias("hi")).collect()[0]
    lo, hi = row["lo"], row["hi"]
    span = max((int(hi) - int(lo) + n_files) // n_files, 1)
    (
        df.withColumn("__seg", ((F.col("lsn") - lo) / span).cast("int"))
        .repartitionByRange(n_files, "__seg", "lsn")
        .sortWithinPartitions("lsn")
        .drop("__seg")
        .write.mode("overwrite")
        .parquet(path)
    )
    # stamp mtimes in filename order for the streaming source
    files = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    t0 = time.time() - len(files)
    for i, f in enumerate(files):
        os.utime(os.path.join(path, f), (t0 + i, t0 + i))
