"""Initial consistent snapshot phase.

Reference algorithm (``relational/RelationalSnapshotChangeEventSource
.java:104-202``): determine captured tables -> lock -> record snapshot
offset -> read structure -> emit READ(``r``) envelopes for every row,
marking the first and last records (``:607-624``;
``connector/SnapshotRecord.java:16-44``). The reference parallelizes
with a connection pool (``:204-224``); here Spark's task parallelism
scans partitions concurrently for free.

Snapshot rows carry ``lsn = 0`` — strictly below every streamed LSN, so
the LWW merge guard makes "streamed event beats snapshot row" (the
incremental-snapshot dedup semantics,
``AbstractIncrementalSnapshotChangeEventSource.java:197-206``) fall out
automatically.

The first/last markers are computed from global min/max key aggregates
(two scalars), not a single-partition window — O(scan), scale-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from debezium_spark.envelope import (
    OP_READ,
    ROW_SCHEMA,
    SNAPSHOT_FIRST,
    SNAPSHOT_LAST,
    SNAPSHOT_TRUE,
)
from debezium_spark.generator import BASE_TS_MS, TABLE_NAME


def read_envelopes(
    rows: DataFrame,
    lsn: int,
    snapshot: Column,
    partitions: int,
    table: str,
    schema_version: int,
) -> DataFrame:
    """READ (``op='r'``) envelopes for ``rows`` at ``lsn``, with the
    ``source.snapshot`` marker ``snapshot`` — the one builder behind the
    initial and the incremental snapshot. The after image carries every
    row field ``rows`` provides; absent ones are NULL."""
    present = set(rows.columns)
    after = F.struct(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in present
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in ROW_SCHEMA
        ]
    )
    return rows.select(
        F.pmod(F.xxhash64("repo"), partitions).cast("int").alias("partition_id"),
        F.lit(lsn).cast("bigint").alias("lsn"),
        F.lit(OP_READ).alias("op"),
        F.struct(F.col("repo"), F.col("path")).alias("key"),
        F.lit(None).cast(ROW_SCHEMA).alias("before"),
        after.alias("after"),
        F.struct(
            F.lit(BASE_TS_MS).cast("bigint").alias("ts_ms"),
            snapshot.alias("snapshot"),
            F.lit(-1).cast("bigint").alias("txId"),
            F.lit(table).alias("table"),
        ).alias("source"),
        F.lit(BASE_TS_MS).cast("bigint").alias("ts_ms"),
        F.lit(int(schema_version)).cast("int").alias("schema_version"),
        F.lit(False).alias("is_tombstone"),
    )


def snapshot_envelopes(
    source: DataFrame, partitions: int = 4, table: str = TABLE_NAME
) -> DataFrame:
    """Emit READ envelopes for the source table (op='r', lsn=0).

    Columns absent from ``source`` (a snapshot select-statement
    override projected them away,
    ``relational/RelationalDatabaseConnectorConfig.java:346``) land as
    NULL in the after image — never captured, like the reference's
    overridden SELECT."""
    bounds = source.agg(
        F.min(F.concat_ws(" ", "repo", "path")).alias("lo"),
        F.max(F.concat_ws(" ", "repo", "path")).alias("hi"),
    ).collect()[0]
    keystr = F.concat_ws(" ", "repo", "path")
    marker = (
        F.when(keystr == bounds["lo"], F.lit(SNAPSHOT_FIRST))
        .when(keystr == bounds["hi"], F.lit(SNAPSHOT_LAST))
        .otherwise(F.lit(SNAPSHOT_TRUE))
    )
    return read_envelopes(source, 0, marker, partitions, table, 0)
