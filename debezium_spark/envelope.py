"""Change-event envelope model.

Re-expresses Debezium's envelope (reference:
``debezium-core/src/main/java/io/debezium/data/Envelope.java:34-113`` —
operations r/c/u/d/t/m; fields before/after/op/source/ts_ms) as a Spark
``StructType``. The key struct mirrors
``relational/TableSchema.java:56-61`` (PK-derived key); the source block
mirrors ``connector/AbstractSourceInfo.java:22-31`` plus the
Postgres/Yugabyte ordering token (``lsn``,
``connector/postgresql/PostgresOffsetContext.java:36-45``). Tombstones
(``pipeline/EventDispatcher.java:496-508``) are rows with
``is_tombstone = true`` and null value-side structs, since Spark rows
cannot be null wholesale like a Kafka record value can.

The captured table is the source-code-repo table
``(repo, path, commit, lang, content)`` keyed by ``(repo, path)``; the
envelope row schema carries two extra nullable fields (``size_bytes``,
``language``) that only become visible after schema-change events
(see :mod:`debezium_spark.schema_evolution`).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Operation codes — data/Envelope.java:34-78.
OP_READ = "r"  # snapshot read
OP_CREATE = "c"
OP_UPDATE = "u"
OP_DELETE = "d"
OP_TRUNCATE = "t"
OP_MESSAGE = "m"
ALL_OPS = (OP_READ, OP_CREATE, OP_UPDATE, OP_DELETE, OP_TRUNCATE, OP_MESSAGE)

# Snapshot markers — connector/SnapshotRecord.java:16-44.
SNAPSHOT_FIRST = "first"
SNAPSHOT_TRUE = "true"
SNAPSHOT_LAST = "last"
SNAPSHOT_FALSE = "false"
SNAPSHOT_INCREMENTAL = "incremental"

KEY_COLS = ("repo", "path")

# Row image fields of the captured table. v0 schema is the first five;
# size_bytes / language exist physically in the log (parquet structs are
# fixed) but are only *logically visible* from their schema version on.
ROW_FIELDS = ("repo", "path", "commit", "lang", "content")
EVOLVED_ROW_FIELDS = ("repo", "path", "commit", "lang", "content", "size_bytes")

ROW_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)

KEY_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
    ]
)

SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("ts_ms", T.LongType()),
        T.StructField("snapshot", T.StringType()),
        T.StructField("txId", T.LongType()),
        T.StructField("table", T.StringType()),
    ]
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), True),
        T.StructField("key", KEY_SCHEMA, False),
        T.StructField("before", ROW_SCHEMA, True),
        T.StructField("after", ROW_SCHEMA, True),
        T.StructField("source", SOURCE_SCHEMA, True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("schema_version", T.IntegerType(), False),
        T.StructField("is_tombstone", T.BooleanType(), False),
        # op='m' (MESSAGE) payload: in-stream schema-change events carry
        # their TableChanges-style JSON here (the analogue of DDL events
        # riding the logical-decoding stream,
        # PgOutputMessageDecoder LOGICAL_DECODING_MESSAGE +
        # EventDispatcher.java:371-407 schema-change dispatch). NULL on
        # every data event; logs written before this field exists read
        # as NULL (parquet schema merge).
        T.StructField("message", T.StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# VerifyRecord-style validators (reference:
# debezium-core/src/test/java/io/debezium/data/VerifyRecord.java:129-227)
# Used by tests; each checks envelope shape for one op kind.
# ---------------------------------------------------------------------------


def is_valid_read(row) -> bool:
    return (
        row["op"] == OP_READ
        and not row["is_tombstone"]
        and row["after"] is not None
        and row["before"] is None
        and _key_matches(row, row["after"])
    )


def is_valid_insert(row) -> bool:
    return (
        row["op"] == OP_CREATE
        and not row["is_tombstone"]
        and row["after"] is not None
        and _key_matches(row, row["after"])
    )


def is_valid_update(row) -> bool:
    # before is optional on updates (Envelope.java:273).
    return (
        row["op"] == OP_UPDATE
        and not row["is_tombstone"]
        and row["after"] is not None
    )


def is_valid_delete(row) -> bool:
    # delete carries before only (Envelope.java:297).
    return (
        row["op"] == OP_DELETE
        and not row["is_tombstone"]
        and row["after"] is None
        and row["before"] is not None
        and _key_matches(row, row["before"])
    )


def is_valid_tombstone(row) -> bool:
    # null value side, key preserved (EventDispatcher.java:496-508).
    return (
        bool(row["is_tombstone"])
        and row["after"] is None
        and row["before"] is None
        and row["key"] is not None
    )


def _key_matches(row, image) -> bool:
    key = row["key"]
    return key["repo"] == image["repo"] and key["path"] == image["path"]
