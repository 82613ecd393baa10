"""Single-message-transform (SMT) library re-expressed as DataFrame ops.

Each function maps 1:1 to a reference transform or dispatcher step
(file:line cited per function); all are pure column expressions — they
run JVM-side inside whole-stage codegen, no Python in the hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from debezium_spark.envelope import (
    ALL_OPS,
    OP_CREATE,
    OP_DELETE,
    OP_MESSAGE,
    OP_TRUNCATE,
    OP_UPDATE,
)
from debezium_spark.lake import _ident, _literal


# ---------------------------------------------------------------------------
# Dispatcher-stage filters (pipeline/EventDispatcher.java)
# ---------------------------------------------------------------------------

def drop_tombstones(df: DataFrame) -> DataFrame:
    """Drop Kafka-log-compaction tombstones; the table effect of a delete
    is the ``d`` event itself (EventDispatcher.java:496-508). Analogue of
    ExtractNewRecordState's drop-tombstones mode."""
    return df.filter("NOT is_tombstone")


def skip_operations(df: DataFrame, skipped: tuple[str, ...]) -> DataFrame:
    """``skipped.operations`` filter (EventDispatcher.java:147-148,294-301)."""
    return df.filter(~F.col("op").isin(list(skipped)))


def table_filter(
    df: DataFrame, include_regex: str | None = None, exclude_regex: str | None = None
) -> DataFrame:
    """Table include/exclude filtering (relational/RelationalTableFilters.java:1-127,
    Selectors.java:1-335). Catalyst pushes this to the scan."""
    out = df
    if include_regex:
        out = out.filter(F.col("source.table").rlike(include_regex))
    if exclude_regex:
        out = out.filter(~F.col("source.table").rlike(exclude_regex))
    return out


def column_filter(
    df: DataFrame,
    include_regex: str | None = None,
    exclude_regex: str | None = None,
    image_cols: tuple[str, ...] = ("before", "after"),
    always_keep: tuple[str, ...] = ("repo", "path"),
) -> DataFrame:
    """Column include/exclude filtering
    (``column.include.list``/``column.exclude.list``;
    relational/Tables.ColumnNameFilter,
    RelationalSnapshotChangeEventSource.java:688-706): rebuild each row
    image keeping only matching fields. Key columns are always kept
    (the reference never filters the key). Pure struct projection —
    excluded columns are pruned before they ever shuffle."""
    import re

    inc = re.compile(include_regex) if include_regex else None
    exc = re.compile(exclude_regex) if exclude_regex else None

    def keep(name: str) -> bool:
        if name in always_keep:
            return True
        if inc is not None and not inc.fullmatch(name):
            return False
        if exc is not None and exc.fullmatch(name):
            return False
        return True

    out = df
    for image in image_cols:
        fields = [f.name for f in df.schema[image].dataType.fields]
        kept = [f for f in fields if keep(f)]
        rebuilt = F.struct(
            *[F.col(f"{image}.{f}").alias(f) for f in kept]
        )
        out = out.withColumn(
            image, F.when(F.col(image).isNotNull(), rebuilt)
        )
    return out


def skip_unchanged_updates(df: DataFrame) -> DataFrame:
    """Suppress UPDATEs whose images are identical
    (RelationalChangeRecordEmitter.java:110-119, skip-messages-without-change)."""
    unchanged = (F.col("op") == OP_UPDATE) & F.col("before").eqNullSafe(
        F.col("after")
    )
    return df.filter(~unchanged)


# ---------------------------------------------------------------------------
# PK-change split + key normalization
# ---------------------------------------------------------------------------

DEFAULT_KEY_COLUMNS = ("repo", "path")


def _image_key(image_col: str, key_columns: tuple[str, ...]) -> str:
    return "struct(" + ", ".join(
        f"{_ident(image_col)}.{_ident(c)} AS {_ident(c)}" for c in key_columns
    ) + ")"


def _sql_type(t: DataType) -> str:
    """``t`` as a SQL type, struct field names quoted."""
    if isinstance(t, StructType):
        return "STRUCT<" + ", ".join(
            f"{_ident(f.name)}: {_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in t.fields
        ) + ">"
    if isinstance(t, ArrayType):
        return f"ARRAY<{_sql_type(t.elementType)}>"
    if isinstance(t, MapType):
        return f"MAP<{_sql_type(t.keyType)}, {_sql_type(t.valueType)}>"
    return t.simpleString()


def _target_key(schema: StructType, key_columns: tuple[str, ...]) -> str:
    """Key of the row the event affects, built from the configured key
    columns: before-image for deletes, after-image otherwise; tombstones
    / imageless rows fall back to the log key (custom columns absent
    from it are NULL — such rows are dropped upstream anyway)."""
    # the fallback's missing-column NULLs must carry the IMAGE field's
    # type (a bigint key column typed string here would make the
    # CASE branches incompatible at analysis time)
    after = schema["after"].dataType
    key_names = schema["key"].dataType.names
    fallback = ", ".join(
        (
            f"`key`.{_ident(c)}"
            if c in key_names
            else f"CAST(NULL AS {_sql_type(after[c].dataType)})"
        )
        + f" AS {_ident(c)}"
        for c in key_columns
    )
    return (
        f"CASE WHEN op = {_literal(OP_DELETE)} THEN {_image_key('before', key_columns)} "
        f"WHEN `after` IS NOT NULL THEN {_image_key('after', key_columns)} "
        f"ELSE struct({fallback}) END"
    )


def pk_change_split(
    df: DataFrame, key_columns: tuple[str, ...] = DEFAULT_KEY_COLUMNS
) -> DataFrame:
    """An UPDATE whose key changed becomes DELETE(old key) + CREATE(new
    key) (RelationalChangeRecordEmitter.java:171-185; headers
    ``__debezium.oldkey/newkey`` become the two rows' keys here).

    The CREATE gets ``lsn + 1`` so per-key LSN order stays strict; the
    generator leaves odd LSN slots free for exactly this.

    ``key_columns`` is the ``message.key.columns`` analogue
    (relational/Key.java:27-70 CustomKeyMapper,
    RelationalDatabaseConnectorConfig.java:321): the key is built from
    these row-image columns instead of the default PK.
    """
    schema = df.schema
    moved = " OR ".join(
        f"`before`.{_ident(c)} != `after`.{_ident(c)}" for c in key_columns
    )
    is_pk_change = f"op = {_literal(OP_UPDATE)} AND `before` IS NOT NULL AND ({moved})"

    def ev(**overrides: str) -> str:
        return "struct(" + ", ".join(
            f"{overrides.get(c, _ident(c))} AS {_ident(c)}" for c in schema.names
        ) + ")"

    delete_part = ev(
        op=_literal(OP_DELETE),
        after=f"CAST(NULL AS {_sql_type(schema['after'].dataType)})",
        key=_image_key("before", key_columns),
    )
    create_part = ev(
        op=_literal(OP_CREATE),
        lsn="lsn + 1",
        before=f"CAST(NULL AS {_sql_type(schema['before'].dataType)})",
        key=_image_key("after", key_columns),
    )
    # the pass-through branch must carry the SAME key struct type as the
    # split branches (custom key columns), so normalize it here too
    passthrough = ev(key=_target_key(schema, key_columns))
    return df.selectExpr(
        f"inline(CASE WHEN {is_pk_change} THEN array({delete_part}, {create_part}) "
        f"ELSE array({passthrough}) END)"
    )


def normalize_target_key(
    df: DataFrame, key_columns: tuple[str, ...] = DEFAULT_KEY_COLUMNS
) -> DataFrame:
    """Set ``key`` to the row the event *affects*: before-image key for
    deletes, after-image key otherwise (TableSchema.keyFromColumnData,
    relational/TableSchema.java:126; key columns configurable per
    ``message.key.columns``, relational/Key.java:27-70). Run after
    :func:`pk_change_split`."""
    return df.withColumn("key", F.expr(_target_key(df.schema, key_columns)))


# ---------------------------------------------------------------------------
# Event validation / error handling (pipeline/ErrorHandler.java:1-146;
# EventDispatcher failure modes :319-335 — fail / warn / skip)
# ---------------------------------------------------------------------------

# Envelope-shape violations (VerifyRecord.java:129-227 rules) as an
# ordered ``(stage, message, predicate)`` list — evaluation order
# mirrors the Connect task pipeline (key converter, then value
# converter), and the FIRST matching rule names a record's failure
# (DeadLetterQueueReporter attaches exactly one error context per
# record). Tombstones are exempt (null value side by design); control
# ops 't'/'m' carry no row images and no table key (Envelope.java:319
# truncate has no image).
_NOT_TOMB = "NOT is_tombstone"
_INVALID_RULES = [
    (
        "KEY_CONVERTER",
        "missing or incomplete key",
        f"NOT coalesce(op IN ({_literal(OP_TRUNCATE)}, {_literal(OP_MESSAGE)}), false) AND "
        "(`key` IS NULL OR `key`.repo IS NULL OR `key`.path IS NULL)",
    ),
    (
        "VALUE_CONVERTER",
        "unknown or missing op code",
        f"{_NOT_TOMB} AND (op IS NULL OR op NOT IN "
        f"({', '.join(map(_literal, ALL_OPS))}))",
    ),
    (
        "VALUE_CONVERTER",
        "c/r/u event without after image",
        f"{_NOT_TOMB} AND op IN ('r', 'c', 'u') AND `after` IS NULL",
    ),
    (
        "VALUE_CONVERTER",
        "delete event without before image",
        f"{_NOT_TOMB} AND op = {_literal(OP_DELETE)} AND `before` IS NULL",
    ),
]
# True when the envelope is malformed under any rule
_ANY_INVALID = " OR ".join(f"({pred})" for _, _, pred in _INVALID_RULES)


def event_invalid(df: DataFrame) -> Column:
    """OR of every ``_INVALID_RULES`` predicate — True when the
    envelope is malformed under any rule."""
    return F.expr(_ANY_INVALID)


# Connect's DeadLetterQueueReporter error-context header keys
# (connect/runtime/errors/DeadLetterQueueReporter.java — the public
# `errors.deadletterqueue.context.headers.enable` surface).
DLQ_EXCEPTION_CLASS = "org.apache.kafka.connect.errors.DataException"


def dead_letter_records(
    df: DataFrame,
    source_topic: str = "events",
    connector: str = "debezium-spark",
    task_id: int = 0,
) -> DataFrame:
    """`errors.tolerance=all` + DLQ routing: the invalid slice of a
    batch, each record carrying Connect's DeadLetterQueueReporter
    error-context headers (``__connect.errors.*``) in the standard
    map<string,string> ``headers`` column. The record VALUE is the
    original envelope unchanged — like the reference, the DLQ keeps
    the raw record so it can be repaired and replayed. Stage/message
    come from the first matching ``_INVALID_RULES`` entry.

    Pure scan→filter→project (codegen, no shuffle): at scale this is
    the produce-to-DLQ-topic side channel, not a join."""

    def first_match(field: int) -> str:
        # field 0 is a rule's stage, 1 its message
        whens = " ".join(
            f"WHEN {r[2]} THEN {_literal(r[field])}" for r in _INVALID_RULES
        )
        return f"CASE {whens} ELSE CAST(NULL AS STRING) END"

    entries = [
        ("topic", _literal(source_topic)),
        ("partition", "CAST(partition_id AS STRING)"),
        ("offset", "CAST(lsn AS STRING)"),
        ("connector.name", _literal(connector)),
        ("task.id", _literal(str(task_id))),
        ("stage", first_match(0)),
        ("exception.class.name", _literal(DLQ_EXCEPTION_CLASS)),
        ("exception.message", first_match(1)),
    ]
    headers = "map(" + ", ".join(
        f"{_literal('__connect.errors.' + k)}, {v}" for k, v in entries
    ) + ")"
    return df.filter(_ANY_INVALID).withColumn("headers", F.expr(headers))


def enforce_valid(df: DataFrame, mode: str = "fail") -> DataFrame:
    """Apply the configured error-handling mode in-plan:

    - ``fail``: any invalid event aborts the batch BEFORE its commit
      (``raise_error`` inside the pipeline — no extra validation job);
    - ``warn`` / ``skip``: invalid events are filtered out; ``warn``
      additionally counts them via the engine's observed metrics;
    - ``dlq``: like ``skip`` for the main path — the engine routes the
      invalid slice to the dead-letter sink via
      :func:`dead_letter_records` (Connect ``errors.tolerance=all`` +
      ``errors.deadletterqueue.topic.name``).
    """
    if mode == "fail":
        # the guard rides the (always-used) lsn column so the optimizer
        # cannot dead-code-eliminate it
        return df.withColumn(
            "lsn",
            F.expr(
                f"CASE WHEN {_ANY_INVALID} THEN CAST(raise_error(concat("
                "'invalid envelope at lsn=', CAST(lsn AS STRING))) AS BIGINT) "
                "ELSE lsn END"
            ),
        )
    if mode in ("warn", "skip", "dlq"):
        return df.filter(f"NOT ({_ANY_INVALID})")
    raise ValueError(f"unknown error mode {mode!r}")


# ---------------------------------------------------------------------------
# ExtractNewRecordState family (transforms/ExtractNewRecordState.java:1-303)
# ---------------------------------------------------------------------------

def _add_field_spec(spec: str, prefix: str) -> tuple[str, str]:
    """Parse one ``add.fields`` entry: ``field``, ``struct.field``, or
    ``path:NEW_NAME`` → (column path, output alias). Dotted paths
    flatten with ``_`` under the prefix: ``source.ts_ms`` →
    ``__source_ts_ms`` (ExtractNewRecordStateConfigDefinition.java:
    175-185; prefix default ``__`` per METADATA_FIELD_PREFIX)."""
    path, _, renamed = spec.partition(":")
    path = path.strip()
    default = path.replace(".", "_")
    return path, prefix + (renamed.strip() or default)


def extract_new_record_state(
    df: DataFrame,
    delete_mode: str = "drop",
    add_op: bool = True,
    add_ts_ms: bool = True,
    add_source_fields: tuple[str, ...] = (),
    add_fields: tuple[str, ...] = (),
    add_fields_prefix: str = "__",
    route_by_field: str | None = None,
    row_fields: tuple[str, ...] = ("repo", "path", "commit", "lang", "content"),
    key_fields: tuple[str, ...] = ("repo", "path"),
    keep_tombstones: bool | None = None,
) -> DataFrame:
    """Unwrap the envelope to a flat row ("flatten/unwrap" SMT).

    delete_mode — the ``delete.tombstone.handling.mode`` values of the
    Default strategy
    (``extractnewstate/DefaultDeleteHandlingStrategy.java:1-92``,
    ``ExtractNewRecordStateConfigDefinition.java:60-76``):

    - ``drop``: delete records (and incoming tombstones) vanish;
    - ``rewrite``: delete rows keep their ``before`` image with
      ``__deleted = true``;
    - ``tombstone``: delete records become tombstone rows — key fields
      populated (``key_fields``), every other unwrapped field NULL; the
      flat-DataFrame stand-in for Kafka's key+null-value record.
      Incoming envelope tombstones are KEPT in this shape (the Default
      strategy's handleTombstoneRecord passes them through);
    - ``rewrite-with-tombstone``: the rewrite rows PLUS one tombstone
      row per delete (``__deleted`` NULL on the tombstone — it has no
      value image).

    The deprecated Legacy strategy
    (``extractnewstate/LegacyDeleteHandlingStrategy.java:28-80``) is
    the same machinery under two independent knobs: its
    ``delete.handling.mode=none`` is ``delete_mode="none"`` here
    (deletes flatten to key-populated null-value rows — byte-identical
    output shape to ``tombstone``'s delete rows), and its separate
    ``drop.tombstones`` boolean is ``keep_tombstones`` — ``None``
    keeps each Default mode's own retention (tombstone keeps, the
    rest drop), an explicit bool overrides it for ANY mode, retained
    tombstones flattening to key + all-NULL rows (``__deleted`` NULL
    under rewrite: a tombstone has no value image to stamp). Note:
    ``rewrite-with-tombstone`` + ``keep_tombstones=True`` on a feed
    that still carries envelope tombstones emits BOTH the synthetic
    and the pass-through tombstone per delete (indistinguishable
    key+NULL rows) — exactly what the reference combination does;
    the default (drop) avoids the doubling, and feeds normally
    disable source tombstones when using this mode.

    add_fields: ``add.fields`` specs — envelope/source paths, each
    optionally renamed (``lsn``, ``source.txId:TX``), emitted under
    ``add_fields_prefix``. route_by_field: ``route.by.field`` — the
    named unwrapped column's value becomes the record's ``topic``
    (ExtractNewRecordStateConfigDefinition.java:159-185).
    """
    def _null_of(f: str):
        # NULL of exactly the after-image field's type
        return F.when(F.lit(False), F.col("after").getField(f))

    is_del = F.col("op") == OP_DELETE
    # default retention: tombstone mode keeps (Default strategy passes
    # them through), every other mode — including legacy "none" —
    # drops, matching the legacy drop.tombstones=true default
    if keep_tombstones is None:
        keep_tombstones = delete_mode == "tombstone"
    tombs_in = None
    if (
        delete_mode in ("drop", "rewrite", "rewrite-with-tombstone")
        and keep_tombstones
    ):
        tombs_in = df.filter(F.col("is_tombstone"))
    if delete_mode == "drop":
        df = drop_tombstones(df).filter(F.col("op") != OP_DELETE)
        image = F.col("after")

        def _field(f: str):
            return image.getField(f)

    elif delete_mode in ("rewrite", "rewrite-with-tombstone"):
        df = drop_tombstones(df)
        image = F.when(is_del, F.col("before")).otherwise(F.col("after"))

        def _field(f: str):
            return image.getField(f)

    elif delete_mode in ("tombstone", "none"):
        if not keep_tombstones:
            df = drop_tombstones(df)
        # field-level (not struct-level CASE — the images' struct types
        # differ in nullability/evolved fields): keys survive from the
        # tombstone key / delete before-image, value fields go NULL
        def _field(f: str):
            if f in key_fields:
                return (
                    F.when(F.col("is_tombstone"), F.col("key").getField(f))
                    .when(is_del, F.col("before").getField(f))
                    .otherwise(F.col("after").getField(f))
                )
            return F.when(
                ~F.col("is_tombstone") & ~is_del,
                F.col("after").getField(f),
            )

    else:
        raise ValueError(f"unknown delete_mode {delete_mode!r}")

    rewrite_mode = delete_mode in ("rewrite", "rewrite-with-tombstone")

    def _assemble(field_fn, deleted: Column | None) -> list[Column]:
        # one column-assembly for all three row shapes (live, synthetic
        # tombstone, pass-through tombstone) — a new add_* option added
        # here reaches every branch, keeping unionByName schemas aligned
        cs = [field_fn(f).alias(f) for f in row_fields]
        if add_op:
            cs.append(F.col("op").alias("__op"))
        if add_ts_ms:
            cs.append(F.col("ts_ms").alias("__ts_ms"))
        for sf_ in add_source_fields:
            cs.append(F.col(f"source.{sf_}").alias(f"__source_{sf_}"))
        for spec in add_fields:
            path, alias = _add_field_spec(spec, add_fields_prefix)
            cs.append(F.col(path).alias(alias))
        if route_by_field is not None:
            cs.append(field_fn(route_by_field).cast("string").alias("topic"))
        if deleted is not None:
            cs.append(deleted.alias("__deleted"))
        return cs

    out = df.select(
        *_assemble(
            _field,
            (F.col("op") == OP_DELETE) if rewrite_mode else None,
        )
    )
    null_deleted = F.lit(None).cast("boolean")
    if delete_mode == "rewrite-with-tombstone":
        def _tomb_field(f: str):
            if f in key_fields:
                return F.col("before").getField(f)
            return _null_of(f)

        tombs = df.filter(F.col("op") == OP_DELETE).select(
            *_assemble(_tomb_field, null_deleted)
        )
        out = out.unionByName(tombs)
    if tombs_in is not None:
        # legacy drop.tombstones=false under a non-tombstone mode:
        # incoming envelope tombstones pass through as key + all-NULL
        # flat rows (LegacyDeleteHandlingStrategy.handleTombstoneRecord
        # returns the record unchanged; a Kafka null-value record
        # flattens to exactly this)
        def _pt_field(f: str):
            if f in key_fields:
                return F.col("key").getField(f)
            return _null_of(f)

        out = out.unionByName(
            tombs_in.select(
                *_assemble(
                    _pt_field, null_deleted if rewrite_mode else None
                )
            )
        )
    return out


def extract_changed_record_state(
    df: DataFrame,
    row_fields: tuple[str, ...] = ("repo", "path", "commit", "lang", "content"),
) -> DataFrame:
    """Header listing changed column names = diff(before, after)
    (transforms/ExtractChangedRecordState.java:1-113). Pure array ops."""
    changed = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col("before").getField(f).eqNullSafe(
                        F.col("after").getField(f)
                    ),
                    F.lit(f),
                )
                for f in row_fields
            ]
        )
    )
    return df.withColumn("__changed", changed)


REPLICA_IDENTITY_MODES = ("full", "default", "change", "nothing")


def replica_identity_shape(
    df: DataFrame,
    mode: str,
    key_fields: tuple[str, ...] = ("repo", "path"),
    row_fields: tuple[str, ...] = ("repo", "path", "commit", "lang", "content"),
) -> DataFrame:
    """Shape before/after images per the table's REPLICA IDENTITY.

    The yugabyte fork's emitter drops the old column values for UPDATE
    under CHANGE or DEFAULT (PostgresChangeRecordEmitter.java:110-118),
    keeps full old rows only under FULL, and under the yboutput CHANGE
    identity the new image carries only the columns that actually
    changed (sparse {value,set} cells — YBRecordsStreamProducerIT).
    DELETE keeps only the key columns in `before` under DEFAULT/CHANGE
    (pgoutput old-key semantics) and nothing under NOTHING.

    The log itself always carries full images (the generator writes
    them); this transform is the emitter-side projection, so all four
    modes are derivable from one log — unchanged/omitted cells become
    NULL fields of the image struct (a Spark row cannot drop struct
    fields per-row the way a Kafka Connect Struct can omit them).
    """
    if mode not in REPLICA_IDENTITY_MODES:
        raise ValueError(f"unknown replica identity {mode!r}")
    if mode == "full":
        return df
    new_before, new_after = _identity_images(df, mode, key_fields)
    return df.select(
        *[
            new_before.alias("before")
            if c == "before"
            else new_after.alias("after")
            if c == "after"
            else c
            for c in df.columns
        ]
    )


def _identity_images(
    df: DataFrame, mode: str, key_fields: tuple[str, ...]
) -> tuple[Column, Column]:
    """(before, after) expressions for one replica-identity mode —
    shared by :func:`replica_identity_shape` (one table) and
    :func:`apply_replica_identity_autoset` (per-table CASE cascade)."""
    if mode not in REPLICA_IDENTITY_MODES:
        raise ValueError(f"unknown replica identity {mode!r}")
    is_u = F.col("op") == OP_UPDATE
    is_d = F.col("op") == OP_DELETE
    before = F.col("before")
    if mode == "full":
        return before, F.col("after")
    # rebuild against the PHYSICAL struct (may carry not-yet-visible
    # evolved fields like size_bytes), not the logical row_fields view
    img_type = df.schema["before"].dataType
    phys_fields = img_type.fieldNames()

    def _key_only(img: Column) -> Column:
        kept = [
            (
                img.getField(f)
                if f in key_fields
                else F.lit(None).cast(img_type[f].dataType)
            ).alias(f)
            for f in phys_fields
        ]
        return F.when(img.isNotNull(), F.struct(*kept))

    if mode == "nothing":
        return F.when(~(is_u | is_d), before), F.col("after")

    # default | change: update loses before entirely, delete keeps key only
    new_before = (
        F.when(is_u, F.lit(None).cast(img_type))
        .when(is_d, _key_only(before))
        .otherwise(before)
    )
    new_after = F.col("after")
    if mode == "change":
        # sparse new image: only changed (or key) cells survive on
        # update; the diff runs against the ORIGINAL full before image
        sparse_src = F.struct(
            *[
                (
                    F.col("after").getField(f)
                    if f in key_fields
                    else F.when(
                        ~F.col("after")
                        .getField(f)
                        .eqNullSafe(F.col("before").getField(f))
                        | F.col("before").isNull(),
                        F.col("after").getField(f),
                    )
                ).alias(f)
                for f in phys_fields
            ]
        )
        new_after = F.when(
            is_u & F.col("after").isNotNull(), sparse_src
        ).otherwise(F.col("after"))
    return new_before, new_after


# replica.identity.autoset.values grammar — byte-for-byte the reference
# regex (ReplicaIdentityMapper.java:30-31): CHANGE is the in-database
# yb identity and is NOT settable via autoset.
REPLICA_AUTOSET_PATTERN = re.compile(
    r"(?i)^\s*(?P<tablepredicate>[^\s:]+):"
    r"(?P<replicaidentity>DEFAULT|(INDEX) (?P<indexname>.\w*)|FULL|NOTHING)\s*$"
)


def parse_replica_identity_autoset(
    value: str | None,
) -> list[tuple[re.Pattern, str, str | None]]:
    """Parse ``replica.identity.autoset.values``: comma-separated
    ``<table regex>:<DEFAULT|INDEX <name>|FULL|NOTHING>`` entries →
    [(compiled regex, mode, index_name)]. Non-matching entries are
    dropped, as the reference's filter(Matcher::matches) does
    (ReplicaIdentityMapper.java:75-82)."""
    if not value:
        return []
    out = []
    for entry in value.split(","):
        m = REPLICA_AUTOSET_PATTERN.match(entry)
        if not m:
            continue
        identity = m.group("replicaidentity").split()[0].lower()
        out.append(
            (
                re.compile(m.group("tablepredicate")),
                identity,
                m.group("indexname"),
            )
        )
    return out


def find_replica_identity(
    specs: list[tuple[re.Pattern, str, str | None]], table: str
) -> str | None:
    """Identity for one table, or None when no regex matches; more
    than one matching regex is an error, exactly as the reference's
    reducing stream throws (ReplicaIdentityMapper.java:56-60)."""
    hits = [mode for pat, mode, _ in specs if pat.fullmatch(table)]
    if len(hits) > 1:
        raise ValueError(
            f"More than one regular expression matched table {table!r}"
        )
    return hits[0] if hits else None


def apply_replica_identity_autoset(
    df: DataFrame,
    autoset: str,
    default_mode: str = "change",
    key_fields: tuple[str, ...] = ("repo", "path"),
    table_col: str = "source.table",
) -> DataFrame:
    """Per-table replica-identity application: every table matching an
    autoset entry gets that identity's image shaping; unmatched tables
    keep ``default_mode`` (the connector leaves their identity as-is —
    for yb that is CHANGE, PostgresConnectorConfig.java:895).

    ``INDEX <name>`` shapes like DEFAULT with ``key_fields`` as the
    named index's columns — this engine's key IS its identity index.

    Scale shape: the distinct-table scan is control-plane (schema-
    registry cardinality, one small job); the shaping itself is a
    per-mode CASE cascade on the table column — pure codegen, zero
    extra shuffle, one pass."""
    specs = parse_replica_identity_autoset(autoset)
    tables = [
        r["t"]
        for r in df.select(F.col(table_col).alias("t")).distinct().collect()
    ]
    by_mode: dict[str, list[str]] = {}
    for t in tables:
        mode = find_replica_identity(specs, t) or default_mode
        if mode == "index":
            mode = "default"
        by_mode.setdefault(mode, []).append(t)

    new_before: Column | None = None
    new_after: Column | None = None
    for mode, tbls in sorted(by_mode.items()):
        b, a = _identity_images(df, mode, key_fields)
        cond = F.col(table_col).isin(tbls)
        new_before = (
            F.when(cond, b) if new_before is None else new_before.when(cond, b)
        )
        new_after = (
            F.when(cond, a) if new_after is None else new_after.when(cond, a)
        )
    if new_before is None:  # empty frame: nothing to shape
        return df
    return df.select(
        *[
            new_before.alias("before")
            if c == "before"
            else new_after.alias("after")
            if c == "after"
            else c
            for c in df.columns
        ]
    )


# ---------------------------------------------------------------------------
# Column mappers (relational/mapping/ColumnMappers.java:55-74)
# ---------------------------------------------------------------------------

def truncate_image_field(df: DataFrame, image_col: str, field: str, n: int) -> DataFrame:
    """``column.truncate.to.N.chars`` (relational/mapping/TruncateStrings.java)."""
    return df.withColumn(
        image_col,
        F.when(
            F.col(image_col).isNotNull(),
            F.col(image_col).withField(field, F.substring(F.col(f"{image_col}.{field}"), 1, n)),
        ),
    )


def mask_image_field(df: DataFrame, image_col: str, field: str, mask: str = "***") -> DataFrame:
    """``column.mask.with.N.chars`` (relational/mapping/MaskStrings.java)."""
    return df.withColumn(
        image_col,
        F.when(
            F.col(image_col).isNotNull(),
            F.col(image_col).withField(field, F.lit(mask)),
        ),
    )


def hash_mask_image_field(
    df: DataFrame, image_col: str, field: str, salt: str, bits: int = 256
) -> DataFrame:
    """``column.mask.hash.SHA-256.with.salt.S`` (MaskStrings.java HashValueConverter)."""
    return df.withColumn(
        image_col,
        F.when(
            F.col(image_col).isNotNull(),
            F.col(image_col).withField(
                field, F.sha2(F.concat(F.lit(salt), F.col(f"{image_col}.{field}")), bits)
            ),
        ),
    )


# ---------------------------------------------------------------------------
# Post-processors (EventDispatcher.java:703-710;
# processors/reselect/ReselectColumnsPostProcessor.java)
# ---------------------------------------------------------------------------

def reselect_columns(
    df: DataFrame,
    state: DataFrame,
    fields: tuple[str, ...],
    image_col: str = "after",
) -> DataFrame:
    """Re-select unavailable (TOAST-elided) columns from the current
    table state: where the event's after-image carries NULL for a
    reselect-able field, back-fill it by key lookup against ``state``
    (columns: repo, path, + the fields). Broadcast-joined when the
    state projection is small; at scale this is a key-equi-join that
    co-partitions with the compaction shuffle."""
    st = state.select(
        F.col("repo").alias("__r"),
        F.col("path").alias("__p"),
        *[F.col(f).alias(f"__st_{f}") for f in fields],
    )
    out = df.join(
        st,
        (F.col(f"{image_col}.repo") == F.col("__r"))
        & (F.col(f"{image_col}.path") == F.col("__p")),
        "left",
    )
    img = F.col(image_col)
    for f in fields:
        img = F.when(
            F.col(image_col).isNotNull(),
            img.withField(
                f, F.coalesce(F.col(f"{image_col}.{f}"), F.col(f"__st_{f}"))
            ),
        )
    return out.withColumn(image_col, img).drop(
        "__r", "__p", *[f"__st_{f}" for f in fields]
    )


# ---------------------------------------------------------------------------
# Routing / partitioning
# ---------------------------------------------------------------------------

def partition_routing(df: DataFrame, n_partitions: int, *cols: str) -> DataFrame:
    """Stable partition = abs(hash(fields)) % N
    (transforms/partitions/PartitionRouting.java:48-57,239-241)."""
    return df.withColumn(
        "__partition",
        F.pmod(F.abs(F.xxhash64(*[F.col(c) for c in cols])), n_partitions).cast("int"),
    )


def by_logical_table_router(
    df: DataFrame, topic_regex: str, topic_replacement: str, add_shard_to_key: bool = False
) -> DataFrame:
    """Merge sharded tables into one logical route
    (transforms/ByLogicalTableRouter.java:58-113)."""
    out = df.withColumn(
        "__route", F.regexp_replace(F.col("source.table"), topic_regex, topic_replacement)
    )
    if add_shard_to_key:
        out = out.withColumn("__dbz__physicalTableIdentifier", F.col("source.table"))
    return out


def content_based_router(df: DataFrame, route_expr: str) -> DataFrame:
    """Route by SQL expression over the record — Spark SQL replaces the
    reference's scripting engine (transforms/ContentBasedRouter.java)."""
    return df.withColumn("__route", F.expr(route_expr))


def scripting_filter(df: DataFrame, predicate_expr: str) -> DataFrame:
    """Keep records where the expression holds
    (debezium-scripting .../transforms/Filter.java)."""
    return df.filter(F.expr(predicate_expr))


# ---------------------------------------------------------------------------
# HeaderToValue / SchemaChangeEventFilter SMTs
# ---------------------------------------------------------------------------

def header_to_value(
    df: DataFrame,
    headers_col: str,
    fields: tuple[str, ...],
    operation: str = "copy",
    prefix: str = "__header_",
) -> DataFrame:
    """HeaderToValue SMT (transforms/HeaderToValue.java:1-312): move or
    copy record headers into the value. Kafka headers are modeled as a
    ``map<string,string>`` column; ``move`` additionally removes the
    copied keys from the map (``copy`` keeps them)."""
    if operation not in ("copy", "move"):
        raise ValueError(f"unknown operation {operation!r}")
    out = df
    for f_ in fields:
        out = out.withColumn(
            f"{prefix}{f_}", F.col(headers_col).getItem(f_)
        )
    if operation == "move":
        out = out.withColumn(
            headers_col,
            F.map_filter(
                F.col(headers_col), lambda k, _: ~k.isin(*fields)
            ),
        )
    return out


# ---------------------------------------------------------------------------
# SMT predicates (Kafka Connect predicate gating)
# ---------------------------------------------------------------------------
# The reference's SMT chain is configured through Kafka Connect, whose
# runtime gates each transform per record via
# org.apache.kafka.connect.transforms.predicates.* —
# ``predicates=p``, ``transforms.t.predicate=p``,
# ``transforms.t.negate=true`` (Debezium's SMT docs configure
# exactly this). The three shipped predicates and the gate:


def predicate_topic_name_matches(pattern: str, topic_col: str = "topic"):
    """TopicNameMatches: record's topic matches the regex (anchored,
    like java.util.regex full-match)."""
    return F.col(topic_col).rlike(f"^(?:{pattern})$")


def predicate_has_header_key(key: str, headers_col: str = "headers"):
    """HasHeaderKey: a header with the given key is present."""
    return F.map_contains_key(F.col(headers_col), key)


def predicate_record_is_tombstone():
    """RecordIsTombstone: record value is null."""
    return F.col("is_tombstone")


def apply_with_predicate(
    df: DataFrame,
    smt,
    predicate,
    negate: bool = False,
) -> DataFrame:
    """Apply ``smt`` (DataFrame → DataFrame) only to records matching
    ``predicate`` (a Column or SQL string); every other record passes
    through untouched — the Connect runtime's per-record predicate
    gate. ``negate`` flips the match (``transforms.t.negate``). A NULL
    predicate value is a non-match (Connect's test() returns a
    primitive boolean; null topic/headers simply don't match).

    Works for row-dropping SMTs too (a gated Filter drops only among
    the matched records). Pass-through records carry NULL for any
    column the SMT added. Scale shape: a split into two pushed-filter
    scans + unionByName — no shuffle introduced, and Catalyst prunes
    each branch independently."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    pred = F.coalesce(pred.cast("boolean"), F.lit(False))
    if negate:
        pred = ~pred
    matched = smt(df.filter(pred))
    passed = df.filter(~pred)
    return matched.unionByName(passed, allowMissingColumns=True)


def schema_change_event_filter(
    df: DataFrame, include_types: tuple[str, ...]
) -> DataFrame:
    """SchemaChangeEventFilter SMT
    (transforms/SchemaChangeEventFilter.java:1-94): keep only
    schema-change events whose change type is in the include list;
    non-schema events pass through. Schema events are op='m' rows with
    the TableChanges JSON in ``message``."""
    is_schema = (F.col("op") == "m") & F.col("message").isNotNull()
    ctype = F.get_json_object(F.col("message"), "$.change_type")
    return df.filter(~is_schema | ctype.isin(*include_types))


def pg_compatible_unwrap(
    df: DataFrame,
    image_cols: tuple[str, ...] = ("before", "after"),
) -> DataFrame:
    """Yugabyte ``PGCompatible`` / ``YBExtractNewRecordState`` unwrap
    (connector/postgresql/transforms/yugabytedb/PGCompatible.java:17-50):
    YB emits each cell as a ``{value, set}`` wrapper — ``set=false``
    means the column was NOT touched by this event (NULL ≠ unset).
    Unwraps every wrapped field to its plain value, NULL when unset.

    Expects image structs whose fields are ``struct<value:..., set:
    boolean>``; plain (already-unwrapped) fields pass through.
    """
    out = df
    for image in image_cols:
        dt = df.schema[image].dataType
        rebuilt = []
        for f_ in dt.fields:
            names = getattr(f_.dataType, "names", [])
            if "value" in names and "set" in names:
                rebuilt.append(
                    F.when(
                        F.col(f"{image}.{f_.name}.set"),
                        F.col(f"{image}.{f_.name}.value"),
                    ).alias(f_.name)
                )
            else:
                rebuilt.append(F.col(f"{image}.{f_.name}").alias(f_.name))
        out = out.withColumn(
            image,
            F.when(F.col(image).isNotNull(), F.struct(*rebuilt)),
        )
    return out


def extract_schema_to_new_record(
    df: DataFrame, schema_columns: list[dict], image_col: str = "after"
) -> DataFrame:
    """ExtractSchemaToNewRecord SMT
    (transforms/ExtractSchemaToNewRecord.java:1-202): copy the source
    schema metadata into the record — field ids/names/types of the
    event's table schema as a deterministic descriptor column, so
    downstream consumers see the schema the row was written under."""
    descriptor = ",".join(
        f"{c['field_id']}:{c['name']}:{c['type']}" for c in schema_columns
    )
    return df.withColumn("__schema", F.lit(descriptor))


# ---------------------------------------------------------------------------
# Topic naming strategies (schema/AbstractTopicNamingStrategy.java + the
# strategy classes: Default/Schema/UnicodeReplacement variants, heartbeat
# and transaction topics)
# ---------------------------------------------------------------------------

def topic_name(
    prefix: str,
    schema_col: Column | str,
    table_col: Column | str,
    strategy: str = "default",
    delimiter: str = ".",
) -> Column:
    """Topic per naming strategy:

    - ``default``: ``prefix<delim>schema<delim>table``
      (DefaultTopicNamingStrategy)
    - ``schema``: ``prefix<delim>schema`` (SchemaTopicNamingStrategy —
      one topic per schema)
    - ``sanitized``: default shape with every character outside
      ``[a-zA-Z0-9._-]`` replaced by ``_`` (the plain replacement rule)
    - ``unicode``: every character outside ``[.\\-A-Za-z0-9]``
      (underscore included — it is the escape character) encoded as
      ``_u<hex>`` with minimal lowercase hex, ``00``-prefixed when it
      has ≤ 2 digits — exactly
      ``schema/UnicodeReplacementFunction.java:20-27`` +
      ``AbstractUnicodeTopicNamingStrategy.java:30-33``
    (the regex strategy family, Default/SchemaRegexTopicNamingStrategy,
    is :func:`by_logical_table_router`.)
    """
    s = F.col(schema_col) if isinstance(schema_col, str) else schema_col
    t = F.col(table_col) if isinstance(table_col, str) else table_col
    if strategy == "default":
        return F.concat_ws(delimiter, F.lit(prefix), s, t)
    if strategy == "schema":
        return F.concat_ws(delimiter, F.lit(prefix), s)
    if strategy == "sanitized":
        full = F.concat_ws(delimiter, F.lit(prefix), s, t)
        return F.regexp_replace(full, "[^a-zA-Z0-9._-]", "_")
    if strategy == "unicode":
        full = F.concat_ws(delimiter, F.lit(prefix), s, t)
        chars = F.filter(
            F.split(full, ""), lambda c: c != F.lit("")
        )

        def esc(c: Column) -> Column:
            return F.when(c.rlike("^[.\\-A-Za-z0-9]$"), c).otherwise(
                _unicode_escape(c)
            )

        # fast path: a name made only of safe characters is its own
        # escaping — the all-safe rlike guard lets CASE skip the
        # per-character split/transform for the (overwhelming) common
        # case; only names that actually need escaping pay for it
        return F.when(full.rlike("^[.\\-A-Za-z0-9]*$"), full).otherwise(
            F.array_join(F.transform(chars, esc), "")
        )
    raise ValueError(f"unknown topic naming strategy {strategy!r}")


def _unicode_escape(c: Column) -> Column:
    """``_u<hex>`` escape of one character — minimal lowercase hex,
    ``00``-prefixed to ≥3 digits (UnicodeReplacementFunction.java:
    20-27). Shared by :func:`topic_name` and
    :func:`schema_name_adjust`."""
    h = F.lower(F.hex(F.ascii(c)))
    return F.concat(
        F.lit("_u"),
        F.when(F.length(h) <= 2, F.concat(F.lit("00"), h)).otherwise(h),
    )


_ADJUST_RULES: dict[str, tuple[str, str]] = {
    # mode -> (first-char legal class, rest-char legal class)
    "avro": ("A-Za-z_", "A-Za-z0-9_."),
    "avro_field": ("A-Za-z_", "A-Za-z0-9_"),
    "avro_unicode": ("A-Za-z", "A-Za-z0-9."),
    "avro_unicode_field": ("A-Za-z", "A-Za-z0-9"),
}


def adjust_name(name: str, mode: str = "avro") -> str:
    """Driver-side twin of :func:`schema_name_adjust` for plan-constant
    strings (field names, topic names known at plan time) — identical
    byte semantics, same four modes; parity is pinned by pytest."""
    import re

    if mode not in _ADJUST_RULES:
        raise ValueError(f"unknown schema name adjustment mode {mode!r}")
    first_cls, rest_cls = _ADJUST_RULES[mode]
    if not name:
        return name
    unicode_mode = mode.startswith("avro_unicode")

    def esc(ch: str) -> str:
        if unicode_mode:
            h = format(ord(ch), "x")
            return "_u" + ("00" + h if len(h) <= 2 else h)
        # digit-preserve collision guard applies to the first char of
        # the underscore modes only (SchemaNameAdjuster.java:278-285)
        return "_"

    out = []
    c = name[0]
    if re.match(f"[{first_cls}]", c):
        out.append(c)
    elif not unicode_mode and c.isdigit():
        out.append("_" + c)
    else:
        out.append(esc(c))
    for c in name[1:]:
        out.append(c if re.match(f"[{rest_cls}]", c) else esc(c))
    return "".join(out)


def schema_name_adjust(name: Column | str, mode: str = "avro") -> Column:
    """Avro schema/field name adjuster — byte-exact
    ``schema/SchemaNameAdjuster.java:266-309`` with its four shipped
    replacement functions:

    - ``avro`` (UNDERSCORE_REPLACEMENT): first char legal ``[A-Za-z_]``,
      rest legal ``[A-Za-z0-9_.]``; invalid → ``_``. A leading digit
      becomes ``_<digit>`` (the digit is KEPT after the underscore —
      the backward-compat collision guard at SchemaNameAdjuster.java:
      278-285).
    - ``avro_field`` (FieldNameUnderscoreReplacementFunction): same,
      but ``.`` is illegal in the rest (field names are not namespaced).
    - ``avro_unicode`` (UnicodeReplacementFunction): underscore is the
      escape char so it is itself illegal — first legal ``[A-Za-z]``,
      rest legal ``[A-Za-z0-9.]``; invalid → ``_u<hex>`` (minimal
      lowercase hex, ``00``-prefixed to ≥3 digits). No digit-preserve.
    - ``avro_unicode_field`` (FieldNameUnicodeReplacementFunction):
      unicode rules without ``.`` in the rest.

    Pure column expressions: the underscore modes are two
    ``regexp_replace`` passes; the unicode modes pay a per-character
    transform only for names that actually need escaping (all-legal
    fast path, as in :func:`topic_name`).
    """
    col = F.col(name) if isinstance(name, str) else name
    first = F.substring(col, 1, 1)
    rest = col.substr(F.lit(2), F.length(col))
    if mode in ("avro", "avro_field"):
        rest_illegal = (
            "[^A-Za-z0-9_.]" if mode == "avro" else "[^A-Za-z0-9_]"
        )
        head = (
            F.when(first.rlike("^[A-Za-z_]$"), first)
            .when(first.rlike("^[0-9]$"), F.concat(F.lit("_"), first))
            .otherwise(F.lit("_"))
        )
        out = F.concat(head, F.regexp_replace(rest, rest_illegal, "_"))
        # SchemaNameAdjuster.validFullname returns "" unchanged
        return F.when(F.length(col) == 0, col).otherwise(out)
    if mode in ("avro_unicode", "avro_unicode_field"):
        first_ok = "^[A-Za-z]$"
        rest_ok = (
            "^[A-Za-z0-9.]$" if mode == "avro_unicode" else "^[A-Za-z0-9]$"
        )
        all_ok = (
            "^[A-Za-z][A-Za-z0-9.]*$"
            if mode == "avro_unicode"
            else "^[A-Za-z][A-Za-z0-9]*$"
        )

        chars = F.filter(F.split(col, ""), lambda c: c != F.lit(""))
        adjusted = F.array_join(
            F.transform(
                chars,
                lambda c, i: F.when(
                    i == 0,
                    F.when(c.rlike(first_ok), c).otherwise(
                        _unicode_escape(c)
                    ),
                ).otherwise(
                    F.when(c.rlike(rest_ok), c).otherwise(_unicode_escape(c))
                ),
            ),
            "",
        )
        return F.when(
            (F.length(col) == 0) | col.rlike(all_ok), col
        ).otherwise(adjusted)
    raise ValueError(f"unknown schema name adjustment mode {mode!r}")


def propagate_source_metadata(
    df: DataFrame,
    columns: list[str] | None = None,
    comments: dict[str, str] | None = None,
    name_adjust_mode: str | None = None,
) -> DataFrame:
    """``column.propagate.source.type`` analogue —
    ``relational/mapping/PropagateSourceMetadataToSchemaParameter.java:
    23-57``: stamp each column's SCHEMA (Spark StructField metadata,
    the Connect schema-parameter analogue) with
    ``__debezium.source.column.type`` (upper-cased source type name),
    ``.length``/``.scale`` when the type carries them (decimal
    precision/scale, char/varchar length), ``.comment`` when supplied,
    and ``.name`` — the ORIGINAL column name, kept so consumers can
    recover it when ``field.name.adjustment.mode`` renames the field
    (which is why this composes with :func:`schema_name_adjust`:
    pass ``name_adjust_mode`` to rename the field and keep the
    original in metadata). Metadata-only — zero data movement."""
    from pyspark.sql import types as T

    comments = comments or {}
    cols = []
    for f in df.schema.fields:
        # df[name], never F.col(name): raw source names may contain
        # dots, which F.col would parse as struct-field access
        if columns is not None and f.name not in columns:
            cols.append(df[f.name])
            continue
        meta = dict(f.metadata or {})
        meta["__debezium.source.column.type"] = f.dataType.simpleString().split(
            "("
        )[0].upper()
        if isinstance(f.dataType, T.DecimalType):
            meta["__debezium.source.column.length"] = str(
                f.dataType.precision
            )
            meta["__debezium.source.column.scale"] = str(f.dataType.scale)
        elif isinstance(f.dataType, (T.CharType, T.VarcharType)):
            meta["__debezium.source.column.length"] = str(f.dataType.length)
        if f.name in comments:
            meta["__debezium.source.column.comment"] = comments[f.name]
        meta["__debezium.source.column.name"] = f.name
        out_name = (
            adjust_name(f.name, name_adjust_mode)
            if name_adjust_mode is not None
            else f.name
        )
        cols.append(df[f.name].alias(out_name, metadata=meta))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# Custom converter SPI (debezium-api spi/converter/CustomConverter.java;
# registry relational/CustomConverterRegistry.java)
# ---------------------------------------------------------------------------

class ConverterRegistry:
    """Per-column value converters — the CustomConverter SPI analogue.

    Converters are **Column → Column expression builders** (never
    per-row Python): registration binds a field name to a function that
    rewrites that field's expression, and :meth:`apply` rebuilds the
    image struct in-plan, so converted columns stay inside whole-stage
    codegen exactly like the built-in transforms."""

    def __init__(self) -> None:
        self._converters: dict[str, callable] = {}

    def register(self, field: str, fn) -> None:
        self._converters[field] = fn

    def apply(self, df: DataFrame, image_cols: tuple[str, ...] = ("before", "after")) -> DataFrame:
        out = df
        for image in image_cols:
            img = F.col(image)
            for field, fn in self._converters.items():
                img = F.when(
                    F.col(image).isNotNull(),
                    img.withField(field, fn(F.col(f"{image}.{field}"))),
                )
            out = out.withColumn(image, img)
        return out


# ---------------------------------------------------------------------------
# Transaction metadata (pipeline/txmetadata/TransactionMonitor.java:36-64,108-158)
# ---------------------------------------------------------------------------

def transaction_metadata(df: DataFrame) -> DataFrame:
    """Per-event ``transaction{id, total_order, data_collection_order}``.

    total_order = event's position within its transaction;
    data_collection_order = position within (tx, table). Window over
    (txId) ordered by lsn — groups are transaction-sized (small), so no
    skew concern.
    """
    from pyspark.sql import Window as W

    w_tx = W.partitionBy("source.txId").orderBy("lsn")
    w_tbl = W.partitionBy("source.txId", "source.table").orderBy("lsn")
    return df.withColumn(
        "transaction",
        F.struct(
            F.col("source.txId").alias("id"),
            F.row_number().over(w_tx).cast("long").alias("total_order"),
            F.row_number().over(w_tbl).cast("long").alias("data_collection_order"),
        ),
    )


def timezone_converter(df: DataFrame, ts_col: str, target_tz: str) -> DataFrame:
    """Convert temporal fields across timezones (transforms/TimezoneConverter.java:1-505)."""
    return df.withColumn(
        f"{ts_col}_{target_tz.replace('/', '_')}",
        F.from_utc_timestamp(F.to_timestamp(F.col(ts_col) / 1000.0), target_tz),
    )
