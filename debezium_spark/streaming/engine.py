"""The CDC engine — snapshot → stream → exactly-once apply.

API shape mirrors the reference's embedded engine
(``debezium-api/src/main/java/io/debezium/engine/DebeziumEngine.java:
45,106-167,191-251``): build with config, ``run()`` does snapshot then
streams; each applied micro-batch ends with an atomic commit that
records offsets (≙ ``RecordCommitter.markBatchFinished`` →
``commitOffsets``, ``embedded/EmbeddedEngine.java:819-905``) — except
ours is transactional with the data write (manifest commit), so the
at-least-once window the reference documents becomes exactly-once
table effect.

Per-batch dataflow (SURVEY §7.1)::

    events[lsn_lo, lsn_hi)                           (pruned parquet scan)
      → table filter / tombstone drop / skipped-ops  (codegen filters)
      → PK-change split → target-key normalize
      → schema-align (event-version gated columns → physical superset)
      → LakeTable.merge: touched buckets' state ∪ change rows
        → LWW election per (repo, path)              (one shuffle,
                                                      map-side combine)
        → bucket COW rewrite, fenced commit
      → lineage rows per source partition
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.lake import LakeTable, _ident, _literal
# perfbench/trace.py looks `compact` up here; re-point the trace, then delete
from debezium_spark.operators.compaction import compact  # noqa: F401
from debezium_spark.operators.transforms import (
    drop_tombstones,
    enforce_valid,
    normalize_target_key,
    pk_change_split,
    skip_operations,
    table_filter,
)
from debezium_spark.schema_evolution import SchemaTracker
from debezium_spark.sources.changelog import (
    changelog_schema,
    lsn_bounds,
    read_changelog_range,
    stream_changelog,
)
from debezium_spark.sources.snapshot import snapshot_envelopes


@dataclass
class EngineConfig:
    changelog_path: str
    lake_root: str
    source_table_path: str | None = None
    schema_changes: list[dict] = field(default_factory=list)
    n_buckets: int = 32
    batch_lsn_span: int = 4096  # LSN units per micro-batch (≙ max.batch.size)
    # column.include.list / column.exclude.list analogue (regex over
    # row-image field names; key columns always kept)
    column_include_regex: str | None = None
    column_exclude_regex: str | None = None
    partitions: int = 4
    # always|initial|never|initial_only|custom — custom delegates the
    # skip-vs-run decision to `custom_should_snapshot(committed_offsets)`
    # (the Snapshotter SPI, PostgresConnectorConfig.java:195-225)
    snapshot_mode: str = "initial"
    custom_should_snapshot: object = None  # Callable[[dict], bool]
    table_include_regex: str | None = None
    skipped_operations: tuple[str, ...] = ()
    # fail | warn | skip | dlq — EventDispatcher error modes (:319-335);
    # dlq = Connect errors.tolerance=all + deadletterqueue.topic.name:
    # invalid envelopes are routed to <lake_root>/_dlq with
    # __connect.errors.* context headers and the batch commits without
    # them (DeadLetterQueueReporter semantics — at-least-once on the
    # DLQ side, idempotent per (phase, batch) via overwrite).
    error_mode: str = "fail"
    # JSON-lines control file polled between batches (SignalProcessor)
    signal_path: str | None = None
    # channel transport: "file" (control file) or "topic" (segmented
    # append-only dir — the KafkaSignalChannel analogue; append-only,
    # so incompatible with the insert_delete watermarking strategy)
    signal_channel_kind: str = "file"
    # logical decoding messages (pg_logical_emit_message →
    # LogicalDecodingMessageMonitor.java): op='m' rows carrying
    # {"message": {prefix, content}} are routed, prefix-filtered
    # (LogicalDecodingMessageFilter.java include/exclude regexes), to
    # the lake's _messages log — the <server>.message topic analogue
    logical_message_prefix_include: str | None = None
    logical_message_prefix_exclude: str | None = None
    # consumer-scoped ack ledger for a SHARED signal channel (several
    # engines tailing one file under multi-table capture); None keeps
    # the channel-local default sidecar
    signal_ack_path: str | None = None
    # this engine's captured collection id (source.table value) —
    # data-collection-addressed signals and snapshot overrides match
    # against it; None = the generator's default table
    collection_name: str | None = None
    incremental_chunk_size: int = 1024  # CommonConnectorConfig.java:553-560
    # incremental.snapshot.watermarking.strategy analogue
    # (CommonConnectorConfig.java:787-795): how per-chunk window
    # watermarks are materialized in the signal data collection.
    #   insert_insert — open AND close rows written (InsertWindowCloser
    #     .java:33-43; the reference default);
    #   insert_delete — open row written, close DELETES it
    #     (DeleteWindowCloser.java:36-55);
    #   read_only     — nothing written (MySqlReadOnlyIncremental-
    #     SnapshotChangeEventSource analogue; also the effective mode
    #     when no signal_path is configured).
    # Either way the dedup fence is the committed-offset LSN watermark —
    # these rows are the reference's observable bookkeeping, kept for
    # parity and ops visibility.
    watermarking_strategy: str = "insert_insert"
    # seconds between signal polls while an in-flight snapshot is
    # paused (pause-snapshot ... resume-snapshot round-trip)
    signal_poll_interval: float = 0.1
    # external offset backing store + commit policy
    # (engine/spi/OffsetCommitPolicy.java:25-53, flush loop
    # EmbeddedEngine.java:815-836,877-905). When offset_store_path is
    # set, the store is the AUTHORITATIVE resume position for the
    # batch-replay loop: "always" flushes after every batch, "periodic"
    # every offset_flush_interval_batches (≙ offset.flush.interval.ms
    # in batch units — the loop is driver-paced, so batches are its
    # clock). A crash between periodic flushes rewinds the resume
    # position; the re-read batches hit the lake's commit fence and
    # skip, keeping the final state exact (at-least-once store,
    # exactly-once effect). A graceful stop-signal exit flushes, like
    # the reference's shutdown commit.
    offset_store_path: str | None = None
    offset_commit_policy: str = "always"
    offset_flush_interval_batches: int = 4
    # schema-history hardening (relational/history/SchemaHistory.java:
    # 46-66, AbstractSchemaHistory.java:133-151):
    #   skip_unparseable — malformed schema-change payloads are skipped
    #     with a warning instead of failing recovery
    #     (schema.history.internal.skip.unparseable.ddl);
    #   ddl_filter — regex over the raw change payload; matches are
    #     filtered out of processing (...internal.ddl.filter);
    #   store_only_captured — changes tagged with a table outside the
    #     include filter are ignored
    #     (...internal.store.only.captured.tables.ddl).
    schema_history_skip_unparseable: bool = False
    schema_history_ddl_filter: str | None = None
    schema_history_store_only_captured: bool = False
    # custom signal actions (the SignalAction SPI —
    # SignalProcessor.java:52,130-133 registerSignalAction): map of
    # signal type → callable(engine, signal_dict), consulted for types
    # the engine doesn't handle built-in (built-ins are not
    # overridable, matching the reference registering its defaults
    # first). Acked after the action returns, like every other signal.
    custom_signal_actions: dict = field(default_factory=dict)
    # PostProcessor SPI (processors/spi/PostProcessor.java, registry
    # processors/PostProcessorRegistry.java): callables applied to the
    # envelope DataFrame after the dispatcher's filters, before
    # the merge — snapshot AND stream batches, like the reference
    # applying registered processors to every emitted record. Contract:
    # DataFrame -> DataFrame, envelope schema preserved, Column-level
    # expressions only (stays in whole-stage codegen), values may be
    # rewritten but rows must not be dropped (use skipped_operations /
    # filters for that).
    post_processors: tuple = ()
    # NotificationChannel SPI (pipeline/notification/channels/
    # NotificationChannel.java): extra consumers called with each
    # notification record after the durable file append.
    notification_channels: tuple = ()
    # snapshot.select.statement.overrides analogue
    # (relational/RelationalDatabaseConnectorConfig.java:346): per-table
    # {"filter": <SQL predicate>, "columns": [<projected columns>]}
    # applied to the snapshot read. Key columns are always kept; the
    # predicate reaches the source scan as a pushed filter.
    snapshot_overrides: dict | None = None
    # message.key.columns analogue (relational/Key.java:27-70,
    # RelationalDatabaseConnectorConfig.java:321): columns of the row
    # image forming the event key. Must contain the table PK (repo,
    # path) — a finer key only changes which updates split into
    # DELETE + CREATE (the merge still elects per PK); a coarser one
    # would collapse distinct rows, so it is rejected at engine start.
    key_columns: tuple[str, ...] = ("repo", "path")
    # engine lifecycle callbacks (debezium-api
    # engine/DebeziumEngine.java:52-61 CompletionCallback, :67-110
    # ConnectorCallback). completion_callback(success, message, error)
    # fires EXACTLY ONCE per run() — success with error=None on a
    # normal or signal-stopped exit, failure with the exception on an
    # abort (which still propagates; the callback observes, it does
    # not swallow). connector_callback is duck-typed with optional
    # no-op-default methods connector_started / task_started /
    # task_stopped / connector_stopped, called in the reference's
    # startup/shutdown order around the snapshot+stream phases.
    completion_callback: object | None = None
    connector_callback: object | None = None
    # engine-side heartbeats (heartbeat/HeartbeatImpl.java:38-43,
    # Heartbeat.java:27-49): every N stream batches (the loop is
    # driver-paced, so batches are its clock ≙ heartbeat.interval.ms)
    # a record carrying the CURRENT committed offsets is appended to
    # <lake>/_heartbeats/log.jsonl — the __debezium-heartbeat.<server>
    # topic analogue, observability-plane and append-only (never part
    # of the transactional commit, like the reference emitting through
    # a separate topic). heartbeat_action is the
    # ``heartbeat.action.query`` hook: a callable(engine) invoked at
    # each emission (the reference runs a SQL statement on the source
    # to keep replication slots advancing; here any side effect).
    # 0 disables, the reference default.
    heartbeat_interval_batches: int = 0
    heartbeat_action: object | None = None
    # Keep deletes as hidden tombstone rows in lake state (the Kafka
    # log-compaction design) instead of removing rows: makes the merge
    # order-tolerant for deletes across micro-batches (a delete
    # consumed before a lower-LSN event of the same key would
    # otherwise be resurrected — see stream_changelog's ordered-pickup
    # contract, which this relaxes). Consumer reads (final_state,
    # live_source, exports) never see tombstones.
    retain_delete_tombstones: bool = False
    # Outbound topic: when set, every committed lake version's change
    # feed is published as wire records under this directory (the
    # reference's Kafka sink leg — see debezium_spark.publisher).
    # Publishing runs AFTER each merge commit and is version-fenced +
    # idempotent, so a crash between commit and publish just leaves a
    # backlog the next batch (or restart) drains.
    publish_topic_dir: str | None = None
    publish_tombstones: bool = True
    # wire container for the topic: None = adopt the topic's existing
    # format (default json); "parquet" = columnar+compressed, the
    # 100 TB choice (see publisher._topic_format)
    publish_format: str | None = None
    # Per-batch consumer hook — the DebeziumEngine handleBatch analogue
    # (debezium-api .../DebeziumEngine.java:106-167): called AFTER each
    # committed stream batch with (engine, batch_result). Raising
    # StopEngine from it stops the engine gracefully (commit stands,
    # offsets flush, CompletionCallback reports success) — the
    # StopEngineException contract (StopEngineException.java:17).
    batch_callback: object | None = None


class StopEngine(Exception):
    """Raise from a user callback (``batch_callback`` /
    ``heartbeat_action``) to stop the engine gracefully: the current
    batch's commit stands, offsets flush like any graceful exit, and
    the CompletionCallback reports success — the reference's
    ``StopEngineException`` contract (``debezium-api
    .../engine/StopEngineException.java:17``: stop processing but keep
    everything already marked processed)."""


def await_stream(query, engines) -> None:
    """Wait for a streaming front-end's query. A ``StopEngine`` raised
    by one of ``engines``' callbacks (``batch_callback`` or
    ``heartbeat_action``) ends it gracefully and marks that engine
    stopped; any other failure propagates."""
    for eng in engines:
        eng._stop_requested = False
    try:
        query.awaitTermination()
    except Exception:
        stopping = [e for e in engines if e._stop_requested]
        if not stopping:
            raise
        for eng in stopping:
            eng._stopped = True


def _frontier_aggs(partitions: int) -> dict[str, tuple[str, int | None]]:
    """The offset-frontier Observation's aggregates, ``name ->
    (aggregate, its value over zero rows)``: per source partition max
    LSN and event count, plus per-op and transaction counters for the
    JMX-metrics analogue
    (pipeline/metrics/traits/CommonEventMetricsMXBean.java,
    StreamingMetricsMXBean.java) — one observation, zero extra jobs."""
    aggs: dict[str, tuple[str, int | None]] = {"max_pid": ("max(partition_id)", None)}
    for p in range(partitions):
        aggs[f"max_{p}"] = (f"max(CASE WHEN partition_id = {p} THEN lsn END)", None)
        aggs[f"cnt_{p}"] = (f"count(CASE WHEN partition_id = {p} THEN true END)", 0)
    for opc in ("c", "u", "d", "r"):
        aggs[f"op_{opc}"] = (f"count(CASE WHEN op = '{opc}' THEN true END)", 0)
    aggs["max_source_ts"] = ("max(ts_ms)", None)
    aggs["last_tx"] = ("max_by(source.txId, lsn)", None)
    aggs["first_tx"] = ("min_by(source.txId, lsn)", None)
    aggs["n_tx"] = ("approx_count_distinct(source.txId)", 0)
    return aggs


def _aligned(columns: list[dict], added_at: list[int], present: list[str]) -> list[str]:
    """:meth:`Engine._align`'s projection for the lake schema
    ``columns``, each column's ADD COLUMN version ``added_at`` (0 =
    base column) and the image fields ``present`` in the batch."""
    cols = ["op", "lsn"]
    for c, va in zip(columns, added_at):
        p = _ident(c["physical"])
        if c["physical"] in ("repo", "path"):
            val = p
        elif c["physical"] not in present:
            # columns removed by the column filter are absent from the
            # image struct — they land as NULL in the lake (never
            # captured)
            val = "NULL"
        elif va > 0:
            # events predating the ADD COLUMN contribute the column's
            # DEFAULT (DefaultValueConverter semantics — a pre-alter
            # row reads as the default after the alter), NULL when none
            # is declared
            val = (
                f"CASE WHEN schema_version >= {va} THEN `after`.{p} "
                f"ELSE {_literal(c.get('default'))} END"
            )
        else:
            val = f"`after`.{p}"
        cols.append(f"CAST({val} AS {c['type']}) AS {p}")
    return cols


class Engine:
    SNAPSHOT_BATCH_ID = 0

    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        self.lake = LakeTable(
            spark,
            cfg.lake_root,
            n_buckets=cfg.n_buckets,
            retain_tombstones=cfg.retain_delete_tombstones,
        )
        self.tracker = SchemaTracker(
            cfg.schema_changes or self._schema_changes_from_log()
        )
        self._paused = False
        self._stopped = False
        # in-flight snapshot control (StopSnapshot.java:31,
        # Pause/ResumeIncrementalSnapshot.java): polled between chunks
        self._in_snapshot = False
        self._snapshot_stopped = False
        self._snapshot_paused = False
        missing = {"repo", "path"} - set(cfg.key_columns)
        if missing:
            raise ValueError(
                f"key_columns must include the table PK; missing {missing}"
            )
        if cfg.snapshot_mode not in (
            "always",
            "initial",
            "initial_only",
            "never",
            "custom",
            "when_needed",
            "schema_only",
            "schema_only_recovery",
        ):
            raise ValueError(
                f"unknown snapshot_mode {cfg.snapshot_mode!r}"
            )
        if cfg.watermarking_strategy not in (
            "insert_insert",
            "insert_delete",
            "read_only",
        ):
            raise ValueError(
                "watermarking_strategy must be insert_insert | "
                f"insert_delete | read_only, got {cfg.watermarking_strategy!r}"
            )
        if cfg.signal_channel_kind not in ("file", "topic"):
            raise ValueError(
                "signal_channel_kind must be file | topic, got "
                f"{cfg.signal_channel_kind!r}"
            )
        if (
            cfg.signal_channel_kind == "topic"
            and cfg.watermarking_strategy == "insert_delete"
        ):
            # fail at init, not at the first window close: a topic is
            # append-only (Kafka cannot delete a record), so the
            # DELETE-based window closer cannot run over it
            raise ValueError(
                "insert_delete watermarking needs a deletable signal "
                "collection; the topic channel is append-only — use "
                "the file channel or insert_insert/read_only"
            )
        if cfg.offset_commit_policy not in ("always", "periodic"):
            raise ValueError(
                "offset_commit_policy must be always | periodic, "
                f"got {cfg.offset_commit_policy!r}"
            )
        if cfg.offset_flush_interval_batches < 1:
            raise ValueError(
                "offset_flush_interval_batches must be >= 1, got "
                f"{cfg.offset_flush_interval_batches}"
            )
        if not self.lake.exists():
            # the version-0 schema is the history head's CREATE when the
            # log carries one, BASE_SCHEMA otherwise
            self.lake.create(self.tracker.schemas[0])
        else:
            # schema-history loss healing (see the method docstring):
            # detected and repaired on every cold start, not only under
            # the explicit recovery mode — silently running with a v0
            # tracker while the lake is at v2 would wipe evolved
            # columns back to NULL on the next mixed-schema batch.
            self._recover_schema_history_from_lake()
        from debezium_spark.notifications import NotificationLog
        from debezium_spark.signals import SourceSignalLedger

        self.notifications = NotificationLog(
            cfg.lake_root, channels=cfg.notification_channels
        )
        # source-channel signals (signal rows riding the change stream,
        # SourceSignalChannel.java) — processed-id ledger survives
        # restarts so full-log replay never re-fires completed actions
        self._source_ledger = SourceSignalLedger(cfg.lake_root)

    @property
    def _collection(self) -> str:
        """This engine's captured collection id (``source.table``) —
        what data-collection-addressed signals, per-table snapshot
        overrides, and DLQ context match against."""
        if self.cfg.collection_name:
            return self.cfg.collection_name
        from debezium_spark.generator import TABLE_NAME

        return TABLE_NAME

    def _recover_schema_history_from_lake(self) -> int:
        """``schema_only_recovery`` analogue
        (``connector/mysql/MySqlConnectorConfig.java:159``): when the
        log's op='m' rows below the committed frontier were purged with
        the log head — exactly the situation ``when_needed`` heals for
        DATA — the tracker rebuilt from the log is missing schema
        versions the lake has already committed. The reference recovers
        by capturing current table structure instead of replaying
        history; here the lake's own committed manifests ARE that
        structure (field-ids make the recovery exact), so the missing
        tracker versions are re-derived from them. Returns the number
        of versions recovered; raises loudly when neither the log nor
        any surviving manifest records a needed version (true history
        corruption — running on would silently project evolved columns
        to NULL)."""
        import copy

        from debezium_spark.schema_evolution import TableSchema

        committed = self.lake.table_schema().version
        have = self.tracker.latest_version
        if committed <= have:
            return 0
        recovered: dict[int, TableSchema] = {}
        # walk the SURVIVING manifests only — snapshot expiry may have
        # pruned old ones; each first-seen schema_version wins
        names = [
            n
            for n in os.listdir(self.lake._commits_dir)
            if n.endswith(".json")
        ]
        for v in sorted(int(n.split(".")[0]) for n in names):
            m = self.lake.manifest(v)
            sv = int(m["schema_version"])
            if sv > have and sv not in recovered:
                recovered[sv] = TableSchema(
                    copy.deepcopy(m["schema"]), sv
                )
        missing = [
            sv
            for sv in range(have + 1, committed + 1)
            if sv not in recovered
        ]
        if missing:
            raise ValueError(
                "schema history unrecoverable: the changelog holds no "
                f"schema-change rows for version(s) {missing} and no "
                "surviving lake manifest records them (log head purged "
                "past the schema events AND their snapshots expired)"
            )
        for sv in sorted(recovered):
            self.tracker.schemas[sv] = recovered[sv]
        return len(recovered)

    def _schema_changes_from_log(self) -> list[dict]:
        """Rebuild the schema history from in-stream schema-change
        events (op='m' rows carrying TableChanges JSON in ``message``)
        — the reference's SchemaHistory replay
        (``relational/history/SchemaHistory.java:34-101``,
        ``EventDispatcher.java:371-407``): a cold restart recovers the
        full schema timeline purely from the log, no side channel.
        One column-pruned scan of (op, lsn, message) at engine init;
        schema events are O(1) per table lifetime."""
        import json

        from pyspark.errors import AnalysisException

        from debezium_spark.sources.changelog import changelog_absent

        try:
            df = self.spark.read.parquet(self.cfg.changelog_path)
        except AnalysisException:
            # log not there yet (streaming dir that hasn't received
            # files) — later arrivals are dispatched per batch by
            # _apply_batch's control-row pass; any OTHER read error
            # (corrupt log, wrong path) propagates
            if changelog_absent(self.cfg.changelog_path):
                return []
            raise
        if "message" not in df.columns:
            return []
        rows = (
            df.filter((F.col("op") == "m") & F.col("message").isNotNull())
            .select("lsn", "message")
            .collect()
        )
        changes = [
            ch
            for r in rows
            if (ch := self._parse_schema_change(r["message"])) is not None
        ]
        return sorted(changes, key=lambda c: c["lsn"])

    def _parse_schema_change(self, message: str) -> dict | None:
        """Parse one schema-change payload under the schema-history
        hardening rules (AbstractSchemaHistory.java:133-151): the DDL
        filter drops matching payloads; non-captured tables are
        ignored under store-only-captured; malformed payloads raise —
        or are skipped when skip_unparseable is set (the reference's
        warn-and-continue).

        Two payload shapes are accepted, mirroring HistoryRecord's
        dual ddl/tableChanges representation
        (relational/history/HistoryRecord.java): the native structured
        dict {change_type, column_name, ...}, and the reference-style
        DDL form {lsn, schema_version, ddl: "ALTER TABLE ..."} whose
        statement is re-parsed on replay (ddl.parse_ddl — the
        DdlParser analogue)."""
        import json
        import re

        from debezium_spark.signals import is_source_signal_payload

        from debezium_spark.messages import is_logical_message_payload

        # source-channel signal rows and logical decoding messages
        # share the op='m' transport but are NOT schema changes — they
        # dispatch through their own paths (_apply_batch's control
        # pass: signal actions / the _messages log)
        if is_source_signal_payload(message):
            return None
        if is_logical_message_payload(message):
            return None
        if self.cfg.schema_history_ddl_filter and re.search(
            self.cfg.schema_history_ddl_filter, message
        ):
            return None
        try:
            ch = json.loads(message)
            if "change_type" not in ch and "ddl" in ch:
                from debezium_spark.ddl import parse_ddl

                ch = {**ch, **parse_ddl(ch["ddl"])}
            # the keys every apply site dereferences — missing ones are
            # the JSON-parses-but-isn't-a-TableChanges case
            int(ch["schema_version"])
            int(ch["lsn"])
            ch["change_type"]
        except Exception as exc:
            if self.cfg.schema_history_skip_unparseable:
                return None
            raise ValueError(
                f"unparseable schema-change payload: {message!r}"
            ) from exc
        if (
            self.cfg.schema_history_store_only_captured
            and self.cfg.table_include_regex
            and ch.get("table")
            and not re.search(self.cfg.table_include_regex, ch["table"])
        ):
            return None
        return ch

    # -- stream origin (deterministic window base) ------------------------
    @property
    def _origin_path(self) -> str:
        return os.path.join(self.cfg.lake_root, "_stream", "origin.json")

    def _load_stream_origin(self) -> int | None:
        import json

        if not os.path.exists(self._origin_path):
            return None
        with open(self._origin_path) as f:
            return int(json.load(f)["lo"])

    def _pin_stream_origin(self, lo: int) -> int:
        """Return the pinned stream-window base, writing ``lo`` as the
        origin on first contact (atomic tmp+rename). Batch window k is
        ``[origin + k*span, origin + (k+1)*span)`` forever after — the
        base never moves even if the log's head is later purged, so
        resume positions stay exact (the reference equivalent: binlog
        file/pos offsets remain meaningful after older files rotate
        out)."""
        import json

        cur = self._load_stream_origin()
        if cur is not None:
            return cur
        os.makedirs(os.path.dirname(self._origin_path), exist_ok=True)
        tmp = self._origin_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"lo": int(lo)}, f)
        os.rename(tmp, self._origin_path)
        return int(lo)

    def _purged_resume_gap(self) -> bool:
        """True when the log's head has been purged PAST the next
        unapplied window — events this engine never applied are gone
        from the log (binlog retention expired before we read them).
        The ``when_needed`` snapshotter's re-snapshot trigger
        (MySqlConnectorConfig.java:139: snapshot when the server no
        longer has the recorded position)."""
        origin = self._load_stream_origin()
        if origin is None:
            return False  # never streamed — nothing to lose
        bounds = lsn_bounds(self.spark, self.cfg.changelog_path)
        if bounds is None:
            return False
        next_start = origin + self.lake.last_batch_id("stream") * (
            self.cfg.batch_lsn_span
        )
        return bounds[0] > next_start

    # -- snapshot phase (batch 0) ---------------------------------------
    def snapshot(self) -> dict | None:
        """Initial consistent snapshot. Snapshot-mode semantics per
        ``connector/postgresql/PostgresConnectorConfig.java:195-225``:
        skipped if already done (``initial``) or disabled (``never``)."""
        mode = self.cfg.snapshot_mode
        already = self.lake.last_batch_id("snapshot") >= self.SNAPSHOT_BATCH_ID
        if mode in ("never", "schema_only", "schema_only_recovery") or (
            mode in ("initial", "initial_only") and already
        ):
            # schema_only (MySqlConnectorConfig.java:151): structure
            # only, no data rows — schema history is already recovered
            # from the log's op='m' rows at init, and stream() pins the
            # origin at the current tail so historical data events are
            # never captured. schema_only_recovery
            # (MySqlConnectorConfig.java:159) behaves the same here:
            # the history repair itself runs unconditionally at init
            # (_recover_schema_history_from_lake).
            return None
        if mode == "when_needed" and already:
            # WHEN_NEEDED (MySqlConnectorConfig.java:139): re-snapshot
            # only when the recorded resume position is gone — the log
            # head was purged past an unapplied window. Heal via the
            # watermark-stamped incremental path against the RAW source
            # (upstream truth, which includes the purged events'
            # effects): chunk rows at the committed watermark beat
            # stale state, surviving log events (higher LSNs) beat the
            # chunks, so LWW restores exactness for every key the
            # source still holds. (DBLog-style chunks cannot observe
            # upstream DELETEs that happened inside the purged window —
            # the reference's incremental snapshot shares this caveat.)
            if not self._purged_resume_gap():
                return None
            if self.cfg.source_table_path is None:
                raise RuntimeError(
                    "when_needed: resume position purged from the log "
                    "and no source_table_path to re-snapshot from"
                )
            src = self.spark.read.parquet(self.cfg.source_table_path)
            src = self._apply_snapshot_override(src)
            chunks = self.incremental_snapshot(source=src)
            return {
                "phase": "snapshot",
                "mode": "when_needed",
                "healed_chunks": len(chunks),
            }
        batch_id = self.SNAPSHOT_BATCH_ID
        if mode == "always" and already:
            # AlwaysSnapshotter re-executes the snapshot on every start
            # (connector/postgresql/PostgresConnectorConfig.java:200):
            # fence on a fresh snapshot batch id so the re-read applies
            # instead of skipping. LWW keeps streamed values newer than
            # the snapshot markers; untouched keys are re-asserted from
            # the source.
            batch_id = self.lake.last_batch_id("snapshot") + 1
        if mode == "custom":
            decider = self.cfg.custom_should_snapshot
            if decider is None or not decider(self.lake.committed_offsets()):
                return None
            if already:
                # a re-run under custom mode re-reads the source like
                # `always` — fence on a fresh snapshot batch id
                batch_id = self.lake.last_batch_id("snapshot") + 1
        if self.cfg.source_table_path is None:
            return None
        from debezium_spark import notifications as N

        self.notifications.emit(N.INITIAL_SNAPSHOT, N.STARTED)
        if already:
            # a RE-RUN snapshot (always / custom re-fire) reads what the
            # reference reads: the live database — here the
            # reconstructed current state. Re-reading the stale
            # snapshot parquet would resurrect stream-deleted keys and
            # is exactly the bug live_source() exists to prevent.
            source = self.live_source()
        else:
            source = self.spark.read.parquet(self.cfg.source_table_path)
        source = self._apply_snapshot_override(source)
        events = snapshot_envelopes(source, partitions=self.cfg.partitions)
        res = self._apply_batch(events, batch_id, phase="snapshot")
        self.notifications.emit(
            N.INITIAL_SNAPSHOT,
            N.COMPLETED,
            {"batch_id": res.get("batch_id"), "skipped": bool(res.get("skipped"))},
        )
        return res

    def _apply_snapshot_override(self, source: DataFrame) -> DataFrame:
        """``snapshot.select.statement.overrides`` analogue
        (``relational/RelationalDatabaseConnectorConfig.java:346``): a
        per-table predicate + projection applied to the snapshot read.
        The predicate is a Spark SQL expression, so it reaches the
        source scan as a pushed filter; the projection restricts the
        captured columns (key columns always kept — dropped columns are
        never captured, like an overridden ``SELECT col, ...``)."""
        ov = (self.cfg.snapshot_overrides or {}).get(self._collection)
        if not ov:
            return source
        if ov.get("filter"):
            source = source.filter(F.expr(ov["filter"]))
        if ov.get("columns"):
            keep = list(
                dict.fromkeys(list(self.cfg.key_columns) + list(ov["columns"]))
            )
            source = source.select(*[c for c in source.columns if c in keep])
        return source

    # -- streaming phase (batches 1..N) ----------------------------------
    def stream(self, max_batches: int | None = None) -> list[dict]:
        """Batch-replay loop over the LSN-ordered log. Deterministic
        batch boundaries (lsn windows) make restart resume exact: batch
        k covers ``[lo + k*span, lo + (k+1)*span)``; resume starts at
        ``last_batch_id`` (re-running a half-applied batch is safe —
        fenced + LSN-guarded). Each batch runs :meth:`_after_commit`
        before the offset flush, so an exception from ``batch_callback``
        leaves the "merge committed, offsets not flushed" window the
        PERIODIC commit policy exposes (EmbeddedEngine.java:815-836)."""
        if self.cfg.snapshot_mode == "initial_only":
            return []
        # one footer read per call, not per batch: signal recovery, the
        # bounds job and every window of the log read with the schema
        # resolved here (as DDL, which the reader takes in one round trip)
        log_schema = changelog_schema(self.spark, self.cfg.changelog_path)
        if log_schema is None:
            return []  # no log yet (see below)
        self._recover_source_signals(log_schema)
        bounds = lsn_bounds(self.spark, self.cfg.changelog_path, log_schema)
        if bounds is None:
            # empty / not-yet-written log: nothing to replay (clean
            # no-op — the WAL tail starting before the first segment)
            return []
        lo, hi = bounds
        # Deterministic windows need a STABLE base: pin the stream
        # origin in the lake on first contact so later log compaction /
        # purge (WAL retention at the 100 TB target) cannot shift batch
        # arithmetic — purged windows replay as clean zero-row batches.
        # schema_only starts from the CURRENT position instead (no
        # historical rows are ever captured,
        # MySqlConnectorConfig.java:151 SCHEMA_ONLY).
        lo = self._pin_stream_origin(
            hi + 1
            if self.cfg.snapshot_mode
            in ("schema_only", "schema_only_recovery")
            else lo
        )
        span = self.cfg.batch_lsn_span
        results = []
        store = None
        if self.cfg.offset_store_path:
            from debezium_spark.offsets import FileOffsetStore

            store = FileOffsetStore(self.cfg.offset_store_path)
            # the external store is the authoritative resume position
            # (the reference resumes from the offset backing store, not
            # from the sink): a stale periodic flush rewinds k, the
            # re-read batches skip on the commit fence
            k = max(store.last_batch_id(), 0)
        else:
            k = max(self.lake.last_batch_id("stream"), 0)
        n_done = 0
        flushed_through = k
        while lo + k * span <= hi:
            if max_batches is not None and n_done >= max_batches:
                break
            self.process_signals()
            if self._stopped or self._paused:
                break
            batch_lo = lo + k * span
            batch_hi = batch_lo + span
            events = read_changelog_range(
                self.spark,
                self.cfg.changelog_path,
                batch_lo,
                batch_hi,
                schema=log_schema,
            )
            results.append(
                self._apply_batch(events, k + 1, phase="stream", lsn_hi=batch_hi)
            )
            k += 1
            n_done += 1
            try:
                self._after_commit(results[-1], k, n_done)
            except StopEngine:
                # graceful: this batch's commit stands, the loop exit
                # below flushes offsets, run() reports success
                self._stopped = True
                break
            if store is not None and (
                self.cfg.offset_commit_policy == "always"
                or n_done % self.cfg.offset_flush_interval_batches == 0
            ):
                store.flush(k, self.lake.committed_offsets())
                flushed_through = k
        # any graceful exit (log exhausted, max_batches pause, stop /
        # pause signal) commits offsets like the reference's shutdown
        # flush (EmbeddedEngine.java:877-905); only a crash skips this
        if store is not None and k > flushed_through:
            store.flush(k, self.lake.committed_offsets())
        return results

    def _after_commit(self, result: dict, batch_id: int, ordinal: int) -> None:
        """The step after each stream batch's merge commit, in every
        front-end: the heartbeat every ``heartbeat_interval_batches``
        batches (``ordinal`` counts this run's batches from 1), then
        ``batch_callback``. A ``StopEngine`` from either propagates for
        the front-end to stop gracefully; it runs before the offset
        flush or checkpoint, so any other exception is a crash in the
        "merge committed, position not recorded" window."""
        interval = self.cfg.heartbeat_interval_batches
        if interval and ordinal % interval == 0:
            self._emit_heartbeat(batch_id)
        if self.cfg.batch_callback is not None:
            self.cfg.batch_callback(self, result)

    def _emit_heartbeat(self, batch_id: int) -> None:
        """Append one heartbeat record (HeartbeatImpl.forcedBeat shape:
        the current offsets, nothing else) and run the configured
        action. Append-only observability — a crash between a merge
        commit and a heartbeat loses at most a heartbeat, never data."""
        import json as _json
        import os as _os
        import time as _time

        path = _os.path.join(self.cfg.lake_root, "_heartbeats", "log.jsonl")
        _os.makedirs(_os.path.dirname(path), exist_ok=True)
        rec = {
            "batch_id": int(batch_id),
            "ts_ms": int(_time.time() * 1000),
            "offsets": {
                str(p): int(v)
                for p, v in sorted(self.lake.committed_offsets().items())
            },
        }
        with open(path, "a") as fh:
            fh.write(_json.dumps(rec, sort_keys=True) + "\n")
        if self.cfg.heartbeat_action is not None:
            self.cfg.heartbeat_action(self)

    def _connector_event(self, name: str) -> None:
        cb = self.cfg.connector_callback
        if cb is not None:
            fn = getattr(cb, name, None)
            if fn is not None:
                fn()

    def run(self, max_batches: int | None = None) -> list[dict]:
        """Embedded-engine entry (DebeziumEngine.java contract):
        snapshot phase then stream replay, with the lifecycle
        callbacks fired in the reference's order — connector_started /
        task_started before the source phases, task_stopped /
        connector_stopped after them, and the CompletionCallback
        exactly once at the end: (True, msg, None) on a normal or
        stop-signal exit, (False, msg, error) on an abort. Errors
        still propagate — the callback observes the outcome (the
        reference hands the error to the callback AND terminates)."""
        self._connector_event("connector_started")
        self._connector_event("task_started")
        try:
            res = []
            snap = self.snapshot()
            if snap:
                res.append(snap)
            res.extend(self.stream(max_batches=max_batches))
        except Exception as e:
            cb = self.cfg.completion_callback
            if cb is not None:
                try:
                    cb(False, f"engine aborted: {e}", e)
                except Exception:
                    # a broken callback must not REPLACE the engine
                    # error on the re-raise below — the reference
                    # guards callback invocation the same way
                    import warnings

                    warnings.warn(
                        "completion_callback raised during abort "
                        "handling; original engine error propagates",
                        stacklevel=2,
                    )
            raise
        self._connector_event("task_stopped")
        self._connector_event("connector_stopped")
        cb = self.cfg.completion_callback
        if cb is not None:
            n = len(res)
            msg = (
                f"engine stopped after {n} batches"
                if self._stopped
                else f"engine completed {n} batches"
            )
            cb(True, msg, None)
        return res

    # -- incremental snapshot (DBLog-style, sources/incremental.py) -------
    def live_source(self) -> DataFrame:
        """Reconstructed current upstream state — what the reference's
        ExecuteSnapshot re-reads (it always queries the live database).
        = applied final state ∪ source rows no event has ever touched
        (keys the stream deleted stay absent — re-reading the stale
        snapshot parquet would resurrect them).

        Touched = any key the changelog AFFECTED at LSN ≤ the committed
        watermark: both the log key (old key / delete target) AND the
        after-image key — a PK-change update moves a row onto a key
        that appears only in ``after``, and missing it would union the
        stale source row next to the streamed one.

        Columns are the lake's PHYSICAL schema (evolved columns
        included) so chunk rows preserve schema-evolved values; source
        rows contribute NULL for columns added after the snapshot."""
        state = self.lake.read_state(logical=False)
        if self.cfg.source_table_path is None:
            return state
        from pyspark.errors import AnalysisException

        from debezium_spark.sources.changelog import changelog_absent

        src = self.spark.read.parquet(self.cfg.source_table_path)
        watermark = max(self.lake.committed_offsets().values(), default=-1)
        try:
            log = self.spark.read.parquet(self.cfg.changelog_path).filter(
                F.col("lsn") <= watermark
            )
        except AnalysisException:
            # changelog dir not created yet (execute-snapshot fired on a
            # streaming-tail deployment before the first segment landed):
            # nothing is touched — back-fill from source + state only.
            # Any other analysis failure propagates: treating it as
            # "untouched" would resurrect stream-deleted keys.
            if not changelog_absent(self.cfg.changelog_path):
                raise
            log = None
        untouched = src
        if log is not None:
            logk = log.select(
                F.col("key.repo").alias("repo"), F.col("key.path").alias("path")
            )
            newk = log.filter(F.col("after").isNotNull()).select(
                F.col("after.repo").alias("repo"),
                F.col("after.path").alias("path"),
            )
            touched = logk.unionByName(newk).distinct()
            # back-fill only rows that are in NEITHER state NOR the
            # touched set: state rows are already present (snapshot
            # applied them), and touched-but-absent rows were deleted by
            # the stream
            untouched = untouched.join(touched, ["repo", "path"], "left_anti")
        untouched = untouched.join(
            state.select("repo", "path"), ["repo", "path"], "left_anti"
        )
        return state.unionByName(untouched, allowMissingColumns=True)

    def incremental_snapshot(
        self,
        source=None,
        chunk_size: int | None = None,
        max_chunks: int | None = None,
        surrogate_key: str | None = None,
    ) -> list[dict]:
        """Chunked PK-ordered re-read of the current source state,
        each chunk stamped at the committed-offset low watermark so the
        LWW merge reproduces the reference's window dedup: rows already
        advanced by streamed events keep their streamed state, untouched
        rows are back-filled (AbstractIncrementalSnapshotChangeEventSource
        .java:111-119,197-206,325-419).

        ``source`` defaults to :meth:`live_source` (the reference always
        reads the live database — the static snapshot parquet would
        silently revert streamed updates once offsets have advanced);
        pass an explicit DataFrame to snapshot something else.

        Pagination: chunk boundaries are planned once
        (``plan_chunk_bounds`` — sampling-based range split, one pass),
        then each chunk is a pruned key-range scan — never a per-chunk
        global sort+limit (that shape is O(table) per chunk).

        ``surrogate_key`` paginates chunks on a single named column
        instead of the PK — the reference's execute-snapshot
        ``surrogate-key`` field (ExecuteSnapshot.java:62,137-139;
        AbstractIncrementalSnapshotChangeEventSource uses it to build
        the chunk query when the PK is composite or unindexed). Chunk
        *contents* and watermark/LWW semantics are unchanged — only the
        partition of the key space differs, and non-unique surrogate
        values stay whole inside one ``(lo, hi]`` range chunk.
        """
        from debezium_spark.sources.incremental import (
            PK_COLS,
            chunk_envelopes,
            plan_chunk_bounds,
            read_chunk_range,
        )

        from debezium_spark import notifications as N

        src = source if source is not None else self.live_source()
        if surrogate_key is not None and surrogate_key not in src.columns:
            # the reference rejects an unknown surrogate key at signal
            # time rather than silently falling back to the PK
            raise ValueError(
                f"surrogate key column {surrogate_key!r} not in source "
                f"columns {src.columns}"
            )
        key_cols = (surrogate_key,) if surrogate_key else PK_COLS
        chunk_size = chunk_size or self.cfg.incremental_chunk_size
        watermark = max(
            self.lake.committed_offsets().values(), default=0
        )
        src.persist()
        try:
            bounds = plan_chunk_bounds(src, chunk_size, key_cols)
            if max_chunks is not None:
                bounds = bounds[:max_chunks]
            self.notifications.emit(
                N.INCREMENTAL_SNAPSHOT,
                N.STARTED,
                {"chunks": len(bounds), "watermark_lsn": int(watermark)},
            )
            results: list[dict] = []
            k = self.lake.last_batch_id("incremental") + 1
            lo: tuple | None = None
            # stamp chunks at the CURRENT schema version so evolved
            # columns carried by the live source pass the mixed-schema
            # gate instead of being wiped back to NULL
            sv = min(
                self.tracker.latest_version, self.lake.table_schema().version
            )
            self._in_snapshot = True
            self._snapshot_stopped = False
            self._snapshot_paused = False
            aborted = False
            for i, hi in enumerate(bounds):
                # poll control signals between chunks — the reference's
                # stop-snapshot / pause-snapshot / resume-snapshot
                # actions (pipeline/signal/actions/snapshotting/
                # StopSnapshot.java:31, PauseIncrementalSnapshot.java,
                # ResumeIncrementalSnapshot.java) act at chunk
                # granularity; per-chunk fences stay intact, so a later
                # execute-snapshot resumes idempotently (chunks already
                # applied are LWW no-ops).
                self._poll_snapshot_signals()
                if self._snapshot_stopped:
                    aborted = True
                    break
                self._emit_window_mark(f"incr-{k}", "open")
                chunk = read_chunk_range(src, lo, hi, key_cols)
                events = chunk_envelopes(
                    chunk,
                    watermark,
                    partitions=self.cfg.partitions,
                    schema_version=sv,
                )
                results.append(
                    self._apply_batch(events, k, phase="incremental")
                )
                self._emit_window_mark(f"incr-{k}", "close")
                self.notifications.emit(
                    N.INCREMENTAL_SNAPSHOT,
                    N.IN_PROGRESS,
                    {
                        "chunk": i + 1,
                        "of": len(bounds),
                        "to_key": list(hi) if hi is not None else None,
                    },
                )
                lo = hi
                k += 1
            if aborted:
                self.notifications.emit(
                    N.INCREMENTAL_SNAPSHOT,
                    N.ABORTED,
                    {"chunks_done": len(results), "of": len(bounds)},
                )
            else:
                self.notifications.emit(
                    N.INCREMENTAL_SNAPSHOT, N.COMPLETED, {"chunks": len(bounds)}
                )
        finally:
            self._in_snapshot = False
            src.unpersist()
        return results

    def _emit_window_mark(self, chunk_id: str, side: str) -> None:
        """Materialize a per-chunk watermark row in the signal
        collection per ``watermarking_strategy``
        (CommonConnectorConfig.java:787-795).

        insert_insert: ``<chunk>-open`` then ``<chunk>-close`` rows
        (InsertWindowCloser.java:33-43). insert_delete: the close
        DELETES the ``-open`` row, no close row is written
        (DeleteWindowCloser.java:36-55). read_only (or no signal
        channel): nothing is written. Rows are self-acked — they are
        the reference's observable bookkeeping; the actual dedup fence
        is the committed-offset LSN watermark stamped on chunk rows."""
        if (
            not self.cfg.signal_path
            or self.cfg.watermarking_strategy == "read_only"
        ):
            return
        from debezium_spark.signals import open_signal_channel

        channel = open_signal_channel(
            self.cfg.signal_path,
            kind=self.cfg.signal_channel_kind,
            processed_path=self.cfg.signal_ack_path,
        )
        if side == "open":
            channel.send(f"{chunk_id}-open", "snapshot-window-open")
            channel.ack(f"{chunk_id}-open")
        elif self.cfg.watermarking_strategy == "insert_insert":
            channel.send(f"{chunk_id}-close", "snapshot-window-close")
            channel.ack(f"{chunk_id}-close")
        else:
            channel.delete(f"{chunk_id}-open")

    def _poll_snapshot_signals(self) -> None:
        """Between-chunk signal poll. While paused, keep polling until a
        resume-snapshot (or stop-snapshot / engine stop) arrives — the
        in-flight snapshot stalls without losing its chunk position."""
        import time as _time

        self.process_signals(during_snapshot=True)
        while (
            self._snapshot_paused
            and not self._snapshot_stopped
            and not self._stopped
        ):
            _time.sleep(self.cfg.signal_poll_interval)
            self.process_signals(during_snapshot=True)
        if self._stopped:
            # engine-level stop also halts the in-flight snapshot
            self._snapshot_stopped = True

    def blocking_snapshot(
        self,
        source=None,
        chunk_size: int | None = None,
        surrogate_key: str | None = None,
    ) -> list[dict]:
        """Blocking snapshot (pipeline/ChangeEventSourceCoordinator.java:
        198-227): pause streaming → re-snapshot the (live) source →
        resume. A dedicated phase rather than ad-hoc signal plumbing;
        the chunk rows are watermark-stamped, so interleaved history
        stays consistent exactly like the incremental path."""
        was_paused = self._paused
        self._paused = True
        try:
            return self.incremental_snapshot(
                source=source,
                chunk_size=chunk_size,
                surrogate_key=surrogate_key,
            )
        finally:
            self._paused = was_paused

    # -- signals (signals.py; SignalProcessor.java) ------------------------
    def process_signals(self, during_snapshot: bool = False) -> list[dict]:
        """Poll and act on pending control signals. Returns the signals
        handled. pause → stop consuming until a later resume; stop →
        halt; execute-snapshot → run an incremental snapshot now (from
        the reconstructed live source, or ``data.source_path``);
        stop-snapshot / pause-snapshot / resume-snapshot → control the
        in-flight incremental snapshot at chunk granularity
        (``pipeline/signal/actions/snapshotting/StopSnapshot.java:31``,
        ``PauseIncrementalSnapshot.java``,
        ``ResumeIncrementalSnapshot.java``).

        ``during_snapshot=True`` is the between-chunk poll: snapshot-
        triggering signals are deferred (left pending, NOT acked) so an
        in-flight snapshot never recurses into another one — they fire
        at the next engine-loop poll, exactly like the reference's
        single snapshot-source slot.

        execute-snapshot honors the reference's payload
        (``ExecuteSnapshot.java`` + ``AdditionalCondition.java``):
        ``data-collections`` names the tables to snapshot (signals for
        other tables are no-ops) and ``additional-conditions`` carries
        per-table predicates pushed into the chunked re-read's pruned
        scans.

        Each signal is acked only AFTER its action completed
        (at-least-once, like the reference committing signal offsets
        post-processing) — a crash mid-action re-fires the signal on
        restart, and the action's fenced/LWW-guarded batches make the
        re-fire idempotent."""
        if not self.cfg.signal_path:
            return []
        from debezium_spark.signals import open_signal_channel

        channel = open_signal_channel(
            self.cfg.signal_path,
            kind=self.cfg.signal_channel_kind,
            processed_path=self.cfg.signal_ack_path,
        )
        handled = []
        for sig in channel.poll():
            if not self._apply_signal_action(sig, during_snapshot):
                # deferred: leave pending (un-acked) for the next
                # engine-loop poll
                continue
            channel.ack(sig["id"])
            handled.append(sig)
        return handled

    def _apply_signal_action(
        self, sig: dict, during_snapshot: bool = False
    ) -> bool:
        """Shared action body for every signal channel (file channel in
        :meth:`process_signals`, source channel in the control-row pass
        / :meth:`_recover_source_signals`). Returns False when the
        signal must stay pending (snapshot-triggering signal arriving
        mid-snapshot); True when its action completed and the caller
        should ack/mark it. "log" and unknown types are recorded but
        have no effect, like the reference's Log action."""
        stype = sig.get("type")
        if stype == "pause":
            self._paused = True
        elif stype == "resume":
            self._paused = False
        elif stype == "stop":
            self._stopped = True
        elif stype == "stop-snapshot":
            self._snapshot_stopped = True
        elif stype == "pause-snapshot":
            self._snapshot_paused = True
        elif stype == "resume-snapshot":
            self._snapshot_paused = False
        elif stype in ("execute-snapshot", "blocking-snapshot"):
            if during_snapshot:
                # defer: an in-flight snapshot never recurses into
                # another one (single snapshot-source slot)
                return False
            self._run_snapshot_signal(stype, sig.get("data", {}) or {})
        elif stype in self.cfg.custom_signal_actions:
            # SignalAction SPI (SignalProcessor.java:130-133):
            # custom types dispatch to registered callables; a
            # raise leaves the signal un-acked → re-fired on the
            # next poll, the reference's at-least-once contract
            self.cfg.custom_signal_actions[stype](self, sig)
        return True

    def _run_snapshot_signal(self, stype: str, data: dict) -> None:
        """execute-snapshot / blocking-snapshot action body, honoring
        the reference's payload (``ExecuteSnapshot.java`` +
        ``AdditionalCondition.java``): ``data-collections`` names the
        tables to snapshot (signals for other tables are no-ops) and
        ``additional-conditions`` carries per-table predicates pushed
        into the chunked re-read's pruned scans."""
        tables = data.get("data-collections") or data.get("data_collections")
        if tables and self._collection not in tables:
            return
        src = None
        if data.get("source_path"):
            src = self.spark.read.parquet(data["source_path"])
        conds = data.get("additional-conditions") or data.get(
            "additional_conditions"
        )
        preds = [
            c["filter"]
            for c in (conds or [])
            if c.get("filter")
            and c.get("data-collection", self._collection)
            == self._collection
        ]
        if preds:
            src = src if src is not None else self.live_source()
            for p in preds:
                src = src.filter(F.expr(p))
        run = (
            self.blocking_snapshot
            if stype == "blocking-snapshot"
            else self.incremental_snapshot
        )
        try:
            run(
                source=src,
                chunk_size=data.get("chunk_size"),
                surrogate_key=data.get("surrogate-key")
                or data.get("surrogate_key"),
            )
        except ValueError:
            # malformed signal PAYLOAD (e.g. unknown surrogate-key
            # column): warn-and-skip like any other malformed signal
            # row — the signal gets acked as a no-op. Propagating
            # would poison-pill a log-carried signal: the deferred
            # fire happens after the batch's merge commit, so a crash
            # here re-fires the same bad signal on every restart
            # (_recover_source_signals) and the engine never comes up.
            # Engine/IO failures are NOT ValueError and still abort.
            import warnings

            warnings.warn(
                f"skipping {stype} signal with invalid payload "
                f"{data!r}",
                stacklevel=2,
            )

    def _recover_source_signals(self, log_schema: str | None = None) -> list[dict]:
        """Re-fire delivered-but-unprocessed SOURCE-channel signals at
        stream start — the crash window where a batch's merge committed
        but a deferred signal action (e.g. its execute-snapshot) did
        not complete before the process died. The reference gets the
        same at-least-once replay by resuming the signal table's
        capture from committed offsets (``SourceSignalChannel.java``);
        here the committed per-partition LSN frontier decides which
        signal rows were already delivered, and the ledger decides
        which of those completed. One column-pruned (op='m') scan.

        Signal rows ABOVE the frontier are left alone — their own batch
        delivers them at their LSN position. ``log_schema``: the log's
        schema when the caller already resolved it."""
        from debezium_spark.signals import parse_source_signal

        log_schema = log_schema or changelog_schema(
            self.spark, self.cfg.changelog_path
        )
        if log_schema is None:
            return []
        df = self.spark.read.schema(log_schema).parquet(self.cfg.changelog_path)
        if "message" not in df.columns:
            return []
        rows = (
            df.filter((F.col("op") == "m") & F.col("message").isNotNull())
            .select("partition_id", "lsn", "message")
            .collect()
        )
        offsets = self.lake.committed_offsets()
        fired = []
        for r in sorted(rows, key=lambda r: r["lsn"]):
            try:
                sig = parse_source_signal(r["message"])
            except ValueError:
                continue  # malformed signal row: warn-and-skip
            if sig is None:
                continue  # schema-change payload, not a signal
            if int(r["lsn"]) > offsets.get(r["partition_id"], -1):
                continue  # not yet delivered — its batch will fire it
            if self._source_ledger.seen(sig["id"]):
                continue
            if self._apply_signal_action(sig):
                self._source_ledger.mark(sig["id"])
                fired.append(sig)
        return fired

    # -- structured-streaming front-end -----------------------------------
    def run_streaming(
        self, checkpoint_dir: str, max_files_per_trigger: int = 1
    ) -> None:
        """Drive the same apply through Structured Streaming
        ``foreachBatch`` (file source over the log directory). Epoch ids
        are the fencing batch ids; checkpoint + fenced merge give
        exactly-once across restarts. Used when the log arrives
        incrementally rather than as a replayable table.

        An exception from ``batch_callback`` kills the query after the
        epoch's merge commit but BEFORE its checkpoint commit — the
        at-least-once window Structured Streaming re-delivers on
        restart; the fence turns the re-delivery into a no-op (the
        reference's stop/restart-mid-stream tests,
        embedded/AbstractConnectorTest.java:243-330)."""
        self._recover_source_signals()
        stream = stream_changelog(
            self.spark, self.cfg.changelog_path, max_files_per_trigger
        )
        applied = {"n": 0}

        def apply(batch_df: DataFrame, epoch_id: int) -> None:
            applied["n"] += 1
            self._apply_stream_epoch(batch_df, int(epoch_id) + 1, applied["n"])

        q = (
            stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, [self])

    def _apply_stream_epoch(
        self, batch_df: DataFrame, batch_id: int, ordinal: int
    ) -> dict:
        """One Structured Streaming epoch through the apply — the body
        both streaming front-ends run (this engine's
        :meth:`run_streaming` and ``MultiTableEngine.run_streaming``,
        once per table): the apply, :meth:`_after_commit`, then one
        poll of the file signal channel. ``ordinal`` counts the epochs
        applied in this run (1-based) for the heartbeat cadence.

        Log-carried schema changes apply when their own 'm' row arrives
        in-batch (the control-row pass in :meth:`_apply_batch`), which
        IS their LSN-ordered apply point — no per-batch max(lsn) job.
        Config-INJECTED changes (``cfg.schema_changes``) have no 'm'
        rows in the log, so only they need the step-1 window gate and
        its frontier job."""
        lsn_hi = None
        if self.cfg.schema_changes:
            row = batch_df.agg(F.max("lsn").alias("m")).collect()[0]
            lsn_hi = (row["m"] if row["m"] is not None else -1) + 1
        result = self._apply_batch(
            batch_df, batch_id, phase="stream", lsn_hi=lsn_hi
        )
        try:
            self._after_commit(result, batch_id, ordinal)
        except StopEngine:
            # graceful per the StopEngineException contract: the
            # merge commit stands, but the query must die BEFORE
            # this epoch checkpoints (returning normally would mark
            # it processed and a later engine-side gap could never
            # replay). The next start re-delivers the epoch and the
            # fence skips it — exactly the crash-replay path, minus
            # the crash. :func:`await_stream` swallows the stop.
            self._stop_requested = True
            raise
        # the between-batches poll (the replay loop polls before each
        # batch); pause / stop flags do not end a streaming query
        self.process_signals()
        return result

    # -- the per-batch pipeline -------------------------------------------
    def _apply_batch(
        self,
        events: DataFrame,
        batch_id: int,
        phase: str = "stream",
        lsn_hi: int | None = None,
    ) -> dict:
        if batch_id <= self.lake.last_batch_id(phase):
            return {"skipped": True, "batch_id": batch_id}

        # 1. schema changes falling inside this batch window are applied
        #    to the table schema first (historized-schema replay,
        #    relational/history/SchemaHistory.java:34-101). lsn_hi is
        #    the batch's LSN window: replay mode derives it from its
        #    deterministic spans; the streaming front-end passes None
        #    unless changes were config-injected without 'm' rows —
        #    log-carried changes apply in the control-row pass below
        #    when their own 'm' row arrives.
        if lsn_hi is not None:
            current_v = self.lake.table_schema().version
            for v in sorted(self.tracker.changes_by_version):
                ch = self.tracker.changes_by_version[v]
                if ch["lsn"] < lsn_hi and v > current_v:
                    self.lake.apply_schema_change(ch)

        # 2. Control-row pass on the RAW input, BEFORE the observation
        #    is attached (a filter cannot be pushed through
        #    CollectMetrics — it would change the observed values): ONE
        #    job collects the batch's 't' (truncate) and 'm' (schema
        #    message) rows. The op IN ('t','m') predicate reaches the
        #    parquet reader; row groups without control ops in their op
        #    dictionary are skipped — near-metadata cost. Schema events
        #    arriving mid-stream (files the init scan never saw) are
        #    dispatched here, so the streaming front-end learns DDL from
        #    the log exactly like the batch path.
        import json

        truncate_lsn = None
        ctl_cols = (
            ["lsn", "op"]
            + (["message"] if "message" in events.columns else [])
            + (["ts_ms"] if "ts_ms" in events.columns else [])
        )
        ctl = events.filter("op IN ('t', 'm')").select(*ctl_cols).collect()
        from debezium_spark.signals import parse_source_signal

        deferred_signals: list[dict] = []
        for r in sorted(ctl, key=lambda r: r["lsn"]):
            if r["op"] == "t":
                truncate_lsn = max(truncate_lsn or -1, int(r["lsn"]))
            elif r["op"] == "m" and ("message" in ctl_cols) and r["message"]:
                # source-channel signal rows (SourceSignalChannel.java:
                # signals riding the captured stream) dispatch here, at
                # their LSN position. Flag actions (pause/stop/custom)
                # fire inline and take effect at the NEXT batch
                # boundary; snapshot-triggering actions are deferred to
                # after this batch's merge commit — the snapshot's
                # watermark must cover this batch's offsets, and the
                # fenced merge makes a crash-between re-fire safe
                # (_recover_source_signals). Malformed signal rows are
                # warn-and-skipped like the reference's channel.
                try:
                    sig = parse_source_signal(r["message"])
                except ValueError:
                    continue
                if sig is not None:
                    if phase != "stream" or self._source_ledger.seen(
                        sig["id"]
                    ):
                        continue
                    if sig["type"] in (
                        "execute-snapshot",
                        "blocking-snapshot",
                    ):
                        deferred_signals.append(sig)
                    else:
                        # flag actions apply NOW (pause/stop take effect
                        # at the next batch boundary) but are ledger-
                        # marked only after this batch's merge commit,
                        # with the deferred ones: marking earlier would
                        # lose the signal if the merge crashes (batch
                        # replays, marked signal skipped); marking after
                        # keeps at-least-once — crash-pre-merge
                        # redelivers the batch and the signal with it,
                        # crash-post-merge is the frontier-recovery case
                        if self._apply_signal_action(sig):
                            deferred_signals.append(
                                {**sig, "__applied": True}
                            )
                    continue
                from debezium_spark.messages import (
                    is_logical_message_payload,
                    parse_logical_message,
                )

                if is_logical_message_payload(r["message"]):
                    # consumer-visible MESSAGE event
                    # (LogicalDecodingMessageMonitor.java): route to
                    # the dedicated message log after the prefix
                    # filter; malformed rows warn-and-skip like the
                    # reference's undecodable messages. LSN-dedup in
                    # the log keeps redelivered batches idempotent.
                    try:
                        msg = parse_logical_message(r["message"])
                    except ValueError:
                        continue
                    import re as _re

                    inc = self.cfg.logical_message_prefix_include
                    exc = self.cfg.logical_message_prefix_exclude
                    if inc and not _re.search(inc, msg["prefix"]):
                        continue
                    if exc and _re.search(exc, msg["prefix"]):
                        continue
                    self.messages.deliver(
                        int(r["lsn"]),
                        msg["prefix"],
                        msg["content"],
                        (
                            int(r["ts_ms"])
                            if "ts_ms" in ctl_cols and r["ts_ms"] is not None
                            else None
                        ),
                    )
                    continue
                ch = self._parse_schema_change(r["message"])
                if ch is None:
                    continue
                v = int(ch["schema_version"])
                if (
                    ch["change_type"] == "CREATE_TABLE"
                    and self.tracker.changes_by_version.get(0) != ch
                ):
                    # the lake was created under another v0 and may
                    # hold rows already — a late history head cannot
                    # be folded in
                    raise ValueError(
                        f"CREATE TABLE history head at lsn {ch['lsn']} was "
                        "not folded at engine init (schema history "
                        "injected through config?); the lake's version-0 "
                        "schema differs from it"
                    )
                if v > self.tracker.latest_version:
                    self.tracker.apply(ch)
                # the change takes effect now, whether newly learned or
                # known since init (cold restart rebuilt the tracker
                # from this same log): its 'm' row is IN this batch, so
                # this is exactly its LSN-ordered apply point, and data
                # rows of this batch may already carry the evolved
                # column — deferring the lake apply would project them
                # against the old schema and silently drop the values
                # to NULL. The version guard makes re-delivery and the
                # replay path's step-1 overlap a no-op; this is also
                # why the streaming front-end needs no per-batch
                # max(lsn) job to gate step 1.
                if v > self.lake.table_schema().version:
                    self.lake.apply_schema_change(ch)

        # 3. per-source-partition offset frontier + lineage (the
        #    StreamingMeter analogue) rides along as observed metrics of
        #    the merge job itself — no separate aggregation job.
        from pyspark.sql import Observation

        aggs = _frontier_aggs(self.cfg.partitions)
        obs = Observation()
        # one struct ``m``, so the observation is built from one Column
        m_sql = ", ".join(f"{a} AS {name}" for name, (a, _) in aggs.items())
        events = events.observe(obs, F.expr(f"struct({m_sql}) AS m"))
        # No cache here: the single consumer is the merge, which
        # persists the aligned change rows; the observation fires when
        # its bucket-discovery job materializes that cache.

        # 4. dispatcher-stage filters + per-record transforms.
        #    Events at lsn <= the batch's max truncate LSN are wiped by
        #    the truncate anyway, so they are dropped up front (this
        #    also removes the 't' rows themselves); the merge wipes
        #    state below it.
        ev = events
        if truncate_lsn is not None:
            ev = ev.filter(f"lsn > {truncate_lsn}")
        # schema-change events (op='m') were dispatched to the schema
        # path above — keep them out of the data pipeline
        ev = ev.filter("op IS NULL OR op != 'm'")
        if self.cfg.table_include_regex:
            ev = table_filter(ev, include_regex=self.cfg.table_include_regex)
        if self.cfg.column_include_regex or self.cfg.column_exclude_regex:
            from debezium_spark.operators.transforms import column_filter

            ev = column_filter(
                ev,
                include_regex=self.cfg.column_include_regex,
                exclude_regex=self.cfg.column_exclude_regex,
                # key columns can never be filtered (the reference's
                # ColumnNameFilter exempts them) — including custom ones
                always_keep=tuple(self.cfg.key_columns),
            )
        obs_pre_valid = Observation()
        ev = ev.observe(obs_pre_valid, F.expr("count(1) AS n"))
        if self.cfg.error_mode == "dlq":
            self._write_dead_letters(ev, batch_id, phase)
        ev = enforce_valid(ev, self.cfg.error_mode)
        obs_post_valid = Observation()
        ev = ev.observe(obs_post_valid, F.expr("count(1) AS n"))
        ev = drop_tombstones(ev)
        if self.cfg.skipped_operations:
            ev = skip_operations(ev, self.cfg.skipped_operations)
        for pp in self.cfg.post_processors:
            # PostProcessor SPI — see EngineConfig.post_processors
            ev = pp(ev)
        obs_survived = Observation()
        ev = ev.observe(obs_survived, F.expr("count(1) AS n"))
        ev = pk_change_split(ev, self.cfg.key_columns)
        ev = normalize_target_key(ev, self.cfg.key_columns)

        # 5. schema alignment + fenced LSN-guarded merge (the LWW
        #    election happens inside it). Offsets/lineage are pulled
        #    from the observation after the merge's bucket-discovery
        #    job (but inside its commit).
        def _obs_row(observation, fallback: dict) -> dict:
            # .get WAITS for the first action over the observed node.
            # When that action ran but the optimizer/AQE proved the
            # observed subtree EMPTY — a zero-row batch window (an LSN
            # gap in the log, or a window holding only control rows) —
            # there is no metrics row and .get dies JVM-side (toPyRow
            # assertion), so the zero/None fallback is the exact
            # answer. When no action over the node has reported, .get
            # BLOCKS FOREVER, not raises — so it must only be called
            # after a job that reads the observed rows (LakeTable.merge
            # calls frontier_fn after its discovery job).
            try:
                return observation.get
            except Exception:
                return dict(fallback)

        def frontier() -> tuple[dict, list[dict], int, dict]:
            m = _obs_row(obs, {"m": None})["m"]
            m = {n: z for n, (_, z) in aggs.items()} if m is None else m.asDict()
            # a log generated with more partitions than cfg.partitions
            # would silently lose offsets/lineage for the overflow ids —
            # fail loudly instead (the frontier range is config-bounded)
            if m["max_pid"] is not None and m["max_pid"] >= self.cfg.partitions:
                raise RuntimeError(
                    f"changelog partition_id {m['max_pid']} >= configured "
                    f"partitions={self.cfg.partitions}; raise "
                    "EngineConfig.partitions to cover the log"
                )
            lineage = [
                {
                    "batch_id": batch_id,
                    "phase": phase,
                    "partition_id": p,
                    "events": m[f"cnt_{p}"],
                    "max_lsn": m[f"max_{p}"],
                }
                for p in range(self.cfg.partitions)
                if m[f"cnt_{p}"]
            ]
            offsets = {r["partition_id"]: r["max_lsn"] for r in lineage}
            # event/tx counters persisted into the commit manifest —
            # the JMX metrics analogue reads them back
            # (CommonEventMetricsMXBean / StreamingMetricsMXBean)
            import time as _time

            pre_v = _obs_row(obs_pre_valid, {"n": 0})["n"]
            post_v = _obs_row(obs_post_valid, {"n": 0})["n"]
            counters = {
                "events_create": m["op_c"],
                "events_update": m["op_u"],
                "events_delete": m["op_d"],
                "events_read": m["op_r"],
                "events_erroneous": pre_v - post_v,
                "events_survived": _obs_row(obs_survived, {"n": 0})["n"],
                "max_source_ts_ms": m["max_source_ts"],
                "last_tx_id": m["last_tx"],
                "first_tx_id": m["first_tx"],
                "committed_tx_approx": m["n_tx"],
                "commit_wall_ms": int(_time.time() * 1000),
            }
            return offsets, lineage, sum(r["events"] for r in lineage), counters

        # the merge elects the LWW winner per key over the touched
        # buckets' state and these raw change rows
        flat = ev.selectExpr(
            "key.repo AS repo", "key.path AS path", "lsn", "op", "`after`", "schema_version"
        )
        result = self.lake.merge(
            self._align(flat),
            batch_id,
            frontier_fn=frontier,
            phase=phase,
            truncate_lsn=truncate_lsn,
        )
        self._fire_deferred_signals(deferred_signals)
        self._maybe_publish()
        return result

    def _maybe_publish(self) -> None:
        """Drain unpublished lake commits to the outbound topic (no-op
        without ``publish_topic_dir``). Runs after the merge commit —
        outside it, like the reference's offset flush relative to the
        Kafka produce — so a crash here costs a re-publish attempt,
        never a lost or doubled record (version dirs are atomic)."""
        if self.cfg.publish_topic_dir:
            from debezium_spark.publisher import publish_changes

            publish_changes(
                self.lake,
                self.cfg.publish_topic_dir,
                tombstones_on_delete=self.cfg.publish_tombstones,
                file_format=self.cfg.publish_format,
            )

    def _fire_deferred_signals(self, sigs: list[dict]) -> None:
        """After the batch's merge commit: run snapshot-triggering
        source-channel signals, and ledger-mark everything (snapshot
        actions AND the flag actions already applied in the control
        pass, tagged ``__applied``). Marks land only once the action
        completed — a crash mid-snapshot leaves the id unmarked and
        :meth:`_recover_source_signals` re-fires it on restart."""
        for sig in sigs:
            if sig.get("__applied") or self._apply_signal_action(sig):
                self._source_ledger.mark(sig["id"])

    def _align(self, flat: DataFrame) -> DataFrame:
        """Project change rows onto the lake's physical superset
        schema, gating each column by the event's schema version —
        events that predate an ADD COLUMN contribute NULL for it
        (mixed-schema batches, SURVEY §7.4)."""
        schema = self.lake.table_schema()
        added_at = []
        for c in schema.columns:
            try:
                added_at.append(self.tracker.added_at_version(c["physical"]))
            except KeyError:
                added_at.append(0)
        return flat.selectExpr(
            *_aligned(schema.columns, added_at, flat.schema["after"].dataType.names)
        )

    # -- introspection ------------------------------------------------------
    @property
    def messages(self):
        """The dedicated logical-message topic analogue
        (``<server>.message``): delivered MESSAGE events, prefix-
        filtered, LSN-deduped."""
        from debezium_spark.messages import LogicalMessageLog

        return LogicalMessageLog(self.cfg.lake_root)

    def final_state(self) -> DataFrame:
        return self.lake.read_state(logical=True)

    def applied_frontier(self) -> int | None:
        """The exact applied stream prefix: every event with
        ``lsn < frontier`` is in the lake, none at or above it is.
        Exact because stream windows are deterministic — batch ids
        1..B cover ``[origin, origin + B*span)`` — so the frontier is
        pure metadata (origin file + committed batch id), no log scan.
        ``None`` before streaming first pins the origin."""
        origin = self._load_stream_origin()
        if origin is None:
            return None
        b = max(self.lake.last_batch_id("stream"), 0)
        return origin + b * self.cfg.batch_lsn_span

    def state_as_of(
        self, version: int | None = None, ts: float | None = None
    ) -> DataFrame:
        """Time-travel read: the table exactly as of commit
        ``version`` (Iceberg ``VERSION AS OF``; every fenced merge is
        one commit) or as of wall-clock ``ts`` (``TIMESTAMP AS OF``,
        resolved against the manifests' commit timestamps). Raises
        ``FileNotFoundError`` once the version has been expired by
        :meth:`debezium_spark.lake.LakeTable.expire_snapshots`."""
        if (version is None) == (ts is None):
            raise ValueError("pass exactly one of version / ts")
        if version is None:
            version = self.lake.version_as_of(ts)
        return self.lake.read_state(logical=True, version=version)

    def _write_dead_letters(
        self, ev: DataFrame, batch_id: int, phase: str
    ) -> None:
        """Route this batch's invalid envelopes to the dead-letter sink
        (Connect DeadLetterQueueReporter → here a parquet dir per
        (phase, batch) under ``<lake_root>/_dlq``). Overwrite makes a
        redelivered batch idempotent on the DLQ side; like the
        reference the DLQ itself is at-least-once (a crash AFTER this
        write but BEFORE the merge commit re-runs both)."""
        from debezium_spark.operators.transforms import dead_letter_records

        out = os.path.join(
            self.cfg.lake_root, "_dlq", f"{phase}_b{batch_id}"
        )
        dead_letter_records(ev, source_topic=self._collection).write.mode(
            "overwrite"
        ).parquet(out)

    def dead_letters(self) -> DataFrame:
        """Every dead-lettered record (all phases/batches), with the
        ``__connect.errors.*`` context headers. Empty DataFrame when
        the DLQ dir does not exist yet."""
        from debezium_spark.envelope import EVENT_SCHEMA
        from debezium_spark.operators.transforms import dead_letter_records

        root = os.path.join(self.cfg.lake_root, "_dlq")
        try:
            return self.spark.read.parquet(f"{root}/*")
        except Exception:
            empty = self.spark.createDataFrame([], EVENT_SCHEMA)
            return dead_letter_records(empty)

    def metrics(self) -> list[dict]:
        return self.lake.lineage()

    def pipeline_metrics(self):
        """JMX-bean-shaped metrics facade (pipeline/metrics/ traits) —
        see :mod:`debezium_spark.metrics`."""
        from debezium_spark.metrics import PipelineMetrics

        return PipelineMetrics(self.lake, self.notifications)
