"""Multi-table capture: one change log carrying many tables, routed to
one lake table per captured collection.

Reference semantics being mirrored (spec, not code):

- A Debezium source task captures EVERY table matched by
  ``table.include.list`` in a single ordered log read; each event is
  dispatched to its own per-table topic
  (``pipeline/EventDispatcher.java:481,533,601`` —
  ``topicNamingStrategy.dataChangeTopic(dataCollectionSchema.id())``;
  strategy SPI ``debezium-api .../spi/topic/TopicNamingStrategy.java:20``).
- The relational schema registry tracks all captured tables at once
  (``relational/RelationalDatabaseSchema.java:29,64-66,100`` —
  ``tableIds()`` is the include-filtered subset) and schema history is
  replayed per table id.
- Downstream, per-topic consumption is INDEPENDENT: ordering is only
  guaranteed per topic-partition (per key), never across tables, so a
  per-table replay of a per-table topic is the faithful consumer model.

Spark-first mapping:

``route_changelog_by_table``
    ONE linear pass over the mixed log writing a dynamic-partitioned
    copy (``partitionBy(source.table)``) — the topic-per-table split
    Kafka Connect performs event-by-event. No shuffle; downstream
    per-table scans are directory-pruned (partition pruning), so each
    table's replay reads only its own bytes. At 10^10 events this is
    the same single materialization the reference's Kafka hop costs.

``MultiTableEngine``
    A coordinator holding one :class:`~debezium_spark.streaming.engine.
    Engine` per captured table (per-table lake root, offsets, schema
    history, notifications — the per-topic consumer group analogue).
    ``route="partition"`` consumes the routed topic directories;
    ``route="filter"`` skips the routing pass and gives every engine
    the shared log with an anchored ``table.include.list`` filter
    (right when the log is small or already clustered by table — the
    filter reaches the scan, but interleaved row groups can't prune).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.streaming.engine import Engine, EngineConfig, await_stream

__all__ = [
    "TableSpec",
    "MultiTableEngine",
    "route_changelog_by_table",
    "with_table_name",
]

_TOPIC_COL = "__topic"


def sanitize_table_dir(name: str) -> str:
    """Path-safe directory name for one table (the ``sanitized`` topic
    naming shape: every char outside [a-zA-Z0-9._-] becomes ``_``)."""
    return re.sub(r"[^a-zA-Z0-9._-]", "_", name)


def with_table_name(events: DataFrame, table: str) -> DataFrame:
    """Re-tag every event's ``source.table`` — the generator emits a
    single-table log, so multi-table fixtures are built by retagging
    independently generated logs and unioning them."""
    return events.withColumn(
        "source", F.col("source").withField("table", F.lit(table))
    )


def route_changelog_by_table(
    spark: SparkSession, changelog_path: str, topics_root: str
) -> dict[str, str]:
    """Split a mixed-table change log into per-table topic directories.

    One pass, no shuffle: ``write.partitionBy(source.table)`` is the
    dataChangeTopic routing (EventDispatcher.java:481) done as a bulk
    job instead of per event. Returns {table_name: topic_dir}. The
    partition column is dropped on read and restored from the
    directory, so topic files carry the full event schema minus the
    redundant routing key. Idempotent per (changelog, topics_root):
    an existing COMPLETED routing (the writer's _SUCCESS marker) is
    trusted and re-listed; a partial one (crash mid-write) is redone,
    and mode("overwrite") makes the redo safe.
    """
    if _hadoop_exists(spark, f"{topics_root}/_SUCCESS"):
        existing = _list_topics(spark, topics_root)
        if existing:
            return existing
    df = spark.read.parquet(changelog_path)
    (
        df.withColumn(_TOPIC_COL, F.col("source.table"))
        .write.mode("overwrite")
        .partitionBy(_TOPIC_COL)
        .parquet(topics_root)
    )
    return _list_topics(spark, topics_root)


def _hadoop_exists(spark: SparkSession, path: str) -> bool:
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _list_topics(spark: SparkSession, topics_root: str) -> dict[str, str]:
    """{table: topic_dir} from the routed directory layout (partition
    values are URL-escaped by the writer; unquote restores the name)."""
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path(topics_root)
    fs = jpath.getFileSystem(hconf)
    if not fs.exists(jpath):
        return {}
    out: dict[str, str] = {}
    for st in fs.listStatus(jpath):
        base = st.getPath().getName()
        if not base.startswith(f"{_TOPIC_COL}="):
            continue
        name = unquote(base[len(_TOPIC_COL) + 1 :])
        out[name] = f"{topics_root}/{base}"
    return out


@dataclass
class TableSpec:
    """Per-captured-table configuration (the per-TableId slice of the
    connector config: key shape ≙ message.key.columns, snapshot source
    ≙ the table itself, overrides ≙ any EngineConfig field)."""

    name: str
    key_columns: tuple[str, ...] = ("repo", "path")
    source_table_path: str | None = None
    overrides: dict = field(default_factory=dict)


class MultiTableEngine:
    """One engine per captured table over a shared multi-table log.

    Mirrors the task-level loop: RelationalDatabaseSchema.tableIds()
    (include/exclude-filtered) decides the captured set; each table
    gets its own topic, offsets, schema history, and sink table —
    failure or restart of one table's consumer never disturbs another
    (per-topic consumer independence).
    """

    def __init__(
        self,
        spark: SparkSession,
        changelog_path: str,
        lake_root: str,
        tables: list[TableSpec] | None = None,
        include_regex: str | None = None,
        exclude_regex: str | None = None,
        route: str = "partition",
        **engine_defaults,
    ):
        if route not in ("partition", "filter"):
            raise ValueError(f"route must be partition|filter, got {route!r}")
        self.spark = spark
        self.changelog_path = changelog_path
        self.lake_root = lake_root
        self.route = route
        self._defaults = engine_defaults
        self._include = include_regex
        self._exclude = exclude_regex
        self._specs = {t.name: t for t in tables} if tables else None
        self._engines: dict[str, Engine] | None = None
        self._topics: dict[str, str] = {}

    # -- captured-set discovery (tableIds() analogue) -----------------

    def discover_tables(self) -> list[str]:
        """Captured table names: the log's distinct ``source.table``
        (control-plane collect, O(tables) rows) filtered by the
        include/exclude regexes — RelationalDatabaseSchema.java:64-66.
        """
        if self._specs is not None:
            names = sorted(self._specs)
        else:
            rows = (
                self.spark.read.parquet(self.changelog_path)
                .select(F.col("source.table").alias("t"))
                .where(F.col("t").isNotNull())
                .distinct()
                .collect()
            )
            names = sorted(r["t"] for r in rows)
        if self._include:
            names = [n for n in names if re.search(self._include, n)]
        if self._exclude:
            names = [n for n in names if not re.search(self._exclude, n)]
        return names

    # -- engine construction ------------------------------------------

    def engines(self) -> dict[str, Engine]:
        if self._engines is not None:
            return self._engines
        names = self.discover_tables()
        if self.route == "partition":
            topics = route_changelog_by_table(
                self.spark, self.changelog_path, f"{self.lake_root}/_topics"
            )
            self._topics = topics
            missing = [n for n in names if n not in topics]
            if missing:
                raise ValueError(
                    f"captured tables absent from routed log: {missing}"
                )
        self._engines = {}
        for name in names:
            spec = (self._specs or {}).get(name) or TableSpec(name)
            cfg_kwargs = dict(self._defaults)
            cfg_kwargs.update(spec.overrides)
            if self.route == "partition":
                log_path = self._topics[name]
            else:
                log_path = self.changelog_path
                # anchored include ⇒ exactly this table; reaches the scan
                cfg_kwargs.setdefault(
                    "table_include_regex", f"^{re.escape(name)}$"
                )
            table_root = f"{self.lake_root}/{sanitize_table_dir(name)}"
            # shared signal channel ⇒ per-consumer ack ledger, so one
            # table's ack never hides the signal from its siblings;
            # data-collection addressing matches this engine's name
            if cfg_kwargs.get("signal_path"):
                cfg_kwargs.setdefault(
                    "signal_ack_path",
                    f"{table_root}/_signals.processed",
                )
            # a SHARED outbound topic dir would collide version dirs
            # across different tables' lakes (the second table's v1
            # reads as already published and is silently skipped) —
            # route each table to its own topic subdir, the per-table
            # Kafka topic the reference gives every collection
            if cfg_kwargs.get("publish_topic_dir"):
                cfg_kwargs["publish_topic_dir"] = (
                    f"{cfg_kwargs['publish_topic_dir']}/"
                    f"{sanitize_table_dir(name)}"
                )
            cfg_kwargs.setdefault("collection_name", name)
            cfg = EngineConfig(
                changelog_path=log_path,
                lake_root=table_root,
                source_table_path=spec.source_table_path,
                key_columns=tuple(spec.key_columns),
                **cfg_kwargs,
            )
            self._engines[name] = Engine(self.spark, cfg)
        return self._engines

    # -- lifecycle ------------------------------------------------------

    def run(
        self,
        max_batches: int | None = None,
        max_concurrent_tables: int = 1,
    ) -> dict[str, list[dict]]:
        """Replay every captured table to its lake table. Per-table
        engines are independent consumers; any one may be re-run alone
        (its offsets fence re-delivery) without touching the others.

        ``max_concurrent_tables > 1`` replays that many tables at once
        from driver threads — Spark schedules concurrent jobs across
        the same executors, so small tables overlap instead of
        serializing behind big ones (the multi-topic consumer-group
        shape; engines share nothing but the SparkSession, and each
        engine's state/offsets live under its own lake root)."""
        engines = self.engines()
        if max_concurrent_tables <= 1:
            return {
                name: eng.run(max_batches=max_batches)
                for name, eng in engines.items()
            }
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_concurrent_tables) as pool:
            futs = {
                name: pool.submit(eng.run, max_batches=max_batches)
                for name, eng in engines.items()
            }
            return {name: f.result() for name, f in futs.items()}

    def run_streaming(
        self, checkpoint_dir: str, max_files_per_trigger: int = 1
    ) -> None:
        """Drive ALL captured tables through ONE Structured Streaming
        query over the mixed log — the single-source-task shape of the
        reference (one connector task reads the WAL once and
        dispatches per-table, EventDispatcher.java:481): each
        micro-batch is split by ``source.table`` in-batch and applied
        through that table's engine with the epoch as the shared
        fencing batch id — the same per-epoch body as
        ``Engine.run_streaming`` (config-injected schema-change gate,
        heartbeats, ``batch_callback``/``StopEngine``, signal poll).

        Exactly-once under partial fan failure: engines fence
        independently, so a crash after table A's merge but before
        table B's (an exception from A's ``batch_callback``) leaves A
        committed at epoch N and B not; Structured Streaming
        re-delivers epoch N on restart and A's fence skips while B
        applies — no double-apply, no gap.

        The SHARED signal channel stays live while streaming: each
        engine polls ``signal_path`` once per epoch, after its own
        apply (the reference's signal-table poll cadence,
        ``pipeline/signal/SignalProcessor.java`` interval poll) — one
        signal fires ONCE PER CONSUMER, acked into that consumer's own
        ledger, so a data-collection-addressed snapshot runs on the
        addressed table mid-stream while siblings ack it as a no-op.
        A crash between a signal's action and its ack re-fires it on
        restart (at-least-once), and the action's fenced batches make
        the re-fire idempotent.

        Requires ``route='filter'``: the streaming source tails the
        mixed log directly; the routed-topics copy is a bulk-replay
        layout that would go stale under a growing log.
        """
        if self.route != "filter":
            raise ValueError(
                "run_streaming tails the mixed log; construct "
                "MultiTableEngine(route='filter')"
            )
        from debezium_spark.sources.changelog import stream_changelog

        engines = self.engines()
        for eng in engines.values():
            eng._recover_source_signals()
        seen = {"epochs": 0}

        def apply(batch_df: DataFrame, epoch_id: int) -> None:
            seen["epochs"] += 1
            for name, eng in engines.items():
                eng._apply_stream_epoch(
                    batch_df.filter(F.col("source.table") == F.lit(name)),
                    int(epoch_id) + 1,
                    seen["epochs"],
                )

        q = (
            stream_changelog(
                self.spark, self.changelog_path, max_files_per_trigger
            )
            .writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, engines.values())

    def process_signals(self) -> dict[str, list[dict]]:
        """Fan one poll over every captured table's engine. With a
        shared ``signal_path``, a signal addressed via
        ``data-collections`` fires only on the engines whose
        collection it names (others ack it as a no-op into their own
        ledgers) — the signal-table semantics of ExecuteSnapshot."""
        return {
            name: eng.process_signals()
            for name, eng in self.engines().items()
        }

    def final_state(self, table: str) -> DataFrame:
        return self.engines()[table].final_state()

    # -- transactionally consistent cross-table reads -----------------

    def consistency_violations(
        self, max_tx_lsn_span: int | None = None
    ) -> DataFrame:
        """Transactions SPLIT by the current per-table applied
        frontiers: a tx with at least one event already applied to
        some table's lake AND at least one not yet applied (to the
        same or another table). The reference's transaction topic
        exists precisely so consumers can detect/buffer these
        (``TransactionMonitor`` BEGIN/END + per-collection event
        counts); here the check is ONE scan of the mixed log —
        ``groupBy(txId)`` partial-agg over two boolean flags, no
        per-table pass, events without transaction metadata ignored.

        ``max_tx_lsn_span`` is the 100 TB lever: a split tx must have
        a pending event (``lsn ≥ min(frontiers)``), and WAL/binlog
        transactions emit contiguously between BEGIN and END, so when
        the caller bounds a transaction's LSN extent the whole check
        prunes to ``lsn ≥ min(frontiers) − span`` — a bounded tail
        window pushed to the parquet reader, never a full-log scan.
        Left ``None`` the scan is exact for arbitrarily long
        transactions (and reads the whole log).

        Returns (txId, applied_events, pending_events, tables) for
        each split transaction — empty ⇔ the per-table states form a
        transaction-consistent cross-table snapshot.
        """
        frontiers = {
            name: eng.applied_frontier() or 0
            for name, eng in self.engines().items()
        }
        log = self.spark.read.parquet(self.changelog_path)
        if max_tx_lsn_span is not None:
            lo = min(frontiers.values()) - int(max_tx_lsn_span)
            log = log.where(F.col("lsn") >= lo)
        tbl = F.col("source.table")
        frontier = F.lit(None).cast("long")
        for name, L in frontiers.items():
            frontier = F.when(tbl == name, F.lit(L)).otherwise(frontier)
        applied = F.col("lsn") < frontier
        return (
            log.where(
                tbl.isin(*frontiers) & F.col("source.txId").isNotNull()
            )
            .groupBy(F.col("source.txId").alias("txId"))
            .agg(
                F.count(F.when(applied, True)).alias("applied_events"),
                F.count(F.when(~applied, True)).alias("pending_events"),
                F.sort_array(F.collect_set(tbl)).alias("tables"),
            )
            .where(
                (F.col("applied_events") > 0) & (F.col("pending_events") > 0)
            )
        )

    def consistent_state(self) -> dict[str, DataFrame]:
        """All captured tables' states, verified to be a
        TRANSACTION-CONSISTENT cross-table snapshot: no transaction is
        split by the current frontiers (some events applied, some
        pending). Raises with the violating transaction ids otherwise
        — run the lagging engines forward and retry (each engine's
        fenced replay is independently resumable, so converging the
        frontiers is always possible). Ordinary prefix consistency per
        table is already guaranteed by the deterministic LSN windows;
        this adds the cross-table guarantee the reference's
        transaction topic gives its consumers."""
        viol = self.consistency_violations().limit(20).collect()
        if viol:
            ids = [r["txId"] for r in viol]
            raise RuntimeError(
                f"{len(viol)}+ transactions split across the current "
                f"per-table frontiers (e.g. txId={ids[:5]}); advance "
                "the lagging engines (run()) and retry"
            )
        return {
            name: eng.final_state()
            for name, eng in self.engines().items()
        }

    def metrics(self, table: str) -> list[dict]:
        return self.engines()[table].metrics()

    def metrics_summary(self) -> dict:
        """Task-level rollup across captured tables (the connector-task
        MBean view over per-table streaming metrics): per-table event
        totals + last batch id, plus the task-wide event sum."""
        out: dict = {"tables": {}, "total_events": 0}
        for name, eng in self.engines().items():
            rows = eng.metrics()
            ev = sum(int(m.get("events", 0) or 0) for m in rows)
            out["tables"][name] = {
                "events": ev,
                "batches": len(rows),
                "last_batch_id": max(
                    (int(m["batch_id"]) for m in rows if "batch_id" in m),
                    default=None,
                ),
            }
            out["total_events"] += ev
        return out
