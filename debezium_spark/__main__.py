"""CLI entry — the Debezium Server / standalone analogue
(``debezium-server`` wraps the embedded engine with a config file; here
``spark-submit --py-files debezium_spark.zip -m debezium_spark`` wraps
:class:`~debezium_spark.streaming.engine.Engine` with argparse).

Example::

    spark-submit --py-files debezium_spark.zip \
        -m debezium_spark \
        --changelog /data/changelog --lake /data/lake \
        --source-table /data/source --batch-lsn-span 1000000 \
        --partitions 32

On a cluster the master/executor topology comes from spark-submit; in
local runs ``--cores`` picks local[N].
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="debezium_spark")
    p.add_argument("--changelog", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--source-table")
    p.add_argument("--batch-lsn-span", type=int, default=4096)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--partitions", type=int, default=4)
    p.add_argument(
        "--snapshot-mode",
        choices=(
            "always",
            "initial",
            "never",
            "initial_only",
            "when_needed",
            "schema_only",
        ),
        default="initial",
    )
    p.add_argument(
        "--error-mode",
        choices=("fail", "warn", "skip", "dlq"),
        default="fail",
        help="dlq = errors.tolerance=all + dead-letter routing to "
        "<lake-root>/_dlq with __connect.errors.* context headers",
    )
    p.add_argument("--signal-path")
    p.add_argument(
        "--key-columns",
        default="repo,path",
        help="message.key.columns analogue (comma list, must include repo,path)",
    )
    p.add_argument(
        "--snapshot-filter",
        help="snapshot.select.statement.overrides analogue: SQL "
        "predicate applied to the initial snapshot read",
    )
    p.add_argument(
        "--snapshot-columns",
        help="comma list of columns the snapshot captures (key columns "
        "always kept)",
    )
    p.add_argument("--max-batches", type=int)
    p.add_argument(
        "--offset-store",
        help="external offset backing-store file (authoritative resume "
        "position when set)",
    )
    p.add_argument(
        "--offset-commit-policy",
        choices=("always", "periodic"),
        default="always",
    )
    p.add_argument("--offset-flush-interval-batches", type=int, default=4)
    p.add_argument(
        "--heartbeat-interval-batches",
        type=int,
        default=0,
        help="emit an offset-carrying heartbeat record every N stream "
        "batches to <lake>/_heartbeats/log.jsonl (heartbeat.interval.ms "
        "analogue; 0 = disabled, the reference default)",
    )
    p.add_argument(
        "--watermarking-strategy",
        choices=("insert_insert", "insert_delete", "read_only"),
        default="insert_insert",
        help="incremental.snapshot.watermarking.strategy analogue",
    )
    p.add_argument(
        "--max-retries",
        type=int,
        default=0,
        help="errors.max.retries: restart the engine on retriable "
        "(communication) failures; -1 unlimited, 0 disabled",
    )
    p.add_argument(
        "--retriable-regex",
        help="custom.retriable.exception analogue: error-message regex "
        "converted to retriable",
    )
    p.add_argument(
        "--restart-wait",
        type=float,
        default=0.0,
        help="retriable.restart.connector.wait.ms analogue (seconds)",
    )
    p.add_argument(
        "--skip-unparseable-ddl",
        action="store_true",
        help="schema.history.internal.skip.unparseable.ddl analogue",
    )
    p.add_argument(
        "--ddl-filter",
        help="schema.history.internal.ddl.filter analogue (regex)",
    )
    p.add_argument(
        "--table-include",
        help="table.include.list analogue (regex over source.table)",
    )
    p.add_argument(
        "--store-only-captured",
        action="store_true",
        help="schema.history.internal.store.only.captured.tables.ddl "
        "analogue (needs --table-include to define the captured set)",
    )
    p.add_argument(
        "--publish-topic-dir",
        help="outbound wire-record topic: every committed lake version's "
        "change feed is published here (Kafka sink analogue)",
    )
    p.add_argument(
        "--retain-tombstones",
        action="store_true",
        help="keep deletes as hidden tombstone rows in lake state "
        "(log-compaction semantics; order-tolerant merges)",
    )
    p.add_argument("--cores", type=int, help="local[N] when not on a cluster")
    p.add_argument(
        "--streaming",
        action="store_true",
        help="drive via Structured Streaming foreachBatch instead of batch replay",
    )
    p.add_argument("--checkpoint", help="checkpoint dir for --streaming")
    args = p.parse_args(argv)

    from debezium_spark.generator import TABLE_NAME
    from debezium_spark.session import get_spark
    from debezium_spark.streaming.engine import Engine, EngineConfig

    overrides = None
    if args.snapshot_filter or args.snapshot_columns:
        ov: dict = {}
        if args.snapshot_filter:
            ov["filter"] = args.snapshot_filter
        if args.snapshot_columns:
            ov["columns"] = args.snapshot_columns.split(",")
        overrides = {TABLE_NAME: ov}

    spark = get_spark("debezium_spark", cores=args.cores)
    cfg = EngineConfig(
        changelog_path=args.changelog,
        lake_root=args.lake,
        source_table_path=args.source_table,
        batch_lsn_span=args.batch_lsn_span,
        n_buckets=args.n_buckets,
        partitions=args.partitions,
        snapshot_mode=args.snapshot_mode,
        error_mode=args.error_mode,
        signal_path=args.signal_path,
        key_columns=tuple(args.key_columns.split(",")),
        snapshot_overrides=overrides,
        offset_store_path=args.offset_store,
        offset_commit_policy=args.offset_commit_policy,
        offset_flush_interval_batches=args.offset_flush_interval_batches,
        watermarking_strategy=args.watermarking_strategy,
        table_include_regex=args.table_include,
        schema_history_skip_unparseable=args.skip_unparseable_ddl,
        schema_history_ddl_filter=args.ddl_filter,
        schema_history_store_only_captured=args.store_only_captured,
        heartbeat_interval_batches=args.heartbeat_interval_batches,
        publish_topic_dir=args.publish_topic_dir,
        retain_delete_tombstones=args.retain_tombstones,
    )
    if args.streaming:
        if not args.checkpoint:
            p.error("--streaming requires --checkpoint")
        eng = Engine(spark, cfg)
        snap = eng.snapshot()
        if snap:
            print(json.dumps({"phase": "snapshot", **snap}))
        eng.run_streaming(args.checkpoint)
        results = []
    elif args.max_retries:
        from debezium_spark.errors import run_resilient

        # engine init (lake create + schema-history scan) is paid once
        # per attempt inside the factory — no discarded pre-build
        last: dict = {}

        def _factory():
            last["eng"] = Engine(spark, cfg)
            return last["eng"]

        results = run_resilient(
            _factory,
            run=lambda e: e.run(max_batches=args.max_batches),
            max_retries=args.max_retries,
            custom_retriable_regex=args.retriable_regex,
            restart_wait=args.restart_wait,
        )
        eng = last["eng"]
    else:
        eng = Engine(spark, cfg)
        results = eng.run(max_batches=args.max_batches)
    for r in results:
        print(json.dumps(r))
    print(
        json.dumps(
            {
                "final_rows": eng.final_state().count(),
                "offsets": eng.lake.committed_offsets(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
