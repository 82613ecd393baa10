"""Multi-table capture: N tables in one log → one lake table each.

Reference behavior mirrored: a single connector task captures every
include-listed table and dispatches each event to a per-table topic
(EventDispatcher.java:481 dataChangeTopic); consumers replay topics
independently. Oracle: per-table final state must equal a single-table
Engine run over that table's slice of the log, and equal the Python
LWW oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_spark.generator import (
    TABLE_NAME,
    gen_change_log,
    gen_source_table,
)
from debezium_spark.streaming.engine import Engine, EngineConfig
from debezium_spark.streaming.multi_table import (
    MultiTableEngine,
    TableSpec,
    route_changelog_by_table,
    with_table_name,
)

T2 = "repo_files_archive"
T3 = "audit.events-v2"  # needs sanitizing for a path


def _mixed_log(spark, tmp_root, tables, n_events=3000, **gen_kwargs):
    """Interleaved multi-table log: independently generated per-table
    streams (different seeds ⇒ different content), retagged and
    unioned. Per-topic LSN order is what the consumer model guarantees
    — cross-table interleave order is deliberately arbitrary."""
    parts = []
    for i, t in enumerate(tables):
        log = gen_change_log(
            spark,
            n_repos=4,
            paths_per_repo=25,
            n_events=n_events,
            seed=42 + i,
            partitions=4,
            **gen_kwargs,
        )
        parts.append(with_table_name(log, t))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    path = f"{tmp_root}/mixed_log"
    # LSN-range files with monotone mtimes: the streaming file source's
    # ordered-pickup contract (stream_changelog docstring). Both
    # tables' LSN sequences share the generator's numeric range, so
    # global LSN-range files are per-table monotone too.
    from debezium_spark.sources.changelog import write_changelog_ordered

    write_changelog_ordered(df, path)
    return path


def _single_table_final(spark, tmp_root, log_path, table, tag):
    """Oracle engine: one Engine over just this table's events."""
    one = (
        spark.read.parquet(log_path)
        .where(F.col("source.table") == table)
    )
    p = f"{tmp_root}/oracle_log_{tag}"
    one.write.mode("overwrite").parquet(p)
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=p,
            lake_root=f"{tmp_root}/oracle_lake_{tag}",
            snapshot_mode="never",
            n_buckets=4,
            partitions=4,
        ),
    )
    eng.run()
    return eng.final_state()


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("route", ["partition", "filter"])
def test_multi_table_replay_matches_per_table_engines(
    spark, tmp_root, route
):
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables)
    mt = MultiTableEngine(
        spark,
        log_path,
        f"{tmp_root}/lake_{route}",
        route=route,
        snapshot_mode="never",
        n_buckets=4,
        partitions=4,
    )
    assert mt.discover_tables() == sorted(tables)
    mt.run()
    for i, t in enumerate(tables):
        got = _rows(mt.final_state(t))
        want = _rows(
            _single_table_final(
                spark, tmp_root, log_path, t, f"{route}{i}"
            )
        )
        assert got == want, f"table {t} final state diverged"
        assert len(got) > 0
    # the two tables genuinely differ (different seeds)
    assert _rows(mt.final_state(tables[0])) != _rows(
        mt.final_state(tables[1])
    )


def test_concurrent_table_replay_matches_serial(spark, tmp_root):
    """max_concurrent_tables=2: overlapped per-table replays produce
    the same final states as serial (engines share only the session)."""
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=1200)
    serial = MultiTableEngine(
        spark, log_path, f"{tmp_root}/lake_ser",
        snapshot_mode="never", n_buckets=4, partitions=4,
    )
    serial.run()
    conc = MultiTableEngine(
        spark, log_path, f"{tmp_root}/lake_conc",
        snapshot_mode="never", n_buckets=4, partitions=4,
    )
    conc.run(max_concurrent_tables=2)
    for t in tables:
        assert _rows(conc.final_state(t)) == _rows(serial.final_state(t))


def test_shared_signal_channel_data_collection_addressing(
    spark, tmp_root
):
    """One shared signal file, per-consumer ack ledgers: an
    execute-snapshot addressed to one data-collection fires only that
    table's engine; siblings see the signal and no-op it. Both acks
    land in per-table ledgers, so neither consumer hides the signal
    from the other (ExecuteSnapshot.java data-collections +
    consumer-group-offset-style acks)."""
    from debezium_spark.signals import SignalChannel

    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=800)
    sig = f"{tmp_root}/signals.jsonl"
    mt = MultiTableEngine(
        spark, log_path, f"{tmp_root}/lake_sig",
        snapshot_mode="never", n_buckets=4, partitions=4,
        signal_path=sig,
    )
    mt.run()
    before = {
        t: v["batches"] for t, v in mt.metrics_summary()["tables"].items()
    }
    SignalChannel(sig).send(
        "sig-1",
        "execute-snapshot",
        {"data-collections": [T2], "chunk_size": 50},
    )
    handled = mt.process_signals()
    # both consumers handled (acked) it...
    assert [s["id"] for s in handled[TABLE_NAME]] == ["sig-1"]
    assert [s["id"] for s in handled[T2]] == ["sig-1"]
    after = {
        t: v["batches"] for t, v in mt.metrics_summary()["tables"].items()
    }
    # ...but only the addressed table ran a snapshot
    assert after[T2] > before[T2]
    assert after[TABLE_NAME] == before[TABLE_NAME]
    # acks are consumer-scoped files under each table's lake root,
    # never the channel-local default sidecar
    import os

    for t in tables:
        assert os.path.exists(
            f"{mt.lake_root}/{t}/_signals.processed"
        )
    assert not os.path.exists(sig + ".processed")
    # re-poll: the only pending rows are T2's snapshot window
    # bookkeeping (the snapshot WRITES -open/-close rows into the
    # shared signal collection, insert_insert strategy); siblings ack
    # them as no-ops, and the poll after that is empty
    again = mt.process_signals()
    for t, sigs in again.items():
        assert {
            s["type"] for s in sigs
        } <= {"snapshot-window-open", "snapshot-window-close"}, (t, sigs)
    third = mt.process_signals()
    assert all(v == [] for v in third.values())


def test_route_changelog_partitions_and_sanitized_dirs(spark, tmp_root):
    tables = [TABLE_NAME, T3]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=800)
    topics = route_changelog_by_table(
        spark, log_path, f"{tmp_root}/topics"
    )
    assert sorted(topics) == sorted(tables)
    total = spark.read.parquet(log_path).count()
    per = {
        t: spark.read.parquet(p).count() for t, p in topics.items()
    }
    assert sum(per.values()) == total
    # routing is idempotent: a second call re-lists, no rewrite
    again = route_changelog_by_table(
        spark, log_path, f"{tmp_root}/topics"
    )
    assert again == topics
    # topic files carry full event schema (routing key restored on read)
    cols = set(spark.read.parquet(topics[T3]).columns)
    assert {"lsn", "op", "key", "before", "after", "source"} <= cols
    # per-topic slice is pure: only its own table
    vals = (
        spark.read.parquet(topics[T3])
        .select(F.col("source.table").alias("t"))
        .distinct()
        .collect()
    )
    assert [r["t"] for r in vals] == [T3]


def test_include_exclude_capture_set(spark, tmp_root):
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=600)
    mt = MultiTableEngine(
        spark,
        log_path,
        f"{tmp_root}/lake_inc",
        include_regex="archive",
        snapshot_mode="never",
        n_buckets=4,
        partitions=4,
    )
    assert mt.discover_tables() == [T2]
    res = mt.run()
    assert set(res) == {T2}
    assert mt.final_state(T2).count() > 0


def test_per_table_snapshot_and_independence(spark, tmp_root):
    """Per-table sources: one table snapshots, the other streams from
    nothing; re-running one table's engine alone is fenced (offsets)
    and leaves the other untouched."""
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=1500)
    src = gen_source_table(spark, n_repos=4, paths_per_repo=25)
    src_path = f"{tmp_root}/src_main"
    src.write.mode("overwrite").parquet(src_path)
    mt = MultiTableEngine(
        spark,
        log_path,
        f"{tmp_root}/lake_mix",
        tables=[
            TableSpec(
                TABLE_NAME,
                source_table_path=src_path,
                overrides={"snapshot_mode": "initial"},
            ),
            TableSpec(T2, overrides={"snapshot_mode": "never"}),
        ],
        n_buckets=4,
        partitions=4,
    )
    mt.run()
    a1 = _rows(mt.final_state(TABLE_NAME))
    b1 = _rows(mt.final_state(T2))
    # snapshot-backed table == single-table oracle engine with the same
    # snapshot (stream deletes remove snapshot keys, so no keyspace count)
    one = (
        spark.read.parquet(log_path)
        .where(F.col("source.table") == TABLE_NAME)
    )
    p = f"{tmp_root}/oracle_log_snap"
    one.write.mode("overwrite").parquet(p)
    oracle = Engine(
        spark,
        EngineConfig(
            changelog_path=p,
            lake_root=f"{tmp_root}/oracle_lake_snap",
            source_table_path=src_path,
            snapshot_mode="initial",
            n_buckets=4,
            partitions=4,
        ),
    )
    oracle.run()
    assert a1 == _rows(oracle.final_state())
    assert len(b1) > 0
    # re-run ONE table: fenced no-op, sibling untouched
    mt.engines()[T2].run()
    assert _rows(mt.final_state(T2)) == b1
    assert _rows(mt.final_state(TABLE_NAME)) == a1


def test_streaming_multi_table_matches_batch_replay(spark, tmp_root):
    """One streaming query over the mixed log == per-table batch
    replay == an independent SINGLE-table engine per table: same final
    state everywhere."""
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=900)
    mt = MultiTableEngine(
        spark, log_path, f"{tmp_root}/lake_stream", route="filter",
        snapshot_mode="never", n_buckets=4, partitions=4,
    )
    mt.run_streaming(
        f"{tmp_root}/ckpt_stream", max_files_per_trigger=4
    )
    batch = MultiTableEngine(
        spark, log_path, f"{tmp_root}/lake_batch", route="filter",
        snapshot_mode="never", n_buckets=4, partitions=4,
    )
    batch.run()
    for i, t in enumerate(tables):
        got = _rows(mt.final_state(t))
        assert got == _rows(batch.final_state(t))
        assert got == _rows(
            _single_table_final(spark, tmp_root, log_path, t, f"st{i}")
        )


def test_streaming_multi_table_applies_config_injected_schema_changes(
    spark, tmp_root
):
    """Schema changes injected through the engine config carry no 'm'
    row in the log; the multi-table streaming front-end must gate them
    by each epoch's LSN window like the single-table one, so the
    evolved column's values reach every table's lake (and equal the
    batch replay's)."""
    change = {
        "lsn": 100 + 900,
        "schema_version": 1,
        "change_type": "ALTER_ADD_COLUMN",
        "column_name": "size_bytes",
        "new_type": "bigint",
    }
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(
        spark, tmp_root, tables, n_events=900,
        schema_change_lsns={1: change["lsn"]},
    )
    opts = dict(
        route="filter", snapshot_mode="never", n_buckets=4, partitions=4,
        schema_changes=[change],
    )
    mt = MultiTableEngine(spark, log_path, f"{tmp_root}/lake_sc_s", **opts)
    mt.run_streaming(f"{tmp_root}/ckpt_sc", max_files_per_trigger=4)
    batch = MultiTableEngine(spark, log_path, f"{tmp_root}/lake_sc_b", **opts)
    batch.run()
    for t in tables:
        assert mt.engines()[t].lake.table_schema().version == 1
        got = _rows(mt.final_state(t))
        assert got == _rows(batch.final_state(t))
        sized = mt.final_state(t).filter(F.col("size_bytes").isNotNull())
        assert sized.count() > 0, t


def test_streaming_shared_signal_fires_once_per_consumer(
    spark, tmp_root
):
    """The shared file-signal channel stays live through the streaming
    front-end: a data-collection-addressed execute-snapshot sent
    before the stream starts fires EXACTLY ONCE per consumer at an
    epoch boundary — the addressed table runs its snapshot mid-stream,
    siblings ack the same signal as a no-op into their own ledgers,
    and a second streaming run re-fires nothing."""
    from debezium_spark.signals import SignalChannel

    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=800)
    sig = f"{tmp_root}/signals_stream.jsonl"
    SignalChannel(sig).send(
        "sig-st-1",
        "execute-snapshot",
        {"data-collections": [T2], "chunk_size": 50},
    )

    def make():
        return MultiTableEngine(
            spark, log_path, f"{tmp_root}/lake_sigstream",
            route="filter", snapshot_mode="never", n_buckets=4,
            partitions=4, signal_path=sig,
        )

    mt = make()
    mt.run_streaming(f"{tmp_root}/ckpt_sigstream", max_files_per_trigger=4)
    summary = mt.metrics_summary()["tables"]
    # the addressed table committed incremental-snapshot batches
    # mid-stream; its sibling never entered the incremental phase
    incr = {
        t: mt.engines()[t].lake.last_batch_id("incremental")
        for t in tables
    }
    assert incr[T2] >= 0
    assert incr[TABLE_NAME] == -1
    # exactly one ack per consumer, in per-consumer ledgers
    import os

    for t in tables:
        ledger = f"{mt.lake_root}/{t}/_signals.processed"
        assert os.path.exists(ledger)
        with open(ledger) as f:
            ids = [line.strip() for line in f if line.strip()]
        assert ids.count("sig-st-1") == 1, (t, ids)
    # final states still match an independent single-table engine
    # (snapshot re-read is LWW-idempotent against the streamed state)
    for i, t in enumerate(tables):
        assert _rows(mt.final_state(t)) == _rows(
            _single_table_final(spark, tmp_root, log_path, t, f"sg{i}")
        )
    # a fresh streaming run over the same checkpoint re-fires nothing
    before = {t: summary[t]["batches"] for t in tables}
    mt2 = make()
    mt2.run_streaming(
        f"{tmp_root}/ckpt_sigstream", max_files_per_trigger=4
    )
    after = {
        t: v["batches"] for t, v in mt2.metrics_summary()["tables"].items()
    }
    assert after == before


def test_streaming_multi_table_crash_mid_fan_recovers(spark, tmp_root):
    """Crash after table A's merge but before table B's in one epoch:
    restart re-delivers the epoch, A's fence skips, B applies —
    exactly-once per table with no gap and no double-apply."""
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=900)

    def make(**kw):
        return MultiTableEngine(
            spark, log_path, f"{tmp_root}/lake_crash", route="filter",
            snapshot_mode="never", n_buckets=4, partitions=4, **kw,
        )

    first = sorted(tables)[0]  # the fan applies tables in name order

    def crash_mid_fan(eng, result):
        # after the first table commits epoch 2, before the next applies
        if eng.cfg.collection_name == first and result["batch_id"] == 2:
            raise RuntimeError(
                "injected crash mid-fan: earlier tables"
                " committed this epoch, later ones not"
            )

    ckpt = f"{tmp_root}/ckpt_crash"
    crashing = make(batch_callback=crash_mid_fan)
    with pytest.raises(Exception, match="injected crash mid-fan"):
        crashing.run_streaming(ckpt, max_files_per_trigger=4)
    assert list(crashing.engines()) == sorted(tables)
    assert crashing.engines()[first].lake.last_batch_id("stream") == 2
    assert all(
        eng.lake.last_batch_id("stream") == 1
        for name, eng in crashing.engines().items()
        if name != first
    )
    # fresh coordinator, same checkpoint: resumes and completes
    mt = make()
    mt.run_streaming(ckpt, max_files_per_trigger=4)
    batch = MultiTableEngine(
        spark, log_path, f"{tmp_root}/lake_crash_oracle",
        route="filter", snapshot_mode="never", n_buckets=4,
        partitions=4,
    )
    batch.run()
    for t in tables:
        assert _rows(mt.final_state(t)) == _rows(batch.final_state(t))
    # both tables' lakes fenced up to the same final stream batch id
    summary = mt.metrics_summary()["tables"]
    ids = {v["last_batch_id"] for v in summary.values()}
    assert len(ids) == 1 and None not in ids


def test_streaming_multi_table_requires_filter_route(spark, tmp_root):
    tables = [TABLE_NAME, T2]
    log_path = _mixed_log(spark, tmp_root, tables, n_events=400)
    mt = MultiTableEngine(
        spark, log_path, f"{tmp_root}/lake_badroute",
        snapshot_mode="never", n_buckets=4, partitions=4,
    )
    with pytest.raises(ValueError, match="route='filter'"):
        mt.run_streaming(f"{tmp_root}/ckpt_badroute")
