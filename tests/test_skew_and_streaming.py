"""Skew fixture (one hot repo) and the Structured Streaming front-end
(foreachBatch + checkpoint, availableNow)."""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import functions as F

from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.oracle import content_sha256_map, fold_final_state
from debezium_spark.sources.changelog import write_changelog_ordered
from debezium_spark.streaming.engine import Engine, EngineConfig


def _oracle(spark, src_path, log_path):
    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = spark.read.parquet(log_path).toPandas()
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(lambda v: v.asDict() if hasattr(v, "asDict") else v)
    return fold_final_state(src_pdf, log_pdf)


def test_skewed_hot_repo(spark, tmp_root):
    """70% of events hit repo 0 (FIXTURES.md §5 skew_log). The merge's
    partial-aggregated election must converge to the oracle state."""
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, 5, 20).write.parquet(src_path)
    log = gen_change_log(
        spark, 5, 20, n_events=3000, snapshot_lsn_base=100, hot_repo_share=0.7
    )
    log.write.parquet(log_path)

    # fixture sanity: repo 0 really is hot
    by_repo = dict(
        log.filter(~F.col("is_tombstone"))
        .groupBy("key.repo").count().collect()
    )
    hot = by_repo["org/project-0000"]
    assert hot > 0.5 * sum(by_repo.values())

    oracle = _oracle(spark, src_path, log_path)
    oracle_sha = content_sha256_map(oracle)
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake"),
        source_table_path=src_path,
        batch_lsn_span=3000,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    engine.run()
    import hashlib

    got = {
        (r["repo"], r["path"]): r["content"]
        for r in engine.final_state().collect()
    }
    assert set(got) == set(oracle)
    for k, v in got.items():
        assert hashlib.sha256((v or "").encode()).hexdigest() == oracle_sha[k], k


def test_structured_streaming_front_end(spark, tmp_root):
    """Same apply driven by readStream + foreachBatch(availableNow) with
    a checkpoint — final state equals the batch-replay result."""
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, 4, 15).write.parquet(src_path)
    log = gen_change_log(spark, 4, 15, n_events=1200, snapshot_lsn_base=60)
    write_changelog_ordered(log, log_path, n_files=6)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_stream"),
        source_table_path=src_path,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    engine.snapshot()
    engine.run_streaming(
        checkpoint_dir=os.path.join(tmp_root, "ckpt"), max_files_per_trigger=2
    )

    oracle = _oracle(spark, src_path, log_path)
    got = {
        (r["repo"], r["path"]): r["content"] for r in engine.final_state().collect()
    }
    assert set(got) == set(oracle)
    for k, v in got.items():
        assert v == oracle[k]["content"], k

    # restart the stream over the same checkpoint: no new work, state unchanged
    v_before = engine.lake.current_version()
    engine.run_streaming(checkpoint_dir=os.path.join(tmp_root, "ckpt"))
    assert engine.lake.current_version() == v_before


def test_streaming_crash_between_merge_and_checkpoint(spark, tmp_root):
    """Kill the stream AFTER a batch's merge commit but BEFORE its
    checkpoint commit — the exactly-once window. On restart Structured
    Streaming re-delivers that epoch; the per-phase fence must skip it
    and the final state must still match the oracle with every stream
    batch id applied exactly once."""
    import pytest

    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, 4, 15).write.parquet(src_path)
    log = gen_change_log(spark, 4, 15, n_events=1200, snapshot_lsn_base=60)
    write_changelog_ordered(log, log_path, n_files=6)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_crash"),
        source_table_path=src_path,
        n_buckets=8,
    )
    applied = []

    def crash_after_two(eng, result):
        # runs after the epoch's merge commit, before its checkpoint
        applied.append(result)
        if len(applied) >= 2:
            raise RuntimeError("injected crash: merge committed, checkpoint not")

    engine = Engine(spark, dataclasses.replace(cfg, batch_callback=crash_after_two))
    engine.snapshot()
    ckpt = os.path.join(tmp_root, "ckpt_crash")
    with pytest.raises(Exception, match="injected crash"):
        engine.run_streaming(checkpoint_dir=ckpt, max_files_per_trigger=1)

    # fresh engine over the same checkpoint finishes the log
    engine2 = Engine(spark, cfg)
    engine2.run_streaming(checkpoint_dir=ckpt, max_files_per_trigger=1)

    oracle = _oracle(spark, src_path, log_path)
    got = {
        (r["repo"], r["path"]): r["content"]
        for r in engine2.final_state().collect()
    }
    assert set(got) == set(oracle)
    for k, v in got.items():
        assert v == oracle[k]["content"], k

    # every (stream batch, partition) committed exactly once — the
    # re-delivered epoch was fenced, not re-applied
    pairs = [
        (r["batch_id"], r["partition_id"])
        for r in engine2.lake.lineage()
        if r["phase"] == "stream"
    ]
    assert len(pairs) == len(set(pairs))


def test_streaming_with_in_stream_schema_events(spark, tmp_root):
    """Structured Streaming front-end over a log that carries its own
    schema-change events (op='m'): the schema evolves mid-stream, data
    events are gated by their schema version, final state matches the
    oracle fold with the same changes."""
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, 4, 15).write.parquet(src_path)
    # change late in a short stream so some keys are never rewritten
    # after it (mixed-schema final rows must exist)
    change_lsn = 60 + 2 * 300 * 4 // 5
    changes = [
        {
            "lsn": change_lsn,
            "schema_version": 1,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "bigint",
        }
    ]
    from debezium_spark.generator import schema_change_envelopes

    data_log = gen_change_log(
        spark, 4, 15, n_events=300, snapshot_lsn_base=60,
        schema_change_lsns={1: change_lsn},
    )
    full = data_log.unionByName(schema_change_envelopes(spark, changes))
    write_changelog_ordered(full, log_path, n_files=6)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_mstream"),
        source_table_path=src_path,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    assert engine.tracker.latest_version == 1  # rebuilt from the log
    engine.snapshot()
    engine.run_streaming(
        checkpoint_dir=os.path.join(tmp_root, "ckpt_m"), max_files_per_trigger=2
    )
    assert engine.lake.table_schema().version == 1

    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = data_log.toPandas()
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(
            lambda v: v.asDict() if hasattr(v, "asDict") else v
        )
    oracle = fold_final_state(src_pdf, log_pdf, schema_changes=changes)
    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in engine.final_state().collect()
    }
    assert set(got) == set(oracle)
    n_sized = 0
    for k, row in got.items():
        assert row["content"] == oracle[k]["content"], k
        assert row.get("size_bytes") == oracle[k].get("size_bytes"), k
        n_sized += row.get("size_bytes") is not None
    assert 0 < n_sized < len(got)  # mixed-schema rows both exist


def test_streaming_with_truncate(spark, tmp_root):
    """TRUNCATE arriving through the Structured Streaming front-end:
    the control-row pass finds it inside its micro-batch and the merge
    wipes state below its LSN; final state matches the oracle fold."""
    from debezium_spark.generator import truncate_envelopes

    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, 4, 15).write.parquet(src_path)
    log = gen_change_log(spark, 4, 15, n_events=800, snapshot_lsn_base=60)
    t_lsn = 60 + 801  # mid-stream, odd unused slot
    full = log.unionByName(
        truncate_envelopes(spark, [t_lsn]), allowMissingColumns=True
    )
    write_changelog_ordered(full, log_path, n_files=5)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_tstream"),
        source_table_path=src_path,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    engine.snapshot()
    engine.run_streaming(
        checkpoint_dir=os.path.join(tmp_root, "ckpt_t"), max_files_per_trigger=2
    )
    oracle = _oracle(spark, src_path, log_path)
    got = {
        (r["repo"], r["path"]): r["content"]
        for r in engine.final_state().collect()
    }
    assert set(got) == set(oracle)
    for k, v in got.items():
        assert v == oracle[k]["content"], k
    lsns = [
        r["_lsn"]
        for r in engine.lake.read_state(with_sys=True).select("_lsn").collect()
    ]
    assert lsns and all(l > t_lsn for l in lsns)


def test_streaming_front_end_emits_heartbeats(spark, tmp_root):
    """A configured heartbeat interval must work under the Structured
    Streaming front-end too, not only the batch-replay loop — an
    operator watching <lake>/_heartbeats would otherwise read a healthy
    pipeline as stalled."""
    import json

    src_path = os.path.join(tmp_root, "src_hb")
    log_path = os.path.join(tmp_root, "log_hb")
    gen_source_table(spark, 3, 10).write.parquet(src_path)
    log = gen_change_log(spark, 3, 10, n_events=600, snapshot_lsn_base=30)
    write_changelog_ordered(log, log_path, n_files=4)

    lake = os.path.join(tmp_root, "lake_hb_stream")
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=lake,
        source_table_path=src_path,
        n_buckets=8,
        heartbeat_interval_batches=2,
    )
    engine = Engine(spark, cfg)
    engine.snapshot()
    engine.run_streaming(
        checkpoint_dir=os.path.join(tmp_root, "ckpt_hb"),
        max_files_per_trigger=1,
    )
    hb_path = os.path.join(lake, "_heartbeats", "log.jsonl")
    assert os.path.exists(hb_path)
    with open(hb_path) as fh:
        beats = [json.loads(line) for line in fh]
    assert len(beats) == 4 // 2  # one beat per 2 of the 4 file-batches
    frontiers = [max(b["offsets"].values()) for b in beats]
    assert frontiers == sorted(frontiers)
