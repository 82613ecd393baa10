"""Offset commit policy ALWAYS vs PERIODIC against an external offset
backing store (engine/spi/OffsetCommitPolicy.java:25-53,
EmbeddedEngine.java:815-836,877-905): the store is at-least-once — a
crash between periodic flushes rewinds the resume position — while the
lake's fenced commits keep the final-state effect exactly-once."""

from __future__ import annotations

import pytest

from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.offsets import FileOffsetStore
from debezium_spark.streaming.engine import Engine, EngineConfig


def _cfg(tmp_root, **kw):
    base = dict(
        changelog_path=f"{tmp_root}/log",
        lake_root=f"{tmp_root}/lake",
        source_table_path=f"{tmp_root}/src",
        batch_lsn_span=500,
        n_buckets=8,
        snapshot_mode="never",
    )
    base.update(kw)
    return EngineConfig(**base)


@pytest.fixture()
def world(spark, tmp_root):
    gen_source_table(spark, 4, 20).write.parquet(f"{tmp_root}/src")
    gen_change_log(spark, 4, 20, n_events=2500, snapshot_lsn_base=80).write.parquet(
        f"{tmp_root}/log"
    )
    return tmp_root


def _crash_after(n):
    """A batch_callback that crashes after the ``n``th batch's merge
    commit, before any offset flush."""
    calls = []

    def crash(engine, result):
        calls.append(result)
        if len(calls) >= n:
            raise RuntimeError("injected crash: merge committed, offsets not flushed")

    return crash


def _final(eng):
    return {
        (r["repo"], r["path"]): r["content"]
        for r in eng.final_state().collect()
    }


def test_periodic_crash_rewinds_resume_and_fences_absorb_it(spark, world):
    store_path = f"{world}/offsets.json"
    cfg = dict(
        offset_store_path=store_path,
        offset_commit_policy="periodic",
        offset_flush_interval_batches=3,
    )
    e1 = Engine(spark, _cfg(world, batch_callback=_crash_after(4), **cfg))
    # crash after batch 4's merge commit, before any flush: only the
    # 3-batch cadence boundary made it to the store
    with pytest.raises(RuntimeError, match="injected crash"):
        e1.stream()
    assert FileOffsetStore(store_path).last_batch_id() == 3
    assert e1.lake.last_batch_id("stream") == 4

    # restart resumes FROM THE STORE: batch 4 is re-delivered and must
    # skip on the lake's commit fence (zero duplicate effect), then the
    # tail applies live
    e2 = Engine(spark, _cfg(world, **cfg))
    r2 = e2.stream()
    assert r2[0]["batch_id"] == 4 and r2[0].get("skipped") is True
    assert all(not r.get("skipped") for r in r2[1:])
    assert len(r2) > 1

    # exact final state vs a pure replay with no store at all
    ref = Engine(spark, _cfg(world, lake_root=f"{world}/lake_ref"))
    ref.stream()
    assert _final(e2) == _final(ref)


def test_always_policy_has_no_redelivery_window(spark, world):
    store_path = f"{world}/offsets_always.json"
    cfg = dict(
        lake_root=f"{world}/lake_alw",
        offset_store_path=store_path,
        offset_commit_policy="always",
    )
    e1 = Engine(spark, _cfg(world, batch_callback=_crash_after(4), **cfg))
    with pytest.raises(RuntimeError, match="injected crash"):
        e1.stream()
    # the injected crash fires between the merge commit and the flush,
    # so even ALWAYS lags by exactly the in-flight batch — the
    # reference's irreducible at-least-once window (markBatchFinished
    # precedes the offset flush)
    assert FileOffsetStore(store_path).last_batch_id() == 3
    e2 = Engine(spark, _cfg(world, **cfg))
    r2 = e2.stream()
    # exactly the one in-flight batch is re-delivered and fenced out
    assert [r["batch_id"] for r in r2 if r.get("skipped")] == [4]


def test_graceful_pause_flushes_like_shutdown_commit(spark, world):
    store_path = f"{world}/offsets_stop.json"
    cfg = dict(
        lake_root=f"{world}/lake_stop",
        offset_store_path=store_path,
        offset_commit_policy="periodic",
        offset_flush_interval_batches=100,  # never on cadence
    )
    e1 = Engine(spark, _cfg(world, **cfg))
    r1 = e1.stream(max_batches=2)
    assert len(r1) == 2
    # graceful exit flushed despite the 100-batch cadence
    assert FileOffsetStore(store_path).last_batch_id() == 2
    e2 = Engine(spark, _cfg(world, **cfg))
    r2 = e2.stream()
    assert all(not r.get("skipped") for r in r2)


def test_unknown_offset_policy_rejected(spark, world):
    with pytest.raises(ValueError, match="offset_commit_policy"):
        Engine(
            spark,
            _cfg(
                world,
                lake_root=f"{world}/lake_badpol",
                offset_commit_policy="sometimes",
            ),
        )
