"""End-to-end: snapshot + replay → final table state matches the pure-
Python oracle fold per row, including sha256(content) (input_hint
invariant), and the one-shot max-LSN election over the raw log.
Exactly-once re-delivery; the merge scoped to the touched
buckets agrees with a full rewrite (one bucket, every batch touches
it)."""

from __future__ import annotations

import os

import pytest

from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.oracle import content_sha256_map, fold_final_state
from debezium_spark.streaming.engine import Engine, EngineConfig


def _make_fixture(spark, tmp_root, n_repos=6, ppr=20, n_events=3000, seed=42, **gen_kw):
    src_path = os.path.join(tmp_root, "source")
    log_path = os.path.join(tmp_root, "changelog")
    src = gen_source_table(spark, n_repos, ppr)
    src.write.mode("overwrite").parquet(src_path)
    log = gen_change_log(
        spark, n_repos, ppr, n_events=n_events, seed=seed,
        snapshot_lsn_base=n_repos * ppr, **gen_kw,
    )
    log.write.mode("overwrite").parquet(log_path)
    return src_path, log_path


def _oracle_state(spark, src_path, log_path):
    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = spark.read.parquet(log_path).toPandas()
    log_pdf["key"] = log_pdf["key"].map(lambda k: k.asDict() if hasattr(k, "asDict") else k)
    for c in ("before", "after"):
        log_pdf[c] = log_pdf[c].map(
            lambda v: v.asDict() if hasattr(v, "asDict") else v
        )
    return fold_final_state(src_pdf, log_pdf)


def _max_by_state(spark, src_path, log_path):
    """The max-LSN formulation of the same state, in one Spark election
    over the snapshot and the whole raw log: per (repo, path) the
    highest-LSN event wins and a delete winner drops the key. A PK
    change deletes its old key at the event's LSN. Snapshot rows sit
    below every log LSN; tombstones carry no table effect."""
    from pyspark.sql import functions as F

    payload = ("commit", "lang", "content")
    snap = spark.read.parquet(src_path).select(
        "repo", "path", F.lit("r").alias("op"), F.lit(-1).cast("long").alias("lsn"),
        *payload,
    )
    log = spark.read.parquet(log_path).filter(~F.col("is_tombstone"))
    img = lambda side: [F.col(f"{side}.{c}").alias(c) for c in payload]  # noqa: E731
    upserts = log.filter(F.col("op") != "d").select(
        "after.repo", "after.path", "op", "lsn", *img("after")
    )
    deletes = log.filter(
        (F.col("op") == "d")
        | (
            (F.col("op") == "u")
            & ((F.col("key.repo") != F.col("after.repo"))
               | (F.col("key.path") != F.col("after.path")))
        )
    ).select(
        "key.repo", "key.path", F.lit("d").alias("op"), "lsn",
        *[F.lit(None).cast("string").alias(c) for c in payload],
    )
    won = (
        snap.unionByName(upserts).unionByName(deletes)
        .groupBy("repo", "path")
        .agg(F.max_by(F.struct("op", *payload), F.col("lsn")).alias("w"))
        .filter(F.col("w.op") != "d")
        .select("repo", "path", *[F.col(f"w.{c}").alias(c) for c in payload])
    )
    return {(r["repo"], r["path"]): r.asDict() for r in won.collect()}


# the two formulations of last-writer-wins the engine's batched,
# bucketed apply must equal: the max-LSN election and the ordered
# per-key fold of the pandas-input oracle
REFERENCE_STATE = {"max_by": _max_by_state, "pandas": _oracle_state}


def _engine_state_map(engine):
    return {
        (r["repo"], r["path"]): r.asDict()
        for r in engine.final_state().collect()
    }


def _assert_state_matches(engine, oracle):
    got = _engine_state_map(engine)
    assert set(got) == set(oracle), (
        f"key sets differ: only_engine={list(set(got) - set(oracle))[:5]} "
        f"only_oracle={list(set(oracle) - set(got))[:5]}"
    )
    import hashlib

    oracle_sha = content_sha256_map(oracle)
    for k, row in got.items():
        sha = hashlib.sha256((row["content"] or "").encode()).hexdigest()
        assert sha == oracle_sha[k], f"content sha mismatch at {k}"
        for col in ("commit", "lang"):
            assert row[col] == oracle[k][col], f"{col} mismatch at {k}"


# bucket count per merge scope: with one bucket every batch touches the
# whole table, so the touched-bucket merge is a full rewrite
SCOPE_BUCKETS = {"touched": 8, "full": 1}


@pytest.mark.parametrize("reference", sorted(REFERENCE_STATE))
def test_replay_matches_oracle(spark, tmp_root, reference):
    src_path, log_path = _make_fixture(spark, tmp_root)
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, f"lake_{reference}"),
        source_table_path=src_path,
        batch_lsn_span=2000,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    results = engine.run()
    assert all(not r.get("skipped") for r in results)
    _assert_state_matches(
        engine, REFERENCE_STATE[reference](spark, src_path, log_path)
    )


def test_exactly_once_redelivery(spark, tmp_root):
    """Re-running already-committed batches is a no-op (fencing +
    LSN-guarded merge) — final state and version unchanged."""
    src_path, log_path = _make_fixture(spark, tmp_root, n_events=1000)
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake"),
        source_table_path=src_path,
        batch_lsn_span=500,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    engine.run()
    v1 = engine.lake.current_version()
    state1 = _engine_state_map(engine)

    # re-deliver already-committed batches (simulates foreachBatch
    # crash-replay): every merge must be fenced out
    from debezium_spark.sources.changelog import lsn_bounds, read_changelog_range

    engine2 = Engine(spark, cfg)
    assert engine2.run() == []  # nothing left to do
    lo, _ = lsn_bounds(spark, log_path)
    for k in range(2):
        events = read_changelog_range(
            spark, log_path, lo + k * 500, lo + (k + 1) * 500
        )
        res = engine2._apply_batch(events, k + 1)
        assert res.get("skipped")
    assert engine2.lake.current_version() == v1
    assert _engine_state_map(engine2) == state1


def test_offsets_and_lineage(spark, tmp_root):
    src_path, log_path = _make_fixture(spark, tmp_root, n_events=800)
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake"),
        source_table_path=src_path,
        batch_lsn_span=400,
        n_buckets=8,
        partitions=4,
    )
    engine = Engine(spark, cfg)
    engine.run()
    offs = engine.lake.committed_offsets()
    assert set(offs) == {0, 1, 2, 3}
    from pyspark.sql import functions as F

    true_max = {
        r["partition_id"]: r["m"]
        for r in spark.read.parquet(log_path)
        .groupBy("partition_id")
        .agg(F.max("lsn").alias("m"))
        .collect()
    }
    assert offs == true_max
    lin = engine.metrics()
    assert sum(r["events"] for r in lin if r["phase"] == "stream") > 0
    snap_events = sum(r["events"] for r in lin if r["phase"] == "snapshot")
    assert snap_events == 6 * 20


def test_snapshot_mode_custom(spark, tmp_root):
    """snapshot.mode=custom delegates skip-vs-run to the Snapshotter
    SPI analogue (PostgresConnectorConfig.java:195-225): the decider
    sees committed offsets; re-runs fence on fresh snapshot batch ids."""
    src_path, log_path = _make_fixture(spark, tmp_root, n_events=300)
    calls = []

    def decider(offsets):
        calls.append(dict(offsets))
        return True

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_custom"),
        source_table_path=src_path,
        batch_lsn_span=5000,
        n_buckets=4,
        snapshot_mode="custom",
        custom_should_snapshot=decider,
    )
    eng = Engine(spark, cfg)
    r = eng.run()
    assert calls and not r[0].get("skipped")
    # decider says no -> snapshot skipped on the next engine
    cfg2 = EngineConfig(**{**cfg.__dict__, "custom_should_snapshot": lambda o: False})
    eng2 = Engine(spark, cfg2)
    assert eng2.snapshot() is None
    # decider says yes again -> re-snapshot under a new fence id
    cfg3 = EngineConfig(**{**cfg.__dict__})
    eng3 = Engine(spark, cfg3)
    res = eng3.snapshot()
    assert res and res["batch_id"] == 1  # fresh snapshot batch id


@pytest.mark.parametrize("reference", sorted(REFERENCE_STATE))
def test_custom_message_key_columns(spark, tmp_root, reference):
    """message.key.columns analogue (relational/Key.java:27-70): replay
    keyed on (repo, path, lang) — a finer key than the PK. A lang
    change splits into DELETE(old key) + CREATE(new key, lsn + 1), the
    PK-level election keeps the CREATE, and the final state must equal
    both default-key references."""
    src_path, log_path = _make_fixture(spark, tmp_root, n_events=1500)
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, f"lake_ck_{reference}"),
        source_table_path=src_path,
        batch_lsn_span=1000,
        n_buckets=8,
        key_columns=("repo", "path", "lang"),
    )
    engine = Engine(spark, cfg)
    results = engine.run()
    assert all(not r.get("skipped") for r in results)
    _assert_state_matches(
        engine, REFERENCE_STATE[reference](spark, src_path, log_path)
    )

    # a key that drops the PK is rejected
    with pytest.raises(ValueError, match="key_columns"):
        Engine(
            spark,
            EngineConfig(
                changelog_path=log_path,
                lake_root=os.path.join(tmp_root, "lake_badkey"),
                source_table_path=src_path,
                key_columns=("repo",),
            ),
        )


@pytest.mark.parametrize("scope", ["touched", "full"])
def test_truncate_apply(spark, tmp_root, scope):
    """A TRUNCATE event mid-stream wipes every row written below its
    LSN (Envelope.java:319 — no image); rows written after survive.
    Final state must match the Python oracle fold (which clears state
    at the 't' position) under both merge scopes."""
    from debezium_spark.generator import truncate_envelopes

    src_path, log_path = _make_fixture(spark, tmp_root, n_events=1000)
    log = spark.read.parquet(log_path)
    # truncate in the middle of the stream, on an odd unused lsn slot
    lo = 6 * 20
    t_lsn = lo + 1001
    full_log = log.unionByName(
        truncate_envelopes(spark, [t_lsn]), allowMissingColumns=True
    )
    log2 = os.path.join(tmp_root, f"log_trunc_{scope}")
    full_log.write.parquet(log2)

    cfg = EngineConfig(
        changelog_path=log2,
        lake_root=os.path.join(tmp_root, f"lake_trunc_{scope}"),
        source_table_path=src_path,
        batch_lsn_span=700,  # truncate lands mid-batch, not on a boundary
        n_buckets=SCOPE_BUCKETS[scope],
    )
    engine = Engine(spark, cfg)
    engine.run()
    oracle = _oracle_state(spark, src_path, log2)
    assert oracle  # some keys survive the truncate
    _assert_state_matches(engine, oracle)
    # spot-check: no surviving row was written below the truncate lsn
    lsns = [
        r["_lsn"]
        for r in engine.lake.read_state(with_sys=True).select("_lsn").collect()
    ]
    assert lsns and all(l > t_lsn for l in lsns)


def test_merge_scopes_agree_on_equal_lsn_ties(spark, tmp_root):
    """Both merge scopes must keep the STATE row when a change arrives
    with the exact LSN that wrote the row (strict > guard) — the
    incremental-snapshot-chunk-at-the-watermark case."""
    from debezium_spark.lake import LakeTable

    for scope in ("touched", "full"):
        lake = LakeTable(
            spark, f"{tmp_root}/tie_{scope}", n_buckets=SCOPE_BUCKETS[scope]
        )
        lake.create()
        mk = lambda commit, lsn: spark.createDataFrame(  # noqa: E731
            [("u", lsn, "r1", "p1", commit, "py", "body-" + commit)],
            "op string, lsn long, repo string, path string, "
            "commit string, lang string, content string",
        )
        lake.merge(mk("aaaa", 10), 1)
        lake.merge(mk("bbbb", 10), 2)  # same lsn, new content
        rows = lake.read_state().collect()
        assert len(rows) == 1
        assert rows[0]["commit"] == "aaaa", scope  # state won the tie


def test_frontier_rejects_partition_overflow(spark, tmp_root):
    """Events whose partition_id exceeds cfg.partitions would silently
    vanish from offsets/lineage — the engine must fail loudly instead."""
    src_path, log_path = _make_fixture(
        spark, tmp_root, n_events=200, partitions=8
    )
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_overflow"),
        source_table_path=src_path,
        batch_lsn_span=5000,
        n_buckets=4,
        partitions=2,  # log was generated with 8
        snapshot_mode="never",
    )
    with pytest.raises(Exception, match="partition"):
        Engine(spark, cfg).stream()


def test_full_scope_matches_touched(spark, tmp_root):
    """The merge as a full rewrite (one bucket) must produce
    byte-identical final state to the merge scoped to touched buckets."""
    import hashlib

    from debezium_spark.generator import gen_change_log, gen_source_table
    from debezium_spark.streaming.engine import Engine, EngineConfig

    gen_source_table(spark, 4, 15).write.parquet(f"{tmp_root}/src")
    gen_change_log(spark, 4, 15, n_events=1500, snapshot_lsn_base=60).write.parquet(
        f"{tmp_root}/log"
    )
    states = {}
    for scope in ("touched", "full"):
        eng = Engine(
            spark,
            EngineConfig(
                changelog_path=f"{tmp_root}/log",
                lake_root=f"{tmp_root}/lake_{scope}",
                source_table_path=f"{tmp_root}/src",
                batch_lsn_span=800,
                n_buckets=SCOPE_BUCKETS[scope],
            ),
        )
        eng.run()
        states[scope] = {
            (r["repo"], r["path"]): hashlib.sha256(
                (r["content"] or "").encode()
            ).hexdigest()
            for r in eng.final_state().collect()
        }
        assert eng.lake.committed_offsets()  # frontier recorded
        assert eng.lake.lineage()  # lineage rows recorded
    assert states["touched"] == states["full"]


def test_engine_column_exclude(spark, tmp_root):
    """column.exclude.list wired into the dispatcher: the excluded
    column is never captured — NULL in the lake — while everything else
    still matches the oracle."""
    src_path, log_path = _make_fixture(spark, tmp_root, n_events=600)
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_colx"),
        source_table_path=src_path,
        batch_lsn_span=2000,
        n_buckets=8,
        column_exclude_regex="commit",
    )
    engine = Engine(spark, cfg)
    engine.run()
    oracle = _oracle_state(spark, src_path, log_path)
    got = _engine_state_map(engine)
    assert set(got) == set(oracle)
    for k, row in got.items():
        assert row["commit"] is None, k  # excluded -> never captured
        assert row["content"] == oracle[k]["content"], k


def test_post_processor_spi(spark, tmp_root):
    """PostProcessor SPI (processors/spi/PostProcessor.java,
    PostProcessorRegistry.java): registered callables rewrite envelope
    values on every batch — snapshot and stream — before compaction;
    row counts and non-rewritten fields stay oracle-exact."""
    import pyspark.sql.functions as F

    from debezium_spark.oracle import fold_final_state

    src_path, log_path = _make_fixture(spark, tmp_root, n_events=300)

    def stamp_commit(df):
        return df.withColumn(
            "after",
            F.when(
                F.col("after").isNotNull(),
                F.col("after").withField("commit", F.lit("stamped")),
            ),
        )

    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log_path,
            lake_root=os.path.join(tmp_root, "lake_pp"),
            source_table_path=src_path,
            batch_lsn_span=5000,
            n_buckets=4,
            post_processors=(stamp_commit,),
        ),
    )
    eng.run()
    rows = eng.final_state().collect()
    assert rows and all(r["commit"] == "stamped" for r in rows)
    # everything else matches the un-processed oracle fold
    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = spark.read.parquet(log_path).toPandas()
    for c in ("before", "after", "source"):
        log_pdf[c] = log_pdf[c].map(
            lambda v: v.asDict() if hasattr(v, "asDict") else v
        )
    oracle = fold_final_state(src_pdf, log_pdf)
    got = {(r["repo"], r["path"]): r["content"] for r in rows}
    assert got == {k: v["content"] for k, v in oracle.items()}


def test_notification_channel_spi(spark, tmp_root):
    """NotificationChannel SPI (pipeline/notification/channels/
    NotificationChannel.java): registered consumers receive every
    lifecycle record, identical to the durable file-sink copy."""
    src_path, log_path = _make_fixture(spark, tmp_root, n_events=200)
    received = []
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log_path,
            lake_root=os.path.join(tmp_root, "lake_nc"),
            source_table_path=src_path,
            batch_lsn_span=5000,
            n_buckets=4,
            notification_channels=(received.append,),
        ),
    )
    eng.run()
    eng.incremental_snapshot(chunk_size=50)
    assert received == eng.notifications.read()
    kinds = {r["aggregate_type"] for r in received}
    assert len(received) >= 3 and len(kinds) >= 2


def test_lifecycle_callbacks(spark, tmp_root):
    """DebeziumEngine.java:52-110 — CompletionCallback fires exactly
    once per run() with (success, message, error); ConnectorCallback's
    optional hooks fire in startup/shutdown order around the phases.
    A mid-run abort hands the error to the callback AND propagates."""
    src_path, log_path = _make_fixture(spark, tmp_root, n_events=800)
    events = []

    class Conn:
        def connector_started(self):
            events.append("connector_started")

        def task_started(self):
            events.append("task_started")

        def task_stopped(self):
            events.append("task_stopped")

        def connector_stopped(self):
            events.append("connector_stopped")

    done = []
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_cb"),
        source_table_path=src_path,
        batch_lsn_span=2000,
        n_buckets=8,
        completion_callback=lambda ok, msg, err: done.append((ok, msg, err)),
        connector_callback=Conn(),
    )
    Engine(spark, cfg).run()
    assert events == [
        "connector_started",
        "task_started",
        "task_stopped",
        "connector_stopped",
    ]
    assert len(done) == 1
    ok, msg, err = done[0]
    assert ok is True and err is None and "completed" in msg

    # failure path: injected merge crash → callback sees the error,
    # exception still propagates, stop hooks do NOT fire (abort)
    events.clear()
    done.clear()
    cfg2 = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_cb2"),
        source_table_path=src_path,
        batch_lsn_span=2000,
        n_buckets=8,
        completion_callback=lambda ok, msg, err: done.append((ok, msg, err)),
        connector_callback=Conn(),
    )
    e2 = Engine(spark, cfg2)
    orig = e2.lake.merge

    def boom(changes, batch_id, **kw):
        if batch_id >= 1:
            raise RuntimeError("injected-callback-crash")
        return orig(changes, batch_id, **kw)

    e2.lake.merge = boom
    with pytest.raises(RuntimeError, match="injected-callback-crash"):
        e2.run()
    assert events == ["connector_started", "task_started"]
    assert len(done) == 1
    ok, msg, err = done[0]
    assert ok is False and isinstance(err, RuntimeError)


def test_engine_heartbeats(spark, tmp_root):
    """heartbeat/HeartbeatImpl.java:38-43 + heartbeat.action.query:
    every N stream batches a record carrying the CURRENT committed
    offsets lands in <lake>/_heartbeats/log.jsonl and the configured
    action runs. Offsets in successive heartbeats are monotone."""
    import json

    src_path, log_path = _make_fixture(spark, tmp_root, n_events=3000)
    actions = []
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_hb"),
        source_table_path=src_path,
        batch_lsn_span=800,
        n_buckets=8,
        heartbeat_interval_batches=2,
        heartbeat_action=lambda eng: actions.append(
            max(eng.lake.committed_offsets().values(), default=-1)
        ),
    )
    eng = Engine(spark, cfg)
    res = eng.run()
    n_stream = len([r for r in res if not r.get("skipped")]) - 1  # minus snapshot
    hb_path = os.path.join(tmp_root, "lake_hb", "_heartbeats", "log.jsonl")
    with open(hb_path) as fh:
        beats = [json.loads(line) for line in fh]
    assert len(beats) == n_stream // 2
    assert len(actions) == len(beats)
    # offsets monotone non-decreasing across beats, batch ids increasing
    frontiers = [max(b["offsets"].values()) for b in beats]
    assert frontiers == sorted(frontiers)
    ids = [b["batch_id"] for b in beats]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    # the action observed the same committed frontier the record holds
    assert actions == frontiers
    # disabled by default: fresh engine on a fresh lake writes none
    cfg2 = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_hb2"),
        source_table_path=src_path,
        batch_lsn_span=800,
        n_buckets=8,
    )
    Engine(spark, cfg2).run()
    assert not os.path.exists(
        os.path.join(tmp_root, "lake_hb2", "_heartbeats")
    )


def test_stop_engine_from_batch_callback_is_graceful(spark, tmp_root):
    """StopEngineException contract: raising StopEngine from the
    per-batch consumer hook stops after the current COMMITTED batch,
    reports success, and a later run resumes exactly there."""
    import hashlib

    from debezium_spark.generator import gen_change_log, gen_source_table
    from debezium_spark.oracle import fold_final_state
    from debezium_spark.streaming.engine import Engine, EngineConfig, StopEngine

    src, log = tmp_root + "/src", tmp_root + "/log"
    gen_source_table(spark, 4, 20).write.parquet(src)
    gen_change_log(
        spark, 4, 20, n_events=1500, snapshot_lsn_base=100
    ).write.parquet(log)
    seen: list[dict] = []
    outcomes: list[tuple] = []

    def on_batch(engine, result):
        seen.append(result)
        if len(seen) >= 2:
            raise StopEngine("enough for now")

    base = dict(
        changelog_path=log,
        lake_root=tmp_root + "/lake",
        source_table_path=src,
        batch_lsn_span=700,
        n_buckets=4,
    )
    e1 = Engine(
        spark,
        EngineConfig(
            **base,
            batch_callback=on_batch,
            completion_callback=lambda ok, msg, err: outcomes.append(
                (ok, msg, err)
            ),
        ),
    )
    res1 = e1.run()
    assert len(seen) == 2
    assert outcomes and outcomes[0][0] is True  # success, not abort
    assert "stopped" in outcomes[0][1]
    stream1 = [r for r in res1 if not r.get("skipped")]
    # resume: a fresh engine continues at the next batch and converges
    e2 = Engine(spark, EngineConfig(**base))
    res2 = e2.run()
    new_ids = [
        r["batch_id"] for r in res2 if not r.get("skipped")
    ]
    assert new_ids and min(new_ids) == max(
        r["batch_id"] for r in stream1
    ) + 1
    src_pdf = spark.read.parquet(src).toPandas()
    log_pdf = spark.read.parquet(log).toPandas()
    for c in ("source", "transaction"):
        if c in log_pdf.columns:
            log_pdf[c] = log_pdf[c].map(
                lambda r: r.asDict() if hasattr(r, "asDict") else r
            )
    want = fold_final_state(src_pdf, log_pdf)
    got = {
        (r["repo"], r["path"]): r for r in e2.final_state().collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        assert (
            hashlib.sha256((got[k]["content"] or "").encode()).hexdigest()
            == hashlib.sha256((w["content"] or "").encode()).hexdigest()
        )


def test_stop_engine_from_streaming_batch_callback(spark, tmp_root):
    """Streaming front-end StopEngine: the query dies gracefully with
    committed batches intact, and a restart (no callback) finishes the
    log and converges to the oracle."""
    import hashlib

    from debezium_spark.generator import gen_change_log
    from debezium_spark.oracle import fold_final_state
    from debezium_spark.sources.changelog import write_changelog_ordered
    from debezium_spark.streaming.engine import Engine, EngineConfig, StopEngine

    log = gen_change_log(spark, 4, 20, n_events=1200, partitions=4)
    log_path = tmp_root + "/slog"
    write_changelog_ordered(log, log_path, n_files=4)
    base = dict(
        changelog_path=log_path,
        lake_root=tmp_root + "/lake",
        snapshot_mode="never",
        n_buckets=4,
    )
    calls = []

    def on_batch(engine, result):
        calls.append(result)
        if len(calls) >= 2:
            raise StopEngine("stop streaming")

    e1 = Engine(spark, EngineConfig(**base, batch_callback=on_batch))
    e1.run_streaming(tmp_root + "/ckpt", max_files_per_trigger=1)
    assert e1._stopped and len(calls) == 2
    committed_after_stop = e1.lake.last_batch_id("stream")
    assert committed_after_stop >= 2
    e2 = Engine(spark, EngineConfig(**base))
    e2.run_streaming(tmp_root + "/ckpt", max_files_per_trigger=1)
    log_pdf = log.toPandas()
    for c in ("source", "transaction"):
        if c in log_pdf.columns:
            log_pdf[c] = log_pdf[c].map(
                lambda r: r.asDict() if hasattr(r, "asDict") else r
            )
    want = fold_final_state(None, log_pdf)
    got = {
        (r["repo"], r["path"]): r for r in e2.final_state().collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        assert (
            hashlib.sha256((got[k]["content"] or "").encode()).hexdigest()
            == hashlib.sha256((w["content"] or "").encode()).hexdigest()
        )


def _streamed_oracle(log):
    """The oracle fold of a snapshot-less log DataFrame."""
    from debezium_spark.oracle import fold_final_state

    log_pdf = log.toPandas()
    for c in ("source", "transaction"):
        if c in log_pdf.columns:
            log_pdf[c] = log_pdf[c].map(
                lambda r: r.asDict() if hasattr(r, "asDict") else r
            )
    return fold_final_state(None, log_pdf)


def _assert_content_matches(engine, want):
    import hashlib

    got = {(r["repo"], r["path"]): r for r in engine.final_state().collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        assert (
            hashlib.sha256((got[k]["content"] or "").encode()).hexdigest()
            == hashlib.sha256((w["content"] or "").encode()).hexdigest()
        )


def test_stop_engine_from_streaming_heartbeat_action(spark, tmp_root):
    """A StopEngine raised by heartbeat_action ends a streaming run as
    gracefully as one raised by batch_callback: the engine is stopped,
    the batches committed before the stop stand, and a restart (no
    action) finishes the log and converges to the oracle."""
    from debezium_spark.sources.changelog import write_changelog_ordered
    from debezium_spark.streaming.engine import StopEngine

    log = gen_change_log(spark, 4, 20, n_events=1200, partitions=4)
    log_path = tmp_root + "/slog"
    write_changelog_ordered(log, log_path, n_files=4)
    base = dict(
        changelog_path=log_path,
        lake_root=tmp_root + "/lake",
        snapshot_mode="never",
        n_buckets=4,
    )
    beats = []

    def on_beat(engine):
        beats.append(engine.lake.last_batch_id("stream"))
        raise StopEngine("stop at the first heartbeat")

    e1 = Engine(
        spark,
        EngineConfig(**base, heartbeat_interval_batches=2, heartbeat_action=on_beat),
    )
    e1.run_streaming(tmp_root + "/ckpt", max_files_per_trigger=1)
    assert e1._stopped and beats == [2]
    assert e1.lake.last_batch_id("stream") == 2
    e2 = Engine(spark, EngineConfig(**base))
    e2.run_streaming(tmp_root + "/ckpt", max_files_per_trigger=1)
    assert e2.lake.last_batch_id("stream") == 4
    _assert_content_matches(e2, _streamed_oracle(log))


def test_streaming_polls_file_signal_channel(spark, tmp_root):
    """Single-table run_streaming polls ``signal_path`` between epochs,
    as the replay loop does: an execute-snapshot written to the file
    channel before the run fires once during it, and the state still
    converges to the oracle (the chunk rows lose to streamed events)."""
    from debezium_spark.signals import SignalChannel
    from debezium_spark.sources.changelog import write_changelog_ordered

    log = gen_change_log(spark, 4, 20, n_events=1200, partitions=4)
    log_path = tmp_root + "/slog"
    write_changelog_ordered(log, log_path, n_files=4)
    sig = tmp_root + "/signals.jsonl"
    SignalChannel(sig).send("sig-1", "execute-snapshot", {"chunk_size": 50})
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log_path,
            lake_root=tmp_root + "/lake",
            snapshot_mode="never",
            n_buckets=4,
            signal_path=sig,
        ),
    )
    eng.run_streaming(tmp_root + "/ckpt", max_files_per_trigger=1)
    assert eng.lake.last_batch_id("incremental") >= 0
    assert eng.lake.last_batch_id("stream") == 4
    assert SignalChannel(sig).poll() == []
    with open(sig + ".processed") as f:
        assert [line.strip() for line in f].count("sig-1") == 1
    _assert_content_matches(eng, _streamed_oracle(log))
