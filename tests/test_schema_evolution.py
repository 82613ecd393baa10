"""Schema evolution mid-stream: add column, rename, widen — applied as
schema-change events interleaved with data events (FIXTURES.md §3),
final state checked against the oracle fold with the same changes."""

from __future__ import annotations

import os

import pytest

from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.oracle import fold_final_state
from debezium_spark.schema_evolution import SchemaTracker, TableSchema
from debezium_spark.streaming.engine import Engine, EngineConfig

# 250 events over 100 keys: ~8 keys stay untouched post-snapshot, so the
# final state mixes NULL and populated size_bytes (mixed-schema rows)
N_REPOS, PPR, N_EVENTS = 5, 20, 250
BASE = N_REPOS * PPR  # stream lsn base


def _changes():
    # add at ~30%, rename at ~60%, widen at ~80% of the stream
    return [
        {
            "lsn": BASE + int(2 * N_EVENTS * 0.3),
            "schema_version": 1,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "int",
        },
        {
            "lsn": BASE + int(2 * N_EVENTS * 0.6),
            "schema_version": 2,
            "change_type": "ALTER_RENAME_COLUMN",
            "column_name": "language",
            "prev_name": "lang",
        },
        {
            "lsn": BASE + int(2 * N_EVENTS * 0.8),
            "schema_version": 3,
            "change_type": "ALTER_WIDEN_TYPE",
            "column_name": "size_bytes",
            "new_type": "bigint",
        },
    ]


def test_tracker_versions():
    tr = SchemaTracker(_changes())
    assert tr.latest_version == 3
    v0, v3 = tr.schemas[0], tr.schemas[3]
    assert v0.logical_names == ["repo", "path", "commit", "lang", "content"]
    assert v3.logical_names == [
        "repo", "path", "commit", "language", "content", "size_bytes",
    ]
    # rename keeps physical name + field id (Iceberg semantics)
    assert v3.col("language")["physical"] == "lang"
    assert v3.col("language")["field_id"] == v0.col("lang")["field_id"]
    assert v3.col("size_bytes")["type"] == "bigint"
    assert tr.added_at_version("size_bytes") == 1
    assert tr.added_at_version("lang") == 0


def test_widen_rejects_narrowing():
    s = TableSchema()
    s = s.apply_change(
        {"change_type": "ALTER_ADD_COLUMN", "column_name": "n", "new_type": "bigint"}
    )
    try:
        s.apply_change(
            {"change_type": "ALTER_WIDEN_TYPE", "column_name": "n", "new_type": "int"}
        )
        raise AssertionError("narrowing must be rejected")
    except ValueError:
        pass


def test_in_stream_schema_dispatch_and_cold_restart(spark, tmp_root):
    """Schema changes arrive as op='m' events IN the change log (the
    reference dispatches DDL from the stream,
    EventDispatcher.java:371-407) — no EngineConfig.schema_changes side
    channel. A second engine started cold on the same log must rebuild
    the schema history purely from the log (SchemaHistory replay,
    SchemaHistory.java:34-101) and resume correctly."""
    from debezium_spark.generator import schema_change_envelopes

    changes = _changes()
    schema_change_lsns = {c["schema_version"]: c["lsn"] for c in changes}
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    data_log = gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE,
        schema_change_lsns=schema_change_lsns,
    )
    data_log.unionByName(
        schema_change_envelopes(spark, changes)
    ).write.parquet(log_path)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake"),
        source_table_path=src_path,
        # NO schema_changes side channel — dispatch from the stream
        batch_lsn_span=977,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    assert engine.tracker.latest_version == 3  # rebuilt from the log
    engine.run(max_batches=1)  # partial run, then crash

    # cold restart: schema history + resume point both from the log
    engine2 = Engine(spark, cfg)
    assert engine2.tracker.latest_version == 3
    engine2.run()

    final_schema = engine2.lake.table_schema()
    assert [c["name"] for c in final_schema.columns] == [
        "repo", "path", "commit", "language", "content", "size_bytes",
    ]
    assert final_schema.col("size_bytes")["type"] == "bigint"

    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = data_log.toPandas()  # fold sees only data events
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(lambda v: v.asDict() if hasattr(v, "asDict") else v)
    oracle = fold_final_state(src_pdf, log_pdf, schema_changes=changes)
    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in engine2.final_state().collect()
    }
    assert set(got) == set(oracle)
    for k, row in got.items():
        assert row["content"] == oracle[k]["content"], k
        assert row["size_bytes"] == oracle[k].get("size_bytes"), k


def test_evolution_end_to_end(spark, tmp_root):
    changes = _changes()
    schema_change_lsns = {c["schema_version"]: c["lsn"] for c in changes}
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE,
        schema_change_lsns=schema_change_lsns,
    ).write.parquet(log_path)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake"),
        source_table_path=src_path,
        schema_changes=changes,
        batch_lsn_span=977,  # deliberately misaligned with change lsns
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    engine.run()

    # lake schema evolved
    final_schema = engine.lake.table_schema()
    assert [c["name"] for c in final_schema.columns] == [
        "repo", "path", "commit", "language", "content", "size_bytes",
    ]
    assert final_schema.col("size_bytes")["type"] == "bigint"

    # oracle with the same schema changes
    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = spark.read.parquet(log_path).toPandas()
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(lambda v: v.asDict() if hasattr(v, "asDict") else v)
    oracle = fold_final_state(src_pdf, log_pdf, schema_changes=changes)

    got = {
        (r["repo"], r["path"]): r.asDict() for r in engine.final_state().collect()
    }
    assert set(got) == set(oracle)
    n_sized = 0
    for k, row in got.items():
        assert row["content"] == oracle[k]["content"], k
        assert row["language"] == oracle[k]["language"], k
        assert row["size_bytes"] == oracle[k].get("size_bytes"), k
        if row["size_bytes"] is not None:
            n_sized += 1
            assert row["size_bytes"] == len(row["content"])
    # rows written before the ADD COLUMN have NULL size_bytes; rows
    # written after have it populated — both must exist
    assert 0 < n_sized < len(got)


def test_streaming_ddl_learned_in_batch_applies_same_batch(spark, tmp_root):
    """A schema change arriving through the streaming front-end while
    the tracker ALREADY holds an earlier change must be applied to the
    lake inside the same micro-batch: data rows alongside it carry the
    new column, and deferring the apply to the next batch would project
    their evolved values to NULL permanently. (Engine init must happen
    BEFORE the second change's log segment exists — otherwise the init
    scan learns it and the in-batch dispatch path never runs.)"""
    import shutil
    import time

    from debezium_spark.generator import schema_change_envelopes
    from debezium_spark.sources.changelog import write_changelog_ordered

    changes = [
        {
            "lsn": BASE + 1,
            "schema_version": 1,
            "change_type": "ALTER_RENAME_COLUMN",
            "column_name": "language",
            "prev_name": "lang",
        },
        {
            "lsn": BASE + int(2 * N_EVENTS * 0.6),
            "schema_version": 2,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "bigint",
        },
    ]
    cut_lsn = changes[1]["lsn"]
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    data_log = gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE,
        schema_change_lsns={c["schema_version"]: c["lsn"] for c in changes},
    )
    stage1 = data_log.filter(f"lsn < {cut_lsn}").unionByName(
        schema_change_envelopes(spark, changes[:1])
    )
    stage2 = data_log.filter(f"lsn >= {cut_lsn}").unionByName(
        schema_change_envelopes(spark, changes[1:])
    )
    write_changelog_ordered(stage1, log_path, n_files=3)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_lateddl"),
        source_table_path=src_path,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    assert engine.tracker.latest_version == 1  # only the rename so far

    # the ADD COLUMN change + the data rows that use it land AFTER init,
    # in one late segment → one micro-batch holds both the 'm' row and
    # evolved data rows
    side = os.path.join(tmp_root, "side")
    write_changelog_ordered(stage2, side, n_files=1)
    t0 = time.time() + 5
    for i, f in enumerate(
        sorted(
            n
            for n in os.listdir(side)
            if n.startswith("part-") and n.endswith(".parquet")
        )
    ):
        shutil.copy(os.path.join(side, f), os.path.join(log_path, f))
        os.utime(os.path.join(log_path, f), (t0 + i, t0 + i))

    engine.snapshot()
    engine.run_streaming(
        checkpoint_dir=os.path.join(tmp_root, "ckpt_lateddl"),
        max_files_per_trigger=2,
    )
    assert engine.lake.table_schema().version == 2

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
        assert row["size_bytes"] == oracle[k].get("size_bytes"), k
        n_sized += row["size_bytes"] is not None
    # rows written by the very batch that learned the ADD COLUMN keep
    # their size_bytes — the regression dropped ALL of them to NULL
    assert n_sized > 0


def test_incremental_snapshot_preserves_evolved_columns(spark, tmp_root):
    """A back-fill after schema evolution must NOT wipe evolved columns:
    chunk rows carry the live source's evolved values at the current
    schema version (previously they were stamped v0 with NULLs and
    reverted size_bytes table-wide)."""
    from debezium_spark.generator import schema_change_envelopes

    changes = _changes()
    schema_change_lsns = {c["schema_version"]: c["lsn"] for c in changes}
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    data_log = gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE,
        schema_change_lsns=schema_change_lsns,
    )
    data_log.unionByName(
        schema_change_envelopes(spark, changes)
    ).write.parquet(log_path)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_inc_evo"),
        source_table_path=src_path,
        batch_lsn_span=977,
        n_buckets=8,
    )
    engine = Engine(spark, cfg)
    engine.run()
    before = {
        (r["repo"], r["path"]): r["size_bytes"]
        for r in engine.final_state().collect()
    }
    assert any(v is not None for v in before.values())

    engine.incremental_snapshot(chunk_size=32)  # default live source

    after = {
        (r["repo"], r["path"]): r["size_bytes"]
        for r in engine.final_state().collect()
    }
    assert after == before  # back-fill changed nothing


def test_streaming_config_injected_changes_apply(spark, tmp_root):
    """Schema changes supplied via cfg.schema_changes (the side-channel
    schema-history case) carry NO op='m' rows in the log — the
    streaming front-end must still gate step 1 with a batch LSN window
    so they apply at the right batch instead of never."""
    from debezium_spark.sources.changelog import write_changelog_ordered

    changes = [
        {
            "lsn": BASE + int(2 * N_EVENTS * 0.5),
            "schema_version": 1,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "bigint",
        }
    ]
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    # data rows use the evolved column after the change LSN, but the
    # log carries no 'm' rows at all
    data_log = gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE,
        schema_change_lsns={1: changes[0]["lsn"]},
    )
    write_changelog_ordered(data_log, log_path, n_files=4)

    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_inj"),
        source_table_path=src_path,
        n_buckets=8,
        schema_changes=changes,
    )
    engine = Engine(spark, cfg)
    engine.snapshot()
    engine.run_streaming(
        checkpoint_dir=os.path.join(tmp_root, "ckpt_inj"),
        max_files_per_trigger=2,
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
        assert row["size_bytes"] == oracle[k].get("size_bytes"), k
        n_sized += row["size_bytes"] is not None
    assert n_sized > 0  # injected change actually took effect


# -- schema-only recovery (history-loss healing) ----------------------------
# (connector/mysql/MySqlConnectorConfig.java:159 SCHEMA_ONLY_RECOVERY)


def _evolved_world(spark, tmp_root):
    """Full log with in-stream 'm' rows; returns (src, log, data_log,
    changes). batch_lsn_span=150 puts each change in its own batch."""
    from debezium_spark.generator import schema_change_envelopes

    changes = _changes()
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    data_log = gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE,
        schema_change_lsns={c["schema_version"]: c["lsn"] for c in changes},
    )
    data_log.unionByName(
        schema_change_envelopes(spark, changes)
    ).write.parquet(log_path)
    return src_path, log_path, data_log, changes


def test_schema_history_recovered_from_lake_after_log_purge(
    spark, tmp_root
):
    """The log head holding every op='m' row is purged AFTER the engine
    committed those schema versions — exactly the data-loss situation
    ``when_needed`` heals for rows. A cold restart must re-derive the
    missing tracker versions from the lake's committed manifests
    (schema_only_recovery, MySqlConnectorConfig.java:159) and keep
    streaming evolved-schema events to the correct final state."""
    src_path, log_path, data_log, changes = _evolved_world(spark, tmp_root)
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=os.path.join(tmp_root, "lake_sor"),
        source_table_path=src_path,
        batch_lsn_span=150,
        n_buckets=8,
    )
    eng = Engine(spark, cfg)
    eng.run(max_batches=3)  # snapshot + batches through the v3 change
    assert eng.lake.table_schema().version == 3
    applied_hi = max(eng.lake.committed_offsets().values())
    full = spark.read.parquet(log_path)
    assert full.filter(f"lsn > {applied_hi}").count() > 0  # tail remains

    # purge the head: every 'm' row (lsns 250/400/500) is below the
    # frontier and vanishes with it
    purged_path = os.path.join(tmp_root, "log_purged")
    full.filter(f"lsn > {changes[-1]['lsn']}").write.parquet(purged_path)

    cfg2 = EngineConfig(
        changelog_path=purged_path,
        lake_root=os.path.join(tmp_root, "lake_sor"),
        source_table_path=src_path,
        batch_lsn_span=150,
        n_buckets=8,
        snapshot_mode="schema_only_recovery",
    )
    eng2 = Engine(spark, cfg2)
    # the log alone says v0; the lake manifests restored v1..v3
    assert eng2.tracker.latest_version == 3
    assert eng2.tracker.added_at_version("size_bytes") == 1
    eng2.run()

    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = data_log.toPandas()
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(
            lambda v: v.asDict() if hasattr(v, "asDict") else v
        )
    oracle = fold_final_state(src_pdf, log_pdf, schema_changes=changes)
    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in eng2.final_state().collect()
    }
    assert set(got) == set(oracle)
    n_sized = 0
    for k, row in got.items():
        assert row["content"] == oracle[k]["content"], k
        assert row["size_bytes"] == oracle[k].get("size_bytes"), k
        n_sized += row["size_bytes"] is not None
    assert n_sized > 0  # evolved column survived the history loss


def test_schema_history_unrecoverable_fails_loudly(spark, tmp_root):
    """When the purged 'm' rows' versions are recorded by NO surviving
    manifest either (expiry/corruption), the engine must refuse to
    start instead of silently running with a v0 tracker (which would
    project evolved columns to NULL)."""
    import json as _json

    src_path, log_path, _, changes = _evolved_world(spark, tmp_root)
    lake_root = os.path.join(tmp_root, "lake_sor_bad")
    cfg = EngineConfig(
        changelog_path=log_path,
        lake_root=lake_root,
        source_table_path=src_path,
        batch_lsn_span=150,
        n_buckets=8,
    )
    eng = Engine(spark, cfg)
    eng.run()
    assert eng.lake.table_schema().version == 3

    purged_path = os.path.join(tmp_root, "log_purged_bad")
    spark.read.parquet(log_path).filter(
        f"lsn > {changes[-1]['lsn']}"
    ).write.parquet(purged_path)
    # simulate expiry/corruption: drop every manifest recording the
    # intermediate versions 1 and 2
    commits = os.path.join(lake_root, "_commits")
    for n in os.listdir(commits):
        if not n.endswith(".json"):
            continue
        with open(os.path.join(commits, n)) as f:
            m = _json.load(f)
        if m["schema_version"] in (1, 2):
            os.unlink(os.path.join(commits, n))

    with pytest.raises(ValueError, match="schema history unrecoverable"):
        Engine(
            spark,
            EngineConfig(
                changelog_path=purged_path,
                lake_root=lake_root,
                source_table_path=src_path,
                batch_lsn_span=150,
                n_buckets=8,
            ),
        )


# -- schema-history hardening ----------------------------------------------
# (relational/history/SchemaHistory.java:46-66,
#  AbstractSchemaHistory.java:133-151)


def _world_with_messages(spark, tmp_root, messages, lsns=None):
    """Data log + handcrafted op='m' rows with raw message payloads."""
    from debezium_spark.generator import _control_envelope

    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    data_log = gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE
    )
    lsns = lsns or [BASE + 10 * (i + 1) for i in range(len(messages))]
    ctl = _control_envelope(
        spark, [(lsn, "m", 0, msg) for lsn, msg in zip(lsns, messages)]
    )
    data_log.unionByName(ctl).write.parquet(log_path)
    return src_path, log_path


def test_unparseable_schema_payload_fails_recovery_by_default(spark, tmp_root):
    src, log = _world_with_messages(spark, tmp_root, ["{not json at all"])
    with pytest.raises(ValueError, match="unparseable schema-change"):
        Engine(
            spark,
            EngineConfig(
                changelog_path=log,
                lake_root=os.path.join(tmp_root, "lake"),
                source_table_path=src,
                batch_lsn_span=977,
                n_buckets=8,
            ),
        )


def test_skip_unparseable_warns_and_continues(spark, tmp_root):
    src, log = _world_with_messages(
        spark, tmp_root, ["{not json at all", '{"valid_json_but": "no keys"}']
    )
    cfg = EngineConfig(
        changelog_path=log,
        lake_root=os.path.join(tmp_root, "lake_skip"),
        source_table_path=src,
        batch_lsn_span=977,
        n_buckets=8,
        schema_history_skip_unparseable=True,
    )
    engine = Engine(spark, cfg)
    assert engine.tracker.latest_version == 0  # nothing applied
    res = engine.run()  # the per-batch control pass skips them too
    assert res and all(not r.get("skipped") for r in res)
    assert engine.final_state().count() > 0


def test_ddl_filter_drops_matching_changes(spark, tmp_root):
    import json as _json

    change = {
        "lsn": BASE + 40,
        "schema_version": 1,
        "change_type": "ALTER_ADD_COLUMN",
        "column_name": "size_bytes",
        "new_type": "int",
        "table": "repo_files",
    }
    src, log = _world_with_messages(
        spark, tmp_root, [_json.dumps(change)], lsns=[change["lsn"]]
    )
    cfg = EngineConfig(
        changelog_path=log,
        lake_root=os.path.join(tmp_root, "lake_ddlf"),
        source_table_path=src,
        batch_lsn_span=977,
        n_buckets=8,
        schema_history_ddl_filter="ALTER_ADD_COLUMN.*size_bytes",
    )
    engine = Engine(spark, cfg)
    assert engine.tracker.latest_version == 0  # filtered out
    engine.run()
    assert "size_bytes" not in [
        c["name"] for c in engine.lake.table_schema().columns
    ]


def test_store_only_captured_ignores_foreign_table_ddl(spark, tmp_root):
    import json as _json

    foreign = {
        "lsn": BASE + 40,
        "schema_version": 1,
        "change_type": "ALTER_ADD_COLUMN",
        "column_name": "other_col",
        "new_type": "int",
        "table": "other_db.audit_log",
    }
    src, log = _world_with_messages(
        spark, tmp_root, [_json.dumps(foreign)], lsns=[foreign["lsn"]]
    )
    base = dict(
        changelog_path=log,
        source_table_path=src,
        batch_lsn_span=977,
        n_buckets=8,
        table_include_regex="repo_files",
    )
    # flag ON: the foreign-table DDL is ignored
    eng = Engine(
        spark,
        EngineConfig(
            lake_root=os.path.join(tmp_root, "lake_soc_on"),
            schema_history_store_only_captured=True,
            **base,
        ),
    )
    assert eng.tracker.latest_version == 0
    # flag OFF (reference default false = store everything): applied
    eng2 = Engine(
        spark,
        EngineConfig(lake_root=os.path.join(tmp_root, "lake_soc_off"), **base),
    )
    assert eng2.tracker.latest_version == 1


def test_add_and_widen_inside_one_batch_between_plain_batches(spark, tmp_root):
    """Batch 3 of 5 carries an ADD COLUMN and a widen of that column
    (both as log 'm' rows); batches 1-2 and 4-5 carry data only. The
    batch expressions are built once per lake schema and reused, so the
    same replay runs twice on fresh lakes — the second run builds
    nothing — and both must match the oracle."""
    from debezium_spark.generator import schema_change_envelopes

    changes = [
        {
            "lsn": BASE + 230,
            "schema_version": 1,
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "size_bytes",
            "new_type": "int",
        },
        {
            "lsn": BASE + 270,
            "schema_version": 2,
            "change_type": "ALTER_WIDEN_TYPE",
            "column_name": "size_bytes",
            "new_type": "bigint",
        },
    ]
    src_path = os.path.join(tmp_root, "src")
    log_path = os.path.join(tmp_root, "log")
    gen_source_table(spark, N_REPOS, PPR).write.parquet(src_path)
    data_log = gen_change_log(
        spark, N_REPOS, PPR, n_events=N_EVENTS, snapshot_lsn_base=BASE,
        schema_change_lsns={c["schema_version"]: c["lsn"] for c in changes},
    )
    data_log.unionByName(schema_change_envelopes(spark, changes)).write.parquet(
        log_path
    )
    src_pdf = spark.read.parquet(src_path).toPandas()
    log_pdf = data_log.toPandas()
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(lambda v: v.asDict() if hasattr(v, "asDict") else v)
    oracle = fold_final_state(src_pdf, log_pdf, schema_changes=changes)

    for run in ("first", "second"):
        engine = Engine(
            spark,
            EngineConfig(
                changelog_path=log_path,
                lake_root=os.path.join(tmp_root, f"lake-{run}"),
                source_table_path=src_path,
                batch_lsn_span=100,
                n_buckets=8,
            ),
        )
        results = engine.run()
        stream = [r for r in results if r["batch_id"] >= 1]
        assert len(stream) == 5, results
        versions = [
            engine.lake.manifest(r["version"])["schema_version"] for r in stream
        ]
        assert versions == [0, 0, 2, 2, 2], versions
        got = {
            (r["repo"], r["path"]): r.asDict()
            for r in engine.final_state().collect()
        }
        assert set(got) == set(oracle), run
        n_sized = 0
        for k, row in got.items():
            assert row["content"] == oracle[k]["content"], (run, k)
            assert row["size_bytes"] == oracle[k].get("size_bytes"), (run, k)
            n_sized += row["size_bytes"] is not None
        assert 0 < n_sized < len(got), run
        assert engine.lake.table_schema().col("size_bytes")["type"] == "bigint"


def test_column_name_with_backtick_and_default_with_quotes(spark, tmp_root):
    """Identifiers and literals reach Spark as SQL text: a column named
    ``a`b`` whose default holds a quote and a backslash must survive
    the merge (copy-on-write and delta), the state read (pre-add rows
    read the default), the change feed and the engine's alignment."""
    from debezium_spark.lake import LakeTable

    col, default, value = "a`b", "it's \\ d", "x'y`z"
    add = {
        "change_type": "ALTER_ADD_COLUMN",
        "column_name": col,
        "new_type": "string",
        "default": default,
        "schema_version": 1,
        "lsn": 3,
    }
    root = os.path.join(tmp_root, "lake")
    lake = LakeTable(spark, root, n_buckets=2)
    lake.create()
    base = "repo string, path string, commit string, lang string, content string"
    lake.merge(
        spark.createDataFrame(
            [("r", "a", "c1", "py", "x", "c", 1), ("r", "k", "c1", "go", "x", "c", 2)],
            f"{base}, op string, lsn long",
        ),
        1,
    )
    lake.apply_schema_change(add)
    v_add = lake.current_version()
    ddl = f"{base}, `a``b` string, op string, lsn long"
    lake.merge(spark.createDataFrame([("r", "b", "c2", "py", "y", value, "c", 4)], ddl), 2)
    # one key of a bucket that has a base file: written as a delta and
    # read merge-on-read
    lake.merge(spark.createDataFrame([("r", "a", "c3", "py", "z", None, "u", 6)], ddl), 3)
    assert any(e.get("deltas") for e in lake.manifest()["files"].values())
    state = {r["path"]: r[col] for r in lake.read_state().collect()}
    assert state == {"a": None, "k": default, "b": value}

    feed = {r["path"]: r for r in lake.table_changes(v_add).collect()}
    assert sorted(feed) == ["a", "b"]
    assert feed["b"]["op"] == "c" and feed["b"]["after"][col] == value
    assert feed["a"]["op"] == "u"
    assert feed["a"]["before"][col] == default and feed["a"]["after"][col] is None

    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=os.path.join(tmp_root, "log"),
            lake_root=root,
            n_buckets=2,
            schema_changes=[add],
        ),
    )
    after = "repo string, path string, `a``b` string"
    flat = spark.createDataFrame(
        [("r", "d", 8, "c", ("r", "d", "old"), 0), ("r", "e", 10, "c", ("r", "e", value), 1)],
        f"repo string, path string, lsn long, op string, after struct<{after}>, "
        "schema_version int",
    )
    aligned = {r["path"]: r[col] for r in eng._align(flat).collect()}
    assert aligned == {"d": default, "e": value}
