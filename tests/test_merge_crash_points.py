"""Crash points inside ``LakeTable.merge``.

Each case crashes one stream batch at a step boundary of the merge's
commit protocol (by patching the lake's own methods for the first
engine only), then a NEW ``Engine`` runs the log to the end. Whatever
the crash point, the restarted engine must converge: the final state
equals the oracle fold, the committed offsets equal the log's max LSN
per partition, and lineage reports every committed batch exactly once.
All cases share one generated log.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from debezium_spark import lake as lake_mod
from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.lake import LakeTable
from debezium_spark.oracle import fold_final_state
from debezium_spark.streaming.engine import Engine, EngineConfig

N_REPOS, PATHS = 4, 20
CRASH_BATCH = 2  # the stream batch that crashes


class InjectedCrash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def log_fixture(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("crashpoints")
    src, log = str(root / "source"), str(root / "log")
    gen_source_table(spark, N_REPOS, PATHS).write.parquet(src)
    gen_change_log(
        spark, N_REPOS, PATHS, n_events=1200, seed=7,
        snapshot_lsn_base=N_REPOS * PATHS,
    ).write.parquet(log)

    def as_dicts(v):
        return v.asDict() if hasattr(v, "asDict") else v

    log_pdf = spark.read.parquet(log).toPandas()
    for c in ("key", "before", "after"):
        log_pdf[c] = log_pdf[c].map(as_dicts)
    oracle = fold_final_state(spark.read.parquet(src).toPandas(), log_pdf)
    max_lsn = {
        r["partition_id"]: r["m"]
        for r in spark.read.parquet(log)
        .groupBy("partition_id")
        .agg(F.max("lsn").alias("m"))
        .collect()
    }
    return src, log, oracle, max_lsn


def _crash_before_manifest(lake, manifest):
    return manifest["batch_id"] == CRASH_BATCH


def _crash_before_fold_manifest(lake, manifest):
    # a fold commit: buckets that listed deltas at the head list none now
    had = {b for b, e in lake.manifest()["files"].items() if e.get("deltas")}
    return bool(had) and not any(
        manifest["files"].get(b, {}).get("deltas") for b in had
    )


# name -> (crash before the manifest commit when this holds, crash
# right after it instead, constants patched to force that path)
CRASH_POINTS = {
    "after_data_write_before_manifest": (_crash_before_manifest, False, {}),
    "after_manifest_before_lineage": (_crash_before_manifest, True, {}),
    "after_fold_rewrite_before_manifest": (
        _crash_before_fold_manifest,
        False,
        {"FOLD_MIN_KEYS": 10**9, "MAX_DELTAS": 2},
    ),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_restart_after_crash_inside_merge_converges(
    spark, tmp_root, log_fixture, monkeypatch, point
):
    src, log, oracle, max_lsn = log_fixture
    crash_when, after_commit, constants = CRASH_POINTS[point]
    for name, value in constants.items():
        monkeypatch.setattr(lake_mod, name, value)
    cfg = EngineConfig(
        changelog_path=log,
        lake_root=os.path.join(tmp_root, "lake"),
        source_table_path=src,
        batch_lsn_span=300,
        n_buckets=8,
        partitions=4,
    )
    write_manifest = LakeTable._write_manifest
    crashed = []

    def crashing_write(lake, manifest):
        hit = not crashed and manifest.get("metrics", {}).get(
            "phase"
        ) == "stream" and crash_when(lake, manifest)
        if hit and not after_commit:
            crashed.append(manifest["version"])
            raise InjectedCrash(point)
        write_manifest(lake, manifest)
        if hit:
            crashed.append(manifest["version"])
            raise InjectedCrash(point)

    with monkeypatch.context() as m:
        m.setattr(LakeTable, "_write_manifest", crashing_write)
        with pytest.raises(InjectedCrash):
            Engine(spark, cfg).run()
    assert crashed

    engine = Engine(spark, cfg)
    engine.run()
    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in engine.final_state().collect()
    }
    assert set(got) == set(oracle)
    for k, row in got.items():
        for c in ("commit", "lang", "content"):
            assert row[c] == oracle[k][c], (k, c)
    assert engine.lake.committed_offsets() == max_lsn

    # every committed batch that applied events has its lineage, once
    lake = engine.lake
    committed = {
        (m["metrics"]["phase"], m["batch_id"])
        for m in map(lake.manifest, lake.versions())
        if m.get("batch_id") is not None and m["metrics"].get("events")
    }
    rows = lake.lineage()
    per_partition = Counter(
        (r["phase"], r["batch_id"], r["partition_id"]) for r in rows
    )
    assert max(per_partition.values()) == 1
    assert {(r["phase"], r["batch_id"]) for r in rows} == committed
