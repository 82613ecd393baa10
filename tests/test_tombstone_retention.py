"""Delete-tombstone retention: order-tolerant merges.

Without retention the merge physically deletes rows, so a delete
consumed in an earlier batch than a lower-LSN event of the same key is
resurrected by it (no row left to LSN-guard against) — which is why
ordered pickup is part of the source contract. With
``retain_tombstones`` the delete survives as a hidden
(key, _lsn, _deleted) row — Kafka log-compaction's design — and ANY
cross-batch order converges. Consumer reads never see tombstones;
``purge_tombstones`` is the delete.retention compaction analogue.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from debezium_spark.lake import LakeTable

SCHEMA_DDL = (
    "repo: string, path: string, commit: string, lang: string, "
    "content: string, op: string, lsn: long"
)


def _ch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA_DDL)


def _row(k, op, lsn, tag):
    return (f"r{k % 4}", f"p{k:03d}", f"c-{tag}", "py", f"{tag}", op, lsn)


def _seed(spark, root, retain, n_buckets=4):
    lt = LakeTable(
        spark, root, n_buckets=n_buckets, retain_tombstones=retain
    )
    lt.create()
    lt.merge(_ch(spark, [_row(k, "c", 100 + k, f"base-{k}") for k in range(8)]), 1)
    return lt


def _live_keys(lt):
    return {
        (r["repo"], r["path"])
        for r in lt.read_state(logical=False).collect()
    }


def test_late_lower_lsn_update_does_not_resurrect_deleted_key(
    spark, tmp_root
):
    # delete k0 @ lsn 500 (batch 2), then a LATE update @ lsn 300
    # (batch 3). Retaining lake: still absent. Non-retaining control:
    # resurrected — the documented hazard this feature removes.
    for retain, resurrected in ((True, False), (False, True)):
        lt = _seed(spark, os.path.join(tmp_root, f"l{retain}"), retain)
        lt.merge(_ch(spark, [_row(0, "d", 500, "del")]), 2)
        lt.merge(_ch(spark, [_row(0, "u", 300, "late")]), 3)
        assert ((("r0", "p000") in _live_keys(lt))) is resurrected
    # and a FRESH higher-LSN insert still revives the key normally
    lt = LakeTable(
        spark, os.path.join(tmp_root, "lTrue"), n_buckets=4,
        retain_tombstones=True,
    )
    lt.merge(_ch(spark, [_row(0, "c", 900, "revive")]), 4)
    assert ("r0", "p000") in _live_keys(lt)


def test_delete_before_any_insert_guards_unseen_key(spark, tmp_root):
    lt = _seed(spark, os.path.join(tmp_root, "unseen"), True)
    lt.merge(_ch(spark, [_row(77, "d", 800, "del-first")]), 2)
    lt.merge(_ch(spark, [_row(77, "c", 400, "late-insert")]), 3)
    assert ("r1", "p077") not in _live_keys(lt)


def test_all_merge_plans_agree_under_retention(spark, tmp_root):
    # the one merge, scoped to the touched buckets (4 buckets) and as a
    # full rewrite (1 bucket: every batch touches it), must produce the
    # same retained state
    batches = [
        [_row(1, "d", 500, "del"), _row(9, "d", 777, "ghost-del")],
        [_row(1, "u", 300, "late"), _row(9, "c", 200, "late-ins"),
         _row(2, "u", 900, "upd")],
    ]
    lakes = {
        "touched": _seed(spark, f"{tmp_root}/touched", True),
        "full": _seed(spark, f"{tmp_root}/full", True, n_buckets=1),
    }
    for lt in lakes.values():
        for i, b in enumerate(batches):
            lt.merge(_ch(spark, b), 2 + i)
    states = {
        n: sorted(
            tuple(r)
            for r in lt.read_state(logical=False, with_sys=True).collect()
        )
        for n, lt in lakes.items()
    }
    assert states["touched"] == states["full"]
    live = _live_keys(lakes["touched"])
    assert ("r1", "p001") not in live and ("r1", "p009") not in live
    assert ("r2", "p002") in live
    # tombstones visible to the merge reader, hidden from consumers
    sys_rows = {
        (r["repo"], r["path"]): r["_deleted"]
        for r in lakes["touched"].read_state(
            logical=False, with_sys=True
        ).collect()
    }
    assert sys_rows[("r1", "p001")] is True
    assert sys_rows[("r2", "p002")] is False
    logical_cols = lakes["touched"].read_state(logical=True).columns
    assert "_deleted" not in logical_cols and "_lsn" not in logical_cols


def test_purge_tombstones_below_frontier(spark, tmp_root):
    lt = _seed(spark, f"{tmp_root}/purge", True)
    lt.merge(_ch(spark, [_row(0, "d", 500, "d0"), _row(1, "d", 900, "d1")]), 2)
    v_before = lt.manifest()["version"]
    res = lt.purge_tombstones(below_lsn=600)
    assert res["version"] == v_before + 1
    sys_rows = {
        (r["repo"], r["path"])
        for r in lt.read_state(logical=False, with_sys=True)
        .filter("_deleted")
        .collect()
    }
    assert ("r0", "p000") not in sys_rows  # purged (lsn 500 < 600)
    assert ("r1", "p001") in sys_rows  # retained (lsn 900)
    # live state unchanged by the purge
    assert ("r0", "p000") not in _live_keys(lt)
    # no-op purge commits nothing
    assert lt.purge_tombstones(below_lsn=600)["purged_buckets"] == []


def test_streaming_scrambled_segment_order_converges(spark, tmp_root):
    """The headline claim: with tombstone retention the engine's final
    state matches the LSN-ordered fold oracle even when streaming
    picks up log segments in REVERSED mtime order (every delete
    arrives maximally early relative to its key's other events)."""
    from debezium_spark.generator import gen_change_log
    from debezium_spark.oracle import fold_final_state
    from debezium_spark.sources.changelog import write_changelog_ordered
    from debezium_spark.streaming.engine import Engine, EngineConfig

    log = gen_change_log(
        spark, n_repos=4, paths_per_repo=25, n_events=1500,
        seed=7, partitions=4,
    )
    log_path = f"{tmp_root}/log_scrambled"
    write_changelog_ordered(log, log_path, n_files=6)
    # reverse the mtimes: segment N is consumed FIRST
    files = sorted(
        f for f in os.listdir(log_path)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    import time as _t

    t0 = _t.time() - len(files)
    for i, f in enumerate(files):
        os.utime(
            os.path.join(log_path, f),
            (t0 + len(files) - 1 - i, t0 + len(files) - 1 - i),
        )
    eng = Engine(
        spark,
        EngineConfig(
            changelog_path=log_path,
            lake_root=f"{tmp_root}/lake_scrambled",
            snapshot_mode="never",
            n_buckets=4,
            retain_delete_tombstones=True,
        ),
    )
    eng.run_streaming(f"{tmp_root}/ckpt_scrambled", max_files_per_trigger=1)
    log_pdf = log.toPandas()
    for c in ("source", "transaction"):
        if c in log_pdf.columns:
            log_pdf[c] = log_pdf[c].map(
                lambda r: r.asDict() if hasattr(r, "asDict") else r
            )
    want = fold_final_state(None, log_pdf)
    got = {
        (r["repo"], r["path"]): r
        for r in eng.final_state().collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["content"] == w["content"], k


# -- property: ANY batch order converges (hypothesis) -----------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_prop_events = st.lists(
    st.tuples(
        st.integers(0, 3),  # key index (4 keys, heavy collision)
        st.sampled_from(["c", "u", "d"]),
        st.integers(0, 99),  # content token
    ),
    min_size=2,
    max_size=16,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_prop_events, st.randoms(use_true_random=False))
def test_any_batch_partition_and_order_converges(spark, evs, rnd):
    """Partition an arbitrary event sequence into arbitrary batches and
    apply them in an arbitrary order: with retained tombstones the
    final live state must equal the LSN-ordered fold, ALWAYS."""
    import tempfile

    # python-fold expectation over LSN order
    expected = {}
    tagged = [(lsn, k, op, tok) for lsn, (k, op, tok) in enumerate(evs, 1)]
    for lsn, k, op, tok in tagged:
        if op == "d":
            expected.pop(k, None)
        else:
            expected[k] = f"v{tok}:{lsn}"
    # arbitrary partition into 1-4 batches, arbitrary application order
    n_batches = rnd.randint(1, 4)
    batches = [[] for _ in range(n_batches)]
    for t in tagged:
        batches[rnd.randrange(n_batches)].append(t)
    rnd.shuffle(batches)
    lt = LakeTable(
        spark,
        tempfile.mkdtemp(prefix="prop_tomb_"),
        n_buckets=2,
        retain_tombstones=True,
    )
    lt.create()
    bid = 0
    for b in batches:
        # per-batch LWW pre-compaction (merge()'s input contract)
        winners = {}
        for lsn, k, op, tok in b:
            if k not in winners or winners[k][0] < lsn:
                winners[k] = (lsn, op, tok)
        if not winners:
            continue
        bid += 1
        rows = [
            (f"r{k % 2}", f"p{k}", f"c{lsn}", "py",
             None if op == "d" else f"v{tok}:{lsn}", op, lsn)
            for k, (lsn, op, tok) in winners.items()
        ]
        lt.merge(_ch(spark, rows), bid)
    got = {
        int(r["path"][1:]): r["content"]
        for r in lt.read_state(logical=False).collect()
    }
    want = {k: v for k, v in expected.items()}
    assert got == want


def test_lake_written_without_retention_reads_live_when_reopened_retaining(
    spark, tmp_root
):
    """Files written by a non-retaining merge have no ``_deleted``
    column. Reopened with retention on, every row of them reads live
    (``_deleted`` false) to the merge reader and to consumers, and the
    next retaining merge keeps its delete as a tombstone."""
    root = os.path.join(tmp_root, "reopen")
    plain = _seed(spark, root, False)
    plain.merge(_ch(spark, [_row(3, "d", 400, "del")]), 2)
    expected = {(f"r{k % 4}", f"p{k:03d}") for k in range(8) if k != 3}

    lt = LakeTable(spark, root, n_buckets=4, retain_tombstones=True)
    sys_rows = lt.read_state(logical=False, with_sys=True).collect()
    assert {(r["repo"], r["path"]) for r in sys_rows} == expected
    assert all(r["_deleted"] is False for r in sys_rows)
    assert _live_keys(lt) == expected

    lt.merge(_ch(spark, [_row(5, "d", 500, "del")]), 3)
    assert _live_keys(lt) == expected - {("r1", "p005")}
    dead = {
        (r["repo"], r["path"])
        for r in lt.read_state(logical=False, with_sys=True).collect()
        if r["_deleted"]
    }
    assert dead == {("r1", "p005")}


def test_maintenance_commits_record_no_batch_id(spark, tmp_root):
    """Purge, rebucket and a schema change are not batch commits: each
    records ``batch_id: None`` and carries every fence and the offsets
    forward, so counting manifests that carry a batch id counts only
    the merges."""
    lt = _seed(spark, f"{tmp_root}/maint", True)
    lt.merge(_ch(spark, [_row(0, "d", 500, "d0")]), 2)
    head = lt.manifest()
    assert lt.purge_tombstones(below_lsn=600)["purged_buckets"]
    lt.rebucket(2)
    lt.apply_schema_change(
        {"change_type": "ALTER_ADD_COLUMN", "column_name": "stars", "new_type": "int"}
    )
    maintenance = [lt.manifest(v) for v in lt.versions() if v > head["version"]]
    assert [m["metrics"] for m in maintenance] == [
        {"tombstone_purge_below": 600},
        {"rebucket_from": 4, "rebucket_to": 2},
        {"schema_change": "ALTER_ADD_COLUMN"},
    ]
    for m in maintenance:
        assert m["batch_id"] is None
        assert m["last_batch_id"] == head["last_batch_id"] == 2
        assert m["last_batch_ids"] == head["last_batch_ids"] == {"stream": 2}
        assert m["offsets"] == head["offsets"]
    batches = [lt.manifest(v)["batch_id"] for v in lt.versions()]
    assert [b for b in batches if b is not None] == [1, 2]
