"""Incremental read between lake versions (``table_changes``) — the
Delta-CDF / Iceberg-incremental-scan analogue over the bucket-COW
manifests: metadata-pruned to touched buckets, net-diff semantics,
``before``/``after`` aligned to the target version's logical schema.
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


def _row(k, op, lsn, tag, repo=None):
    return (
        repo or f"r{k % 4}",
        f"p{k:03d}",
        f"c-{tag}",
        "py",
        f"{tag}",
        op,
        lsn,
    )


def _seed(spark, root, n=12, **kw):
    lt = LakeTable(spark, root, n_buckets=4, **kw)
    lt.create()
    lt.merge(
        _ch(spark, [_row(k, "c", 100 + k, f"base-{k}") for k in range(n)]), 1
    )
    return lt


def _feed(lt, v_from, v_to=None):
    return {
        (r["repo"], r["path"]): r
        for r in lt.table_changes(v_from, v_to).collect()
    }


def test_classifies_insert_update_delete(spark, tmp_root):
    lt = _seed(spark, tmp_root + "/l")
    v1 = lt.manifest()["version"]
    lt.merge(
        _ch(
            spark,
            [
                _row(0, "u", 500, "upd"),
                _row(1, "d", 501, "del"),
                _row(99, "c", 502, "new"),
            ],
        ),
        2,
    )
    v2 = lt.manifest()["version"]
    feed = _feed(lt, v1, v2)
    assert {k: r["op"] for k, r in feed.items()} == {
        ("r0", "p000"): "u",
        ("r1", "p001"): "d",
        ("r3", "p099"): "c",
    }
    u = feed[("r0", "p000")]
    assert u["before"]["content"] == "base-0" and u["after"]["content"] == "upd"
    assert u["lsn_pre"] == 100 and u["lsn_post"] == 500
    d = feed[("r1", "p001")]
    assert d["after"] is None and d["before"]["content"] == "base-1"
    c = feed[("r3", "p099")]
    assert c["before"] is None and c["lsn_pre"] is None
    assert c["after"]["content"] == "new" and c["lsn_post"] == 502
    # default v_to = current version
    assert _feed(lt, v1) == feed


def test_carried_over_bucket_mates_not_reported(spark, tmp_root):
    # p000..p011 spread over 4 hash buckets; ONE update rewrites one
    # bucket — every other key in that bucket is carried over with its
    # _lsn intact and must NOT appear in the feed
    lt = _seed(spark, tmp_root + "/l")
    v1 = lt.manifest()["version"]
    lt.merge(_ch(spark, [_row(5, "u", 900, "only")]), 2)
    feed = _feed(lt, v1)
    assert set(feed) == {("r1", "p005")}


def test_metadata_bucket_pruning(spark, tmp_root, monkeypatch):
    # the diff's scan must touch ONLY buckets whose manifest entry
    # changed — at scale this is what keeps a sparse-batch feed from
    # reading the whole table
    # pins the copy-on-write layout: fold every bucket (both fold
    # constants at 0 make every merge copy-on-write)
    from debezium_spark import lake as lake_mod

    monkeypatch.setattr(lake_mod, "FOLD_MIN_KEYS", 0)
    monkeypatch.setattr(lake_mod, "MAX_DELTAS", 0)
    lt = _seed(spark, tmp_root + "/l", n=40)
    v1 = lt.manifest()["version"]
    lt.merge(_ch(spark, [_row(7, "u", 900, "touch")]), 2)
    m1, m2 = lt.manifest(v1)["files"], lt.manifest()["files"]
    touched = {b for b in m2 if m1.get(b) != m2[b]}
    untouched = set(m2) - touched
    assert touched and untouched  # fixture really is sparse
    files = lt.table_changes(v1).inputFiles()
    assert files
    for f in files:
        assert any(f"bucket={b}" in f for b in touched), f
        assert not any(f"bucket={b}/" in f for b in untouched), f


def test_net_diff_collapses_intermediate_churn(spark, tmp_root):
    # v1 -> (upd, del, re-insert) -> v4: net feed vs v1 shows one 'u'
    # with the FINAL image; chaining consecutive versions gives the
    # per-commit granularity
    lt = _seed(spark, tmp_root + "/l")
    v1 = lt.manifest()["version"]
    lt.merge(_ch(spark, [_row(2, "u", 500, "mid")]), 2)
    lt.merge(_ch(spark, [_row(2, "d", 600, "gone")]), 3)
    lt.merge(_ch(spark, [_row(2, "c", 700, "back")]), 4)
    feed = _feed(lt, v1)
    assert set(feed) == {("r2", "p002")}
    r = feed[("r2", "p002")]
    assert r["op"] == "u" and r["after"]["content"] == "back"
    assert r["lsn_pre"] == 102 and r["lsn_post"] == 700
    ops = [
        _feed(lt, v, v + 1).get(("r2", "p002"))["op"]
        for v in range(v1, lt.manifest()["version"])
    ]
    assert ops == ["u", "d", "c"]


def test_schema_evolution_aligns_by_field_id(spark, tmp_root):
    lt = _seed(spark, tmp_root + "/l")
    v1 = lt.manifest()["version"]
    lt.apply_schema_change(
        {
            "change_type": "ALTER_ADD_COLUMN",
            "column_name": "stars",
            "new_type": "bigint",
            "schema_version": 1,
            "lsn": 400,
        }
    )
    lt.apply_schema_change(
        {
            "change_type": "ALTER_RENAME_COLUMN",
            "prev_name": "content",
            "column_name": "body",
            "schema_version": 2,
            "lsn": 401,
        }
    )
    ch = _ch(spark, [_row(3, "u", 500, "evolved")]).withColumn(
        "stars", F.lit(7).cast("bigint")
    )
    lt.merge(ch, 2)
    feed = _feed(lt, v1)
    r = feed[("r3", "p003")]
    # before image is projected to the NEW logical schema: renamed
    # column readable under its new name, added column NULL pre-merge
    assert r["before"]["body"] == "base-3" and r["before"]["stars"] is None
    assert r["after"]["body"] == "evolved" and r["after"]["stars"] == 7


def test_tombstone_retention_reports_delete_once(spark, tmp_root):
    lt = _seed(spark, tmp_root + "/l", retain_tombstones=True)
    v1 = lt.manifest()["version"]
    lt.merge(_ch(spark, [_row(4, "d", 800, "del")]), 2)
    v2 = lt.manifest()["version"]
    feed = _feed(lt, v1, v2)
    assert set(feed) == {("r0", "p004")} and feed[("r0", "p004")]["op"] == "d"
    # the tombstone row itself never surfaces as a live change later:
    # a no-op-for-this-key commit leaves the feed for (v2, v3) empty
    lt.merge(_ch(spark, [_row(6, "u", 900, "other")]), 3)
    assert ("r0", "p004") not in _feed(lt, v2)


def test_feed_replay_reconstructs_state(spark, tmp_root):
    # applying the net feed on top of the v_from state must reproduce
    # the v_to state exactly — the consumer-side invariant
    lt = _seed(spark, tmp_root + "/l", n=20)
    v1 = lt.manifest()["version"]
    lt.merge(
        _ch(
            spark,
            [_row(k, "u", 500 + k, f"u{k}") for k in range(0, 6)]
            + [_row(k, "d", 600 + k, "x") for k in range(6, 9)]
            + [_row(50 + k, "c", 700 + k, f"n{k}") for k in range(3)],
        ),
        2,
    )
    v2 = lt.manifest()["version"]
    base = {
        (r["repo"], r["path"]): r["content"]
        for r in lt.read_state(version=v1).collect()
    }
    for r in lt.table_changes(v1, v2).collect():
        k = (r["repo"], r["path"])
        if r["op"] == "d":
            base.pop(k)
        else:
            base[k] = r["after"]["content"]
    want = {
        (r["repo"], r["path"]): r["content"]
        for r in lt.read_state(version=v2).collect()
    }
    assert base == want


def test_expired_version_raises(spark, tmp_root):
    lt = _seed(spark, tmp_root + "/l")
    lt.merge(_ch(spark, [_row(0, "u", 500, "a")]), 2)
    lt.merge(_ch(spark, [_row(1, "u", 600, "b")]), 3)
    lt.expire_snapshots(keep_last=2)
    import pytest

    with pytest.raises((FileNotFoundError, ValueError)):
        lt.table_changes(1).collect()
    with pytest.raises(ValueError):
        lt.table_changes(5, 2)
