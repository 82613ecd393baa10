"""The one merge, as a merge-as-compaction: value cases on a seeded
lake (mixed batch, LSN tie with state, truncate, delete of an unseen
key) and a plan pin that a sparse batch scans only the bucket
directories it touches.
"""

from __future__ import annotations

import os

from debezium_spark.lake import LakeTable

SCHEMA_DDL = (
    "repo: string, path: string, commit: string, lang: string, "
    "content: string, op: string, lsn: long"
)


def _rows(keys, op, lsn0, tag):
    return [
        (f"r{k % 4}", f"p{k:03d}", f"c-{tag}-{k}", "py", f"{tag}-{k}", op, lsn0 + k)
        for k in keys
    ]


def _changes(spark, rows):
    return spark.createDataFrame(rows, SCHEMA_DDL)


def _seed(spark, root, n_buckets=8, **kw):
    lt = LakeTable(spark, root, n_buckets=n_buckets, **kw)
    lt.create()
    lt.merge(_changes(spark, _rows(range(60), "c", 1000, "base")), 1)
    return lt


def _mixed_batch(spark):
    rows = (
        _rows(range(10), "u", 5000, "upd")  # beats state
        + _rows(range(10, 15), "d", 5000, "del")  # deletes
        + _rows(range(15, 20), "u", 0, "stale")  # loses the LSN guard
        + _rows(range(100, 110), "c", 5000, "ins")  # inserts
        + _rows([500], "d", 5000, "ghost")  # delete of a missing key
    )
    return _changes(spark, rows)


def _state(lt):
    return sorted(
        tuple(r)
        for r in lt.read_state(logical=False, with_sys=True).collect()
    )


def test_broadcast_merge_equals_full_outer_merge(spark, tmp_root):
    """A mixed batch on a seeded lake: updates, deletes, a stale change,
    inserts, a delete of an unseen key and an LSN tie with state."""
    lt = _seed(spark, os.path.join(tmp_root, "mixed"))
    batch = _mixed_batch(spark).unionByName(
        # lsn tie with state: seed wrote k=30 at lsn 1030; an event at
        # the SAME lsn must lose (state wins ties, strict guard)
        _changes(spark, [("r2", "p030", "c-tie-30", "py", "tie-30", "u", 1030)])
    )
    lt.merge(batch, 2)
    s = _state(lt)
    keys = {(r[0], r[1]) for r in s}
    assert ("r0", "p100") in keys  # insert landed
    assert ("r2", "p010") not in keys  # delete applied
    assert ("r0", "p500") not in keys  # delete of an unseen key: no-op
    by_key = {(r[0], r[1]): r for r in s}
    assert by_key[("r0", "p016")][4] == "base-16"  # stale change lost
    assert by_key[("r0", "p000")][4] == "upd-0"  # update won
    assert by_key[("r2", "p030")][4] == "base-30"  # tie → state kept
    assert len(s) == 60 - 5 + 10
    # one manifest change per changed key (duplicates collapse)
    assert lt.manifest()["metrics"]["changes"] == 10 + 5 + 5 + 10 + 1 + 1


def test_merge_elects_within_a_batch(spark, tmp_root):
    """Change rows need not be key-unique: several events of one key
    in one batch elect the max-LSN one, wherever it sits."""
    lt = _seed(spark, os.path.join(tmp_root, "multi"))
    lt.merge(
        _changes(
            spark,
            _rows([0], "u", 7000, "late")
            + _rows([0], "u", 6000, "early")
            + _rows([1], "u", 6000, "upd")
            + _rows([1], "d", 6500, "del")
            + _rows([200], "d", 6000, "del")
            + _rows([200], "c", 6500, "ins"),
        ),
        2,
    )
    by_key = {(r[0], r[1]): r for r in _state(lt)}
    assert by_key[("r0", "p000")][4] == "late-0"
    assert ("r1", "p001") not in by_key
    assert by_key[("r0", "p200")][4] == "ins-200"
    assert lt.manifest()["metrics"]["changes"] == 3


def test_sparse_merge_scans_only_touched_buckets(spark, tmp_root, monkeypatch):
    """Plan pin: a batch touching one bucket reads only that bucket's
    directory, rewrites only it, and carries every other bucket
    forward by reference."""
    # pins the copy-on-write layout: fold every bucket (both fold
    # constants at 0 make every merge copy-on-write)
    from debezium_spark import lake as lake_mod

    monkeypatch.setattr(lake_mod, "FOLD_MIN_KEYS", 0)
    monkeypatch.setattr(lake_mod, "MAX_DELTAS", 0)
    lt = _seed(spark, os.path.join(tmp_root, "prune"))
    before = lt.manifest()["files"]
    scans = []
    read_state = lt.read_state

    def spy(buckets=None, **kw):
        df = read_state(buckets=buckets, **kw)
        scans.append(df.inputFiles())
        return df

    lt.read_state = spy
    lt.merge(_changes(spark, _rows([7], "u", 9000, "one")), 2)
    (files,) = scans
    after = lt.manifest()["files"]
    changed = [b for b in after if after[b] != before[b]]
    assert len(changed) == 1 and len(after) == len(before)
    assert files and all(f"/{before[changed[0]]['path']}/" in f for f in files)


def test_broadcast_merge_respects_truncate(spark, tmp_root):
    lt = _seed(spark, os.path.join(tmp_root, "tr"))
    # truncate at 4000 wipes the seed (lsn 1000+k); post-truncate rows
    # survive
    lt.merge(
        _changes(spark, _rows(range(5), "c", 5000, "post")),
        2,
        truncate_lsn=4000,
    )
    st = lt.read_state(logical=False, with_sys=True)
    rows = st.collect()
    assert len(rows) == 5
    assert all(r["_lsn"] > 4000 for r in rows)
    assert {r["content"] for r in rows} == {f"post-{k}" for k in range(5)}
