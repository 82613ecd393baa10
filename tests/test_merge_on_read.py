"""Merge-on-read deltas: a merge sparse in a bucket writes the batch's
elected rows once, as one delta file that the bucket's manifest entry
lists, and ``read_state`` combines base and deltas. Copy-on-write (both
fold constants at 0) is the reference every read must equal: final
state, time travel and the change feed, with and without tombstone
retention (switched between merges too), across TRUNCATE and ADD
COLUMN.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from debezium_spark import lake as lake_mod
from debezium_spark.lake import LakeTable

DDL = (
    "repo: string, path: string, commit: string, lang: string, "
    "content: string, op: string, lsn: long"
)
N_KEYS = 12
ADD_STARS = {
    "change_type": "ALTER_ADD_COLUMN",
    "column_name": "stars",
    "new_type": "bigint",
    "schema_version": 1,
    "lsn": 0,
}


@contextmanager
def fold_rule(min_keys: int, max_deltas: int):
    saved = lake_mod.FOLD_MIN_KEYS, lake_mod.MAX_DELTAS
    lake_mod.FOLD_MIN_KEYS, lake_mod.MAX_DELTAS = min_keys, max_deltas
    try:
        yield
    finally:
        lake_mod.FOLD_MIN_KEYS, lake_mod.MAX_DELTAS = saved


def _changes(spark, events, stars: bool):
    rows = [
        (f"r{k % 3}", f"p{k:02d}", f"c{lsn}", "py",
         None if op == "d" else f"{op}{lsn}", op, lsn)
        + ((lsn,) if stars else ())
        for k, op, lsn in events
    ]
    return spark.createDataFrame(rows, DDL + (", stars: bigint" if stars else ""))


def _seed_events():
    return [(k, "c", k + 1) for k in range(N_KEYS)]


@st.composite
def _steps(draw):
    """A merge sequence: batches of random keys/ops with distinct LSNs
    (so no two events of a key tie), drawn from one small range so
    late lower-LSN events after deletes are common; TRUNCATE, ADD
    COLUMN and reopening the lake with the other retention setting in
    between. It opens with a one-event batch, which any fold rule with
    ``FOLD_MIN_KEYS`` ≥ 2 writes as a delta."""
    kinds = ["batch"] + draw(
        st.lists(
            st.sampled_from(["batch", "batch", "batch", "truncate", "add", "reopen"]),
            min_size=1,
            max_size=5,
        )
    )
    sizes = [1] + [draw(st.integers(1, 5)) for _ in kinds[1:]]
    lsns = draw(
        st.lists(
            st.integers(N_KEYS + 1, 400),
            min_size=sum(sizes) + len(kinds),
            max_size=sum(sizes) + len(kinds),
            unique=True,
        )
    )
    steps = []
    for kind, n in zip(kinds, sizes):
        events = [
            (draw(st.integers(0, N_KEYS - 1)), draw(st.sampled_from("cud")), lsns.pop())
            for _ in range(n)
        ]
        steps.append((kind, events, lsns.pop()))
    return steps


def _apply(spark, lt, steps):
    batch_id, stars = 1, False
    lt.merge(_changes(spark, _seed_events(), stars), batch_id)
    for kind, events, lsn in steps:
        if kind == "reopen":
            lt = LakeTable(
                spark, lt.root, retain_tombstones=not lt.retain_tombstones
            )
            continue
        if kind == "add":
            if not stars:
                lt.apply_schema_change(ADD_STARS)
                stars = True
            continue
        batch_id += 1
        truncate = lsn if kind == "truncate" else None
        if truncate is not None:
            # the engine's contract: only events above the TRUNCATE
            events = [e for e in events if e[2] > truncate]
        lt.merge(_changes(spark, events, stars), batch_id, truncate_lsn=truncate)
    return lt


def _rows(df):
    return sorted(
        (tuple(tuple(v) if hasattr(v, "__fields__") else v for v in r)
         for r in df.collect()),
        key=repr,
    )


def _run(spark, steps, retain, min_keys, max_deltas):
    lt = LakeTable(
        spark, tempfile.mkdtemp(prefix="mor_"), n_buckets=4,
        retain_tombstones=retain,
    )
    lt.create()
    with fold_rule(min_keys, max_deltas):
        return _apply(spark, lt, steps)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    _steps(),
    st.booleans(),
    st.integers(2, 6),
    st.integers(1, 5),
    st.randoms(use_true_random=False),
)
def test_any_fold_rule_reads_like_copy_on_write(
    spark, steps, retain, min_keys, max_deltas, rnd
):
    mor = _run(spark, steps, retain, min_keys, max_deltas)
    cow = _run(spark, steps, retain, 0, 0)
    versions = cow.versions()
    assert mor.versions() == versions
    assert any(
        e.get("deltas") for v in versions for e in mor.manifest(v)["files"].values()
    )
    assert _rows(mor.read_state()) == _rows(cow.read_state())
    assert _rows(mor.read_state(logical=False, with_sys=True)) == _rows(
        cow.read_state(logical=False, with_sys=True)
    )
    for v in versions:
        assert _rows(mor.read_state(version=v)) == _rows(cow.read_state(version=v))
    for _ in range(3):
        v, w = sorted(rnd.sample(versions, 2))
        assert _rows(mor.table_changes(v, w)) == _rows(cow.table_changes(v, w))


def test_late_lower_lsn_event_after_a_delete_across_deltas(spark, tmp_root):
    """Without retention a delete removes the key, so a later batch's
    lower-LSN event revives it under copy-on-write; the deltas' read
    must do the same, and a higher-LSN delete after the revival wins."""
    for retain in (False, True):
        got = []
        for rule in ((100, 100), (0, 0)):
            lt = LakeTable(
                spark, os.path.join(tmp_root, f"{retain}{rule[0]}"),
                n_buckets=2, retain_tombstones=retain,
            )
            lt.create()
            with fold_rule(*rule):
                lt.merge(_changes(spark, _seed_events(), False), 1)
                lt.merge(_changes(spark, [(0, "d", 500), (1, "d", 501)], False), 2)
                lt.merge(_changes(spark, [(0, "u", 300), (1, "u", 301)], False), 3)
                lt.merge(_changes(spark, [(1, "d", 400)], False), 4)
            got.append(_rows(lt.read_state(logical=False, with_sys=True)))
        assert got[0] == got[1]
        live = {r[1] for r in got[0] if not (retain and r[-1])}
        assert ("p00" in live) is (not retain)
        assert "p01" not in live


def _sparse_lake(spark, root, **kw):
    lt = LakeTable(spark, root, n_buckets=4, **kw)
    lt.create()
    lt.merge(_changes(spark, [(k, "c", k + 1) for k in range(40)], False), 1)
    return lt


def test_sparse_batch_writes_one_delta_and_reads_no_base(spark, tmp_root):
    """Plan pin: a batch sparse in every bucket it touches reads no
    table state and writes one file, which each touched bucket's entry
    lists beside its unchanged base."""
    lt = _sparse_lake(spark, os.path.join(tmp_root, "l"))
    before = lt.manifest()["files"]
    reads = []
    read_state = lt.read_state

    def spy(*a, **kw):
        reads.append(kw)
        return read_state(*a, **kw)

    lt.read_state = spy
    lt.merge(_changes(spark, [(1, "u", 900), (2, "d", 901), (3, "u", 902)], False), 2)
    assert reads == []
    man = lt.manifest()
    data_dir = os.path.join(lt.root, f"data/v{man['version']}")
    assert os.listdir(data_dir) == ["delta"]
    parquet = [
        n for n in os.listdir(os.path.join(data_dir, "delta"))
        if n.endswith(".parquet")
    ]
    assert len(parquet) == 1
    ref = {"path": f"data/v{man['version']}/delta", "version": man["version"]}
    changed = {b for b in man["files"] if man["files"][b] != before[b]}
    assert changed
    for b in changed:
        e = man["files"][b]
        assert {k: e[k] for k in ("path", "version")} == before[b]
        assert e["deltas"] == [ref]
    # the delete rides in the delta as a _deleted row, whatever retention
    got = {r["path"]: r["content"] for r in lt.read_state().collect()}
    assert "p02" not in got and got["p01"] == "u900" and got["p03"] == "u902"


def test_read_with_deltas_builds_without_jobs(spark, tmp_root):
    """Building a read over buckets that list deltas launches no Spark
    job either: every base and delta file is read with its manifest's
    schema."""
    lt = _sparse_lake(spark, os.path.join(tmp_root, "l"))
    lt.merge(_changes(spark, [(1, "u", 900)], False), 2)
    lt.merge(_changes(spark, [(2, "u", 901)], False), 3)
    sc = spark.sparkContext
    group = "read-merged-build-probe"
    sc.setJobGroup(group, "building a merge-on-read read_state")
    try:
        state = lt.read_state(logical=False, with_sys=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert state.count() == 40


def test_max_deltas_folds_every_bucket_with_deltas(spark, tmp_root):
    lt = _sparse_lake(spark, os.path.join(tmp_root, "l"))
    with fold_rule(8, 2):
        lt.merge(_changes(spark, [(1, "u", 900)], False), 2)
        lt.merge(_changes(spark, [(2, "u", 901)], False), 3)
        assert sum(bool(e.get("deltas")) for e in lt.manifest()["files"].values())
        lt.merge(_changes(spark, [(3, "u", 902)], False), 4)
    man = lt.manifest()
    assert not any(e.get("deltas") for e in man["files"].values())
    got = {r["path"]: r["content"] for r in lt.read_state().collect()}
    assert (got["p01"], got["p02"], got["p03"]) == ("u900", "u901", "u902")


def test_maintenance_ops_fold_the_buckets_they_rewrite(spark, tmp_root):
    lt = _sparse_lake(
        spark, os.path.join(tmp_root, "l"), retain_tombstones=True
    )
    lt.merge(_changes(spark, [(1, "d", 900), (2, "u", 901)], False), 2)
    want = _rows(lt.read_state())
    purged = lt.purge_tombstones(below_lsn=1000)["purged_buckets"]
    files = lt.manifest()["files"]
    assert purged and not any(files[str(b)].get("deltas") for b in purged)
    assert _rows(lt.read_state()) == want
    assert all(
        not r["_deleted"]
        for r in lt.read_state(logical=False, with_sys=True).collect()
    )
    lt.merge(_changes(spark, [(3, "u", 902)], False), 3)
    lt.rebucket(3)
    assert not any(e.get("deltas") for e in lt.manifest()["files"].values())
    assert {r["path"]: r["content"] for r in lt.read_state().collect()}["p03"] == "u902"


def test_expiry_keeps_referenced_deltas(spark, tmp_root):
    """``expire_snapshots`` keeps every delta a retained manifest lists
    (a data version holding only a delta directory included), so the
    retained versions still read, time travel included."""
    lt = _sparse_lake(spark, os.path.join(tmp_root, "l"))
    for bid, k in enumerate((1, 2, 3), start=2):
        lt.merge(_changes(spark, [(k, "u", 900 + k)], False), bid)
    v_final = lt.current_version()
    want = {v: _rows(lt.read_state(version=v)) for v in (v_final - 1, v_final)}
    res = lt.expire_snapshots(keep_last=2)
    assert res["retained"] == [v_final - 1, v_final]
    for v, rows in want.items():
        assert _rows(lt.read_state(version=v)) == rows
    listed = {
        d["path"]
        for v in res["retained"]
        for e in lt.manifest(v)["files"].values()
        for d in e.get("deltas", ())
    }
    assert len(listed) == 3
    assert all(os.path.isdir(os.path.join(lt.root, p)) for p in listed)


def test_expired_version_raises_while_its_files_survive(spark, tmp_root):
    """With deltas, a retained manifest keeps the base of an expired
    version listed, so its files survive expiry; reading that version
    or a change feed from it still raises."""
    lt = _sparse_lake(spark, os.path.join(tmp_root, "l"))
    v_seed = lt.current_version()
    lt.merge(_changes(spark, [(1, "u", 901)], False), 2)
    lt.merge(_changes(spark, [(2, "u", 902)], False), 3)
    lt.expire_snapshots(keep_last=2)
    base = lt.manifest()["files"]["0"]
    assert base["version"] == v_seed
    assert os.path.isdir(os.path.join(lt.root, base["path"]))
    assert v_seed not in lt.versions()
    for read in (
        lambda: lt.read_state(version=v_seed),
        lambda: lt.table_changes(v_seed),
    ):
        try:
            read()
            raise AssertionError("expired version still readable")
        except FileNotFoundError:
            pass
    assert lt.read_state(version=v_seed + 1).count() == 40


def test_merged_read_scans_deltas_once_per_writer_schema(spark, tmp_root):
    """Plan pin: a read over buckets with deltas scans the base files
    once and the delta files once per schema that wrote them, not once
    per delta."""
    from test_plans import n_scans, plan_of

    def with_deltas():
        return [int(b) for b, e in lt.manifest()["files"].items() if e.get("deltas")]

    lt = _sparse_lake(spark, os.path.join(tmp_root, "l"))
    for bid, k in enumerate((1, 2, 3), start=2):
        lt.merge(_changes(spark, [(k, "u", 900 + k)], False), bid)
    state = lt.read_state(buckets=with_deltas(), logical=False, with_sys=True)
    assert n_scans(plan_of(state)) == 2
    lt.apply_schema_change(ADD_STARS)
    lt.merge(_changes(spark, [(4, "u", 904)], True), 5)
    state = lt.read_state(buckets=with_deltas())
    assert n_scans(plan_of(state)) == 3
    got = {r["path"]: (r["content"], r["stars"]) for r in state.collect()}
    assert [got[f"p0{k}"] for k in (1, 4)] == [("u901", None), ("u904", 904)]
    assert lt.read_state().count() == 40
