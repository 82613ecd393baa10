"""LWW election (``compaction.compact``): the max-LSN event per key
wins; a delete winner survives as a tombstone under retention."""

from __future__ import annotations

from pyspark.sql import functions as F

from debezium_spark.generator import gen_change_log
from debezium_spark.operators.compaction import compact
from debezium_spark.operators.transforms import (
    drop_tombstones,
    normalize_target_key,
    pk_change_split,
)


def _prep(spark, **kw):
    log = gen_change_log(spark, 4, 10, **kw)
    ev = normalize_target_key(pk_change_split(drop_tombstones(log)))
    return ev.select(
        F.col("key.repo").alias("repo"),
        F.col("key.path").alias("path"),
        "op",
        "lsn",
        "after",
    )


def _as_map(df):
    return {
        (r["repo"], r["path"]): (r["_lsn"], r.get("_deleted"), r["after"])
        for r in (x.asDict(recursive=True) for x in df.collect())
    }


def test_winner_is_max_lsn(spark):
    ev = _prep(spark, n_events=1000, seed=1)
    pdf = ev.select("repo", "path", "lsn", "op").toPandas()
    expected = {
        (r.repo, r.path): r.lsn for r in pdf.sort_values("lsn").itertuples()
    }
    got = _as_map(compact(ev, retain_tombstones=True))
    assert {k: v[0] for k, v in got.items()} == expected


def test_delete_winner_survives_as_d(spark):
    ev = _prep(spark, n_events=1500, seed=3)
    got = _as_map(compact(ev, retain_tombstones=True))
    d_rows = [(k, v) for k, v in got.items() if v[1]]
    assert d_rows, "fixture must contain keys whose last event is a delete"
    for _, (_, _, after) in d_rows:
        assert after is None
    assert set(_as_map(compact(ev))) == set(got) - {k for k, _ in d_rows}

