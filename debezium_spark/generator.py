"""Deterministic synthetic source table + change-event log generator.

Plays the role of the upstream database + WAL in the reference: the
source table is the captured Iceberg table of source-code repositories
``(repo, path, commit, lang, content)`` (shape per BASELINE.json
input_hint); the change log is the decoded logical-replication stream a
Debezium connector would produce (op codes per
``debezium-core/src/main/java/io/debezium/data/Envelope.java:34-78``,
monotone per-partition LSNs per
``connector/postgresql/PostgresOffsetContext.java:36-45``, tombstones
per ``pipeline/EventDispatcher.java:496-508``, PK-change updates per
``relational/RelationalChangeRecordEmitter.java:171-185``).

Everything derives from ``spark.range`` + hash arithmetic
(``xxhash64``): fully deterministic w.r.t. seed, independent of
partitioning, and generatable at any scale without driver-side loops —
the same code that makes a 10k-event fixture makes a 10^10-event log.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.envelope import (
    OP_CREATE,
    OP_DELETE,
    OP_UPDATE,
)

LANGS = ["py", "java", "js", "go", "rs", "md"]
TABLE_NAME = "repo_files"
BASE_TS_MS = 1_700_000_000_000


def _h(*cols) -> Column:
    """Deterministic non-negative 64-bit hash of the given columns."""
    return F.abs(F.xxhash64(*[F.lit(c) if isinstance(c, (str, int)) else c for c in cols]))


def repo_col(repo_idx: Column) -> Column:
    return F.format_string("org/project-%04d", repo_idx.cast("int"))


def path_col(path_idx: Column) -> Column:
    suffix = F.element_at(F.array(*[F.lit(s) for s in LANGS]), (path_idx % len(LANGS) + 1).cast("int"))
    return F.format_string(
        "src/%s/file_%05d.%s",
        F.substring(F.sha2(F.concat(F.lit("dir"), path_idx.cast("string")), 256), 1, 2),
        path_idx.cast("int"),
        suffix,
    )


def lang_col(path: Column) -> Column:
    # lang is derived from the path suffix (FIXTURES.md §1).
    return F.element_at(F.split(path, "\\."), -1)


def commit_col(repo: Column, path: Column, version: Column) -> Column:
    # 40-hex deterministic pseudo-sha.
    return F.substring(F.sha2(F.concat_ws("|", repo, path, version.cast("string")), 256), 1, 40)


def content_col(
    repo: Column, path: Column, version: Column, max_reps: int = 60
) -> Column:
    """Deterministic text, ~60–3800 chars (62·max_reps cap), function of
    (repo, path, version). ``max_reps`` trims payload size for
    compute-bound benchmark runs; default matches the test fixtures."""
    unit = F.concat(
        F.substring(F.sha2(F.concat_ws("#", repo, path, version.cast("string")), 256), 1, 61),
        F.lit(" "),
    )
    reps = (1 + _h(repo, path, version, "len") % max_reps).cast("int")
    return F.repeat(unit, reps)


def _image(repo: Column, path: Column, version: Column, max_reps: int = 60):
    content = content_col(repo, path, version, max_reps)
    return F.struct(
        repo.alias("repo"),
        path.alias("path"),
        commit_col(repo, path, version).alias("commit"),
        lang_col(path).alias("lang"),
        content.alias("content"),
        F.length(content).cast("long").alias("size_bytes"),
    )


def gen_source_table(
    spark: SparkSession,
    n_repos: int = 10,
    paths_per_repo: int = 100,
    max_reps: int = 60,
) -> DataFrame:
    """The captured source table (snapshot input), PK = (repo, path)."""
    df = spark.range(n_repos * paths_per_repo)
    repo_idx = F.expr(f"id div {paths_per_repo}")
    path_idx = F.col("id") % paths_per_repo
    repo = repo_col(repo_idx)
    path = path_col(path_idx)
    img = _image(repo, path, F.lit(-1).cast("long"), max_reps)
    return df.select(img.alias("r")).select("r.*").drop("size_bytes")


def gen_change_log(
    spark: SparkSession,
    n_repos: int = 10,
    paths_per_repo: int = 100,
    n_events: int = 10_000,
    seed: int = 42,
    partitions: int = 4,
    snapshot_lsn_base: int | None = None,
    hot_repo_share: float | None = None,
    schema_change_lsns: dict[int, int] | None = None,
    max_reps: int = 60,
) -> DataFrame:
    """Streamed change events (c/u/d + tombstones + PK-change updates).

    ``hot_repo_share``: if set (e.g. 0.7), that fraction of events hits
    repo 0 — the skew fixture (FIXTURES.md §5 skew_log).
    ``schema_change_lsns``: {schema_version: first_lsn_of_version} for
    the evolution fixture; events get stamped with the schema version
    in force at their LSN.
    """
    n_keys = n_repos * paths_per_repo
    base = snapshot_lsn_base if snapshot_lsn_base is not None else n_keys
    df = spark.range(n_events).withColumnRenamed("id", "eid")

    kid_uniform = _h(F.col("eid"), seed, "key") % n_keys
    if hot_repo_share is not None:
        hot = (_h(F.col("eid"), seed, "hot") % 1000) < int(hot_repo_share * 1000)
        kid = F.when(hot, _h(F.col("eid"), seed, "hotpath") % paths_per_repo).otherwise(
            kid_uniform
        )
    else:
        kid = kid_uniform

    opb = _h(F.col("eid"), seed, "op") % 100
    op = (
        F.when(opb < 60, F.lit(OP_UPDATE))
        .when(opb < 85, F.lit(OP_CREATE))
        .when(opb < 99, F.lit(OP_DELETE))
        .otherwise(F.lit(OP_UPDATE))  # PK-change update (key moves)
    )
    is_pk_change = opb >= 99

    df = (
        df.withColumn("kid", kid)
        .withColumn("op", op)
        .withColumn("is_pk_change", is_pk_change)
    )
    repo_idx = F.expr(f"kid div {paths_per_repo}")
    path_idx = F.col("kid") % paths_per_repo
    repo = repo_col(repo_idx)
    path = path_col(path_idx)

    # PK-change target key (different kid, FIXTURES.md §5 pk_change_log).
    kid2 = _h(F.col("eid"), seed, "newkey") % n_keys
    repo2 = repo_col(F.expr(f"kid2 div {paths_per_repo}"))
    path2 = path_col(F.col("kid2") % paths_per_repo)
    df = df.withColumn("kid2", kid2)

    version = F.col("eid")
    prev_version = -(F.col("eid") + 2)  # synthetic "previous" image version
    lsn = (F.lit(base) + F.col("eid") * 2).cast("long")

    after_key_repo = F.when(F.col("is_pk_change"), repo2).otherwise(repo)
    after_key_path = F.when(F.col("is_pk_change"), path2).otherwise(path)

    events = df.select(
        F.pmod(F.xxhash64(repo), partitions).cast("int").alias("partition_id"),
        lsn.alias("lsn"),
        F.col("op"),
        F.struct(repo.alias("repo"), path.alias("path")).alias("key"),
        F.when(
            F.col("op").isin(OP_UPDATE, OP_DELETE), _image(repo, path, prev_version, max_reps)
        ).alias("before"),
        F.when(
            F.col("op") != OP_DELETE, _image(after_key_repo, after_key_path, version, max_reps)
        ).alias("after"),
        F.struct(
            (F.lit(BASE_TS_MS) + lsn).alias("ts_ms"),
            F.lit("false").alias("snapshot"),
            F.expr("eid div 10").cast("long").alias("txId"),
            F.lit(TABLE_NAME).alias("table"),
        ).alias("source"),
        (F.lit(BASE_TS_MS) + lsn).alias("ts_ms"),
        F.lit(False).alias("is_tombstone"),
    )

    # Tombstone companions for deletes: same key, null value side, lsn+1
    # (EventDispatcher.java:496-508; tombstones.on.delete defaults true,
    # config/CommonConnectorConfig.java:479-486).
    tombstones = (
        events.filter(F.col("op") == OP_DELETE)
        .select(
            "partition_id",
            (F.col("lsn") + 1).alias("lsn"),
            F.lit(None).cast("string").alias("op"),
            "key",
            F.lit(None).cast(events.schema["before"].dataType).alias("before"),
            F.lit(None).cast(events.schema["after"].dataType).alias("after"),
            "source",
            "ts_ms",
            F.lit(True).alias("is_tombstone"),
        )
    )
    out = events.unionByName(tombstones)

    # Stamp schema_version in force at each LSN.
    sv = F.lit(0)
    for v, first_lsn in sorted((schema_change_lsns or {}).items()):
        sv = F.when(F.col("lsn") >= first_lsn, F.lit(v)).otherwise(sv)
    out = out.withColumn("schema_version", sv.cast("int"))
    out = out.withColumn("message", F.lit(None).cast("string"))
    return out.select(
        "partition_id", "lsn", "op", "key", "before", "after",
        "source", "ts_ms", "schema_version", "is_tombstone", "message",
    )


def _control_envelope(
    spark: SparkSession, rows: list[tuple]
) -> DataFrame:
    """Envelope rows for control events (op='m'/'t') — null images,
    synthetic key, optional message payload. ``rows``: list of
    (lsn, op, schema_version, message_or_None)."""
    from debezium_spark.envelope import EVENT_SCHEMA

    data = [
        {
            "partition_id": 0,
            "lsn": int(lsn),
            "op": op,
            "key": {"repo": f"_{op}", "path": str(lsn)},
            "before": None,
            "after": None,
            "source": {
                "ts_ms": BASE_TS_MS + int(lsn),
                "snapshot": "false",
                "txId": -1,
                "table": TABLE_NAME,
            },
            "ts_ms": BASE_TS_MS + int(lsn),
            "schema_version": int(sv),
            "is_tombstone": False,
            "message": msg,
        }
        for lsn, op, sv, msg in rows
    ]
    return spark.createDataFrame(data, EVENT_SCHEMA)


def schema_change_envelopes(
    spark: SparkSession, changes: list[dict]
) -> DataFrame:
    """In-stream schema-change events: op='m' envelope rows whose
    ``message`` carries the TableChanges-style JSON — union these into
    the change log so the engine dispatches DDL from the stream itself
    (EventDispatcher.java:371-407; SchemaHistory.java:34-101 replay
    rebuilds the schema from the log on a cold restart)."""
    import json

    return _control_envelope(
        spark,
        [
            (
                c["lsn"],
                "m",
                c["schema_version"],
                json.dumps({**c, "table": TABLE_NAME}),
            )
            for c in changes
        ],
    )


def truncate_envelopes(
    spark: SparkSession, lsns: list[int], schema_version: int = 0
) -> DataFrame:
    """TRUNCATE events (op='t', no image — data/Envelope.java:319): the
    table effect is delete-every-row-written-below-this-LSN."""
    return _control_envelope(
        spark, [(lsn, "t", schema_version, None) for lsn in lsns]
    )
