"""Last-writer-wins per-key election — the engine's one apply kernel.

Reference semantics: within one source partition, events are totally
ordered by LSN (single-threaded coordinator,
``pipeline/ChangeEventSourceCoordinator.java:106``; FIFO queue,
``connector/base/ChangeEventQueue.java:36-106``), and a key never spans
partitions, so the newest event per key (max LSN) determines the final
row — exactly what Kafka log compaction would leave. After Spark's
parallel shuffle this order must be *re-derived from LSN inside each
key group* — never from arrival order (SURVEY §4).

:func:`compact` is a merge-as-compaction: table state rows re-enter as
events at their stored ``_lsn``, are unioned with a batch's raw change
rows, and one ``groupBy(repo, path).agg(max_by(...))`` elects the
winner per table PK. The aggregate has **map-side partial
aggregation** — each task reduces its slice of a hot key before the
exchange, so even a million-update key costs O(1) post-shuffle memory
(whole-stage Catalyst, no Python, no salting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from debezium_spark.expr_cache import built_once

KEY = ("repo", "path")


def compact(
    changes: DataFrame,
    state: DataFrame | None = None,
    retain_tombstones: bool = False,
) -> DataFrame:
    """Elect one winner per ``(repo, path)`` from ``changes`` ∪ ``state``.

    ``changes``: ``repo``, ``path``, ``op``, ``lsn`` + payload columns,
    any number of rows per key; ``op == 'd'`` deletes the key, any
    other op upserts it. ``state`` (optional): ``repo``, ``path``, the
    same payload columns, ``_lsn`` and, under retention, ``_deleted``.
    A state row enters as an ``'u'`` event (``'d'`` for a retained
    tombstone) and wins LSN ties — the strict ``changes.lsn > _lsn``
    guard, so an incremental-snapshot chunk stamped at the watermark
    never replaces a row whose newest update IS the watermark LSN.

    Output: ``repo``, ``path``, payload, ``_lsn`` — delete winners are
    dropped, or with ``retain_tombstones`` kept as ``_deleted`` rows
    with NULL payload (a tombstone never leaks stale content).

    Custom ``key_columns`` need no second pass: electing at the PK
    already collapses custom-key winners, and ``pk_change_split``
    stamps the CREATE half ``lsn + 1`` so the two halves never tie.
    """
    payload = tuple(c for c in changes.columns if c not in (*KEY, "op", "lsn"))
    has_state = state is not None
    e = _election(
        payload,
        has_state,
        has_state and "_deleted" in state.columns,
        retain_tombstones,
    )
    rows = changes.select(*e["changes"])
    if has_state:
        rows = state.select(*e["state"]).unionByName(rows)
    won = rows.groupBy(*e["key"]).agg(e["winner"])
    if not retain_tombstones:
        won = won.filter(e["live"])
    return won.select(*e["output"])


def elect_sources(rows: DataFrame, retain_tombstones: bool = False) -> DataFrame:
    """The state that a base and its deltas stand for (merge-on-read).

    ``rows``: ``repo``, ``path``, payload, ``_lsn``, ``_deleted``,
    ``_src``, the source's position in commit order (the base first,
    then the deltas), and ``_tombstones``, whether the merge that wrote
    the source retained its deletes. A source holds at most one row per
    key, as :func:`compact` leaves it. The result equals applying the
    sources one by one with :func:`compact`'s rule:

    - a row is dropped when a LATER source holds a delete of its key at
      a higher LSN (without retention a delete removes the state, so a
      late lower-LSN event after it revives the key, exactly as a
      merge would have);
    - a delete is a candidate only if its source retained it and
      ``retain_tombstones`` is set;
    - the highest LSN wins, ties going to the earlier source (state
      wins ties).

    Output as :func:`compact`'s: ``repo``, ``path``, payload, ``_lsn``
    and, with retention, ``_deleted``.
    """
    payload = tuple(
        c
        for c in rows.columns
        if c not in (*KEY, "_lsn", "_deleted", "_src", "_tombstones")
    )
    e = _source_election(payload, retain_tombstones)
    return (
        rows.withColumn("_later_delete", e["later_delete"])
        .filter(e["candidate"])
        .groupBy(*e["key"])
        .agg(e["winner"])
        .select(*e["output"])
    )


@built_once
def _source_election(payload: tuple[str, ...], retain_tombstones: bool) -> dict:
    key = [F.col(k) for k in KEY]
    later = (
        Window.partitionBy(*key)
        .orderBy(F.col("_src").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    undropped = F.coalesce(F.col("_lsn") >= F.col("_later_delete"), F.lit(True))
    live = ~F.col("_deleted")
    if retain_tombstones:
        live = live | F.col("_tombstones")
    return {
        "key": key,
        # the highest delete LSN among the key's later sources
        "later_delete": F.max(F.when(F.col("_deleted"), F.col("_lsn"))).over(later),
        "candidate": undropped & live,
        "winner": F.max_by(
            F.struct(*payload, "_lsn", "_deleted"),
            F.struct("_lsn", (-F.col("_src")).alias("_first")),
        ).alias("w"),
        "output": [
            *key,
            *[F.col(f"w.{p}").alias(p) for p in payload],
            F.col("w._lsn").alias("_lsn"),
            *([F.col("w._deleted").alias("_deleted")] if retain_tombstones else []),
        ],
    }


@built_once
def _election(
    payload: tuple[str, ...],
    has_state: bool,
    state_has_deleted: bool,
    retain_tombstones: bool,
) -> dict:
    """The election's expressions: depend only on the payload columns,
    whether (and how) state enters, and retention. Column names are
    built as Columns too: a name in a select list costs a round trip."""
    key = [F.col(k) for k in KEY]
    cols = [F.col(p) for p in payload]
    e = {
        "key": key,
        "changes": [*key, F.col("op"), F.col("lsn"), F.lit(0).alias("src"), *cols],
    }
    if has_state:
        dead = (
            F.coalesce(F.col("_deleted"), F.lit(False))
            if state_has_deleted
            else F.lit(False)
        )
        e["state"] = [
            *key,
            F.when(dead, "d").otherwise("u").alias("op"),
            F.col("_lsn").alias("lsn"),
            F.lit(1).alias("src"),
            *cols,
        ]
    e["winner"] = F.max_by(
        F.struct("op", "lsn", *payload), F.struct("lsn", "src")
    ).alias("w")
    deleted = F.col("w.op") == "d"
    e["live"] = ~deleted
    e["output"] = [
        *key,
        *[F.when(~deleted, F.col(f"w.{p}")).alias(p) for p in payload],
        F.col("w.lsn").cast("bigint").alias("_lsn"),
        *([deleted.alias("_deleted")] if retain_tombstones else []),
    ]
    return e
