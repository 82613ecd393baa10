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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    from debezium_spark.lake import _ident  # lake imports this module

    payload = [_ident(c) for c in changes.columns if c not in (*KEY, "op", "lsn")]
    rows = changes.selectExpr(*KEY, "op", "lsn", "0 AS src", *payload)
    if state is not None:
        dead = "coalesce(_deleted, false)" if "_deleted" in state.columns else "false"
        rows = state.selectExpr(
            *KEY,
            f"CASE WHEN {dead} THEN 'd' ELSE 'u' END AS op",
            "_lsn AS lsn",
            "1 AS src",
            *payload,
        ).unionByName(rows)
    deleted = "w.op = 'd'"
    won = rows.groupBy(*KEY).agg(
        F.expr(f"max_by(struct({', '.join(['op', 'lsn', *payload])}), struct(lsn, src)) AS w")
    )
    if not retain_tombstones:
        won = won.filter(f"NOT ({deleted})")
    return won.selectExpr(
        *KEY,
        *[f"CASE WHEN NOT ({deleted}) THEN w.{p} END AS {p}" for p in payload],
        "CAST(w.lsn AS BIGINT) AS _lsn",
        *([f"{deleted} AS _deleted"] if retain_tombstones else []),
    )


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
    from debezium_spark.lake import _ident  # lake imports this module

    payload = [
        _ident(c)
        for c in rows.columns
        if c not in (*KEY, "_lsn", "_deleted", "_src", "_tombstones")
    ]
    live = "(NOT _deleted OR _tombstones)" if retain_tombstones else "NOT _deleted"
    return (
        # the highest delete LSN among the key's later sources
        rows.withColumn(
            "_later_delete",
            F.expr(
                "max(CASE WHEN _deleted THEN _lsn END) OVER (PARTITION BY repo, path "
                "ORDER BY _src DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
            ),
        )
        .filter(f"coalesce(_lsn >= _later_delete, true) AND {live}")
        .groupBy(*KEY)
        .agg(
            F.expr(
                f"max_by(struct({', '.join([*payload, '_lsn', '_deleted'])}), "
                "struct(_lsn, -_src AS _first)) AS w"
            )
        )
        .selectExpr(
            *KEY,
            *[f"w.{p} AS {p}" for p in payload],
            "w._lsn AS _lsn",
            *(["w._deleted AS _deleted"] if retain_tombstones else []),
        )
    )
