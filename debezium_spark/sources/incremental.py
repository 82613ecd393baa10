"""Incremental (DBLog-style) snapshot — chunked PK-ordered re-read
interleaved with streaming.

Reference: ``pipeline/source/snapshot/incremental/
AbstractIncrementalSnapshotChangeEventSource.java`` — open a low
watermark, read a PK-ordered chunk (``WHERE pk > last ORDER BY pk
LIMIT chunk_size``, lexicographic multi-column bound :257-290), close a
high watermark; any event streamed inside the window for a chunk key
deduplicates the buffered chunk row (:197-206 ``window.remove(key)``).
Default chunk size 1024 (``config/CommonConnectorConfig.java:553-560``).

Spark re-expression: chunk rows are emitted as READ envelopes stamped
with ``lsn = low watermark`` (the committed offset frontier at window
open). The LWW / LSN-guarded merge then reproduces the dedup exactly:
a streamed event carries a higher LSN than the watermark, so it beats
the chunk row for the same key; a chunk row for an untouched key
back-fills it. No buffer data structure is needed — the watermark fence
IS the dedup (SURVEY §2.1).

Chunk pagination: the reference re-runs an indexed ``SELECT ... LIMIT``
per chunk; the naive parquet translation (``orderBy().limit()`` per
chunk) is a TakeOrderedAndProject over the full remaining scan —
O(table) PER CHUNK, quadratic overall. Instead :func:`plan_chunk_bounds`
computes all chunk key-range boundaries in ONE sampling-based job
(``repartitionByRange`` = Spark's RangePartitioner, no global sort),
and each chunk is then a pruned range scan
(:func:`read_chunk_range` — the predicate reaches the parquet reader's
min/max skipping; on Iceberg a sort-ordered table makes it a metadata-
pruned scan). Watermark semantics are unchanged — they hold for any
chunking of the key space.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from debezium_spark.envelope import SNAPSHOT_INCREMENTAL
from debezium_spark.generator import TABLE_NAME
from debezium_spark.sources.snapshot import read_envelopes

PK_COLS = ("repo", "path")


def after_key(
    last: tuple | None, key_cols: tuple[str, ...] = PK_COLS
) -> Column:
    """Lexicographic multi-column lower bound over ``key_cols``
    (AbstractIncrementalSnapshotChangeEventSource.java:257-290):
    ``(k1,k2,..) > (l1,l2,..)``. Works for any orderable column types;
    with a single surrogate key it degenerates to ``k > l``."""
    if last is None:
        return F.lit(True)
    cond = F.lit(False)
    for i in range(len(key_cols) - 1, -1, -1):
        eq_prefix = F.lit(True)
        for j in range(i):
            eq_prefix = eq_prefix & (F.col(key_cols[j]) == F.lit(last[j]))
        cond = cond | (eq_prefix & (F.col(key_cols[i]) > F.lit(last[i])))
    return cond


def plan_chunk_bounds(
    source: DataFrame,
    chunk_size: int,
    key_cols: tuple[str, ...] = PK_COLS,
) -> list[tuple]:
    """Upper key bound (inclusive) of each chunk, computed in one job.

    ``repartitionByRange(n_chunks, *key_cols)`` range-partitions by a
    sampled key distribution (RangePartitioner — no global sort); each
    partition's max key is a chunk boundary. Chunk sizes are therefore
    approximate (sampling), which the watermark semantics don't care
    about. Cost: one count + one sample-plan + one narrow max-per-
    partition pass — O(table) TOTAL, not per chunk.

    ``key_cols`` defaults to the PK; an execute-snapshot signal's
    ``surrogate-key`` (ExecuteSnapshot.java:62,137-139) substitutes any
    single orderable column. Bounds form contiguous half-open intervals
    covering the whole key space, so a NON-UNIQUE surrogate key is
    safe: equal values land in exactly one ``(lo, hi]`` chunk — never
    split, never duplicated.

    NULL handling: rows with a NULL in any key column sort below every
    value (NULLS FIRST) and belong to the FIRST chunk —
    :func:`read_chunk_range` folds them into its ``lo=None`` scan, so
    a nullable surrogate column loses no rows. Bounds are planned over
    the non-null subset only (a NULL bound would be meaningless as a
    range endpoint); an all-null-keyed source yields the single
    sentinel bound ``None`` (= the null-only first chunk).
    """
    n = source.count()
    if n == 0:
        return []
    nn = source.filter(~_any_key_null(key_cols))
    n_chunks = max((n + chunk_size - 1) // chunk_size, 1)
    rows = (
        nn.select(*key_cols)
        .repartitionByRange(n_chunks, *key_cols)
        .select(
            F.spark_partition_id().alias("pid"),
            F.struct(*key_cols).alias("k"),
        )
        .groupBy("pid")
        .agg(F.max("k").alias("hi"))
        .orderBy("pid")
        .collect()
    )
    bounds = [tuple(r["hi"][c] for c in key_cols) for r in rows]
    if not bounds:
        # non-empty source, every key NULL: one null-only chunk
        return [None]
    return bounds


def _any_key_null(key_cols: tuple[str, ...]) -> Column:
    cond = F.lit(False)
    for k in key_cols:
        cond = cond | F.col(k).isNull()
    return cond


def read_chunk_range(
    source: DataFrame,
    lo: tuple | None,
    hi: tuple | None,
    key_cols: tuple[str, ...] = PK_COLS,
) -> DataFrame:
    """Chunk = keys in ``(lo, hi]`` — a pruned range scan, no sort.

    The FIRST chunk (``lo=None``) additionally owns every row with a
    NULL key column (NULLS FIRST; a NULL comparison would otherwise
    silently exclude the row from every chunk). ``hi=None`` is the
    all-null sentinel bound from :func:`plan_chunk_bounds`."""
    null_key = _any_key_null(key_cols)
    if hi is None:
        return source.filter(null_key)
    upper = F.lit(False)
    for i in range(len(key_cols)):
        eq_prefix = F.lit(True)
        for j in range(i):
            eq_prefix = eq_prefix & (F.col(key_cols[j]) == F.lit(hi[j]))
        last = i == len(key_cols) - 1
        cmp = (
            F.col(key_cols[i]) <= F.lit(hi[i])
            if last
            else F.col(key_cols[i]) < F.lit(hi[i])
        )
        upper = upper | (eq_prefix & cmp)
    in_range = after_key(lo, key_cols) & upper
    if lo is None:
        return source.filter(in_range | null_key)
    return source.filter(in_range & ~null_key)


def chunk_envelopes(
    chunk: DataFrame,
    watermark_lsn: int,
    partitions: int = 4,
    table: str = TABLE_NAME,
    schema_version: int = 0,
) -> DataFrame:
    """READ envelopes for one chunk, stamped at the low watermark LSN —
    the LWW merge makes 'streamed event ≥ watermark beats chunk row'
    fall out (the reference's window dedup).

    The after image carries every envelope row field the chunk source
    provides (schema-evolved columns included — a back-fill must not
    revert them to NULL); absent fields are NULL. ``schema_version``
    should be the engine's current version so evolved columns pass the
    mixed-schema gate."""
    return read_envelopes(
        chunk,
        watermark_lsn,
        F.lit(SNAPSHOT_INCREMENTAL),
        partitions,
        table,
        schema_version,
    )
