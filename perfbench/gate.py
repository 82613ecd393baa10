"""Final-state correctness gate.

The engine's final state (key set, ``commit``, ``lang`` and
``sha256(content)``) must equal :func:`debezium_spark.oracle.fold_final_state`
over the same inputs, and the lake's committed offsets must equal the
log's per-partition max LSN. The fold is fed a narrow projection whose
``content`` is already the sha256 hex digest, so it stays small; the
projection and fold run once per input set, outside every timed region.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.oracle import fold_final_state

Fingerprint = dict[tuple[str, str], tuple[str, str, str]]


@dataclass(frozen=True)
class Expected:
    state: Fingerprint
    offsets: dict[int, int]  # partition -> max LSN of the log


def _image(prefix: str) -> list:
    return [
        F.col(f"{prefix}.repo").alias(f"{prefix}_repo"),
        F.col(f"{prefix}.path").alias(f"{prefix}_path"),
        F.col(f"{prefix}.commit").alias(f"{prefix}_commit"),
        F.col(f"{prefix}.lang").alias(f"{prefix}_lang"),
        F.sha2(F.col(f"{prefix}.content"), 256).alias(f"{prefix}_content"),
    ]


def expected_state(
    spark: SparkSession, source_path: str | None, log_path: str
) -> Expected:
    src_pdf = None
    if source_path is not None:
        src_pdf = (
            spark.read.parquet(source_path)
            .select(
                "repo", "path", "commit", "lang",
                F.sha2("content", 256).alias("content"),
            )
            .toPandas()
        )
    log = (
        spark.read.parquet(log_path)
        .select(
            "partition_id", "lsn", "op", "is_tombstone",
            F.col("key.repo").alias("key_repo"),
            F.col("key.path").alias("key_path"),
            *_image("after"),
        )
        .toPandas()
    )
    fields = ("repo", "path", "commit", "lang", "content")
    after = [
        None if r[0] is None else dict(zip(fields, r))
        for r in zip(*(log[f"after_{f}"] for f in fields))
    ]
    log_pdf = log[["lsn", "op", "is_tombstone"]].assign(
        key=[{"repo": r, "path": p} for r, p in zip(log["key_repo"], log["key_path"])],
        after=after,
    )
    folded = fold_final_state(src_pdf, log_pdf)
    state = {k: (v["commit"], v["lang"], v["content"]) for k, v in folded.items()}
    offsets = {
        int(p): int(m) for p, m in log.groupby("partition_id")["lsn"].max().items()
    }
    return Expected(state, offsets)


def fingerprint(final_state: DataFrame) -> Fingerprint:
    pdf = final_state.select(
        "repo", "path", "commit", "lang", F.sha2("content", 256).alias("h")
    ).toPandas()
    return {
        (r, p): (c, lang, h)
        for r, p, c, lang, h in zip(
            pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"], pdf["h"]
        )
    }


def compare(
    actual: Fingerprint,
    committed_offsets: dict[int, int],
    expected: Expected,
    limit: int = 5,
) -> list[str]:
    """Human-readable mismatches (at most ``limit`` row examples); empty
    when the run is correct. Partitions absent from the log carry only
    snapshot rows, whose LSN is 0."""
    problems = []
    missing = expected.state.keys() - actual.keys()
    extra = actual.keys() - expected.state.keys()
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:limit]}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:limit]}")
    differ = sorted(
        k for k in actual.keys() & expected.state.keys() if actual[k] != expected.state[k]
    )
    for k in differ[:limit]:
        problems.append(f"row {k}: engine {actual[k]} != oracle {expected.state[k]}")
    if len(differ) > limit:
        problems.append(f"... {len(differ) - limit} more differing rows")
    want = {p: expected.offsets.get(p, 0) for p in committed_offsets}
    want.update(expected.offsets)
    if committed_offsets != want:
        problems.append(f"committed offsets {committed_offsets} != log max LSN {want}")
    return problems
