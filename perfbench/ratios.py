"""Work ratios read back from a lake's commit manifests and data files
after a pass. Only stream-phase commits count: the snapshot commit
writes every row once by definition."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from debezium_spark.lake import LakeTable

RATIO_NAMES = (
    "lake.write_amplification",
    "lake.buckets_touched_share",
    "operators.compaction.reduction",
)


def _rows(bucket_dir: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(bucket_dir, "*.parquet"))
    )


def lake_ratios(spark, lake_root: str) -> dict[str, float]:
    """``lake.write_amplification`` (rows rewritten / changed rows),
    ``lake.buckets_touched_share`` (buckets rewritten per commit /
    buckets) and ``operators.compaction.reduction`` (events in /
    changes out)."""
    lake = LakeTable(spark, lake_root)
    commits = rewritten_rows = buckets = changes = events = 0
    n_buckets = lake.manifest()["n_buckets"]
    for v in lake.versions():
        m = lake.manifest(v)
        if m.get("metrics", {}).get("phase") != "stream":
            continue
        commits += 1
        touched = [e["path"] for e in m["files"].values() if e["version"] == v]
        buckets += len(touched)
        rewritten_rows += sum(_rows(os.path.join(lake_root, p)) for p in touched)
        changes += m["metrics"]["changes"]
        events += m["metrics"]["events"]
    return {
        "lake.write_amplification": rewritten_rows / max(changes, 1),
        "lake.buckets_touched_share": buckets / max(commits * n_buckets, 1),
        "operators.compaction.reduction": events / max(changes, 1),
    }
