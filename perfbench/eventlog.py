"""Spark event-log reader: jobs, executor CPU and shuffle bytes per job
group, inside a wall-clock window.

Reads Spark 4.1's rolling layout (``eventlog_v2_<app>/events_<n>_<app>``,
written with ``spark.eventLog.compress=false``); a plain single-file log
is read as one part.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

MB = 1024 * 1024
_PART = re.compile(r"^events_(\d+)_")


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolled parts in index order."""
    files = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if _PART.match(p)]
            parts.sort(key=lambda p: int(_PART.match(p).group(1)))
            files.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not name.startswith("."):
            files.append(path)
    return files


def _events(files: list[str]):
    for path in files:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def attribute(files: list[str], t_lo_ms: float, t_hi_ms: float, layer_of_group) -> dict:
    """Per layer ``jobs``, ``executor_cpu_s``, ``shuffle_read_mb`` and
    ``shuffle_write_mb`` for jobs and stages submitted within
    ``[t_lo_ms, t_hi_ms]``. ``layer_of_group`` maps a job-group id
    (``None`` when unset) to a layer name."""
    out = defaultdict(
        lambda: {"jobs": 0, "executor_cpu_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0}
    )
    stage_layer: dict[tuple[int, int], str] = {}
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if t_lo_ms <= ev["Submission Time"] <= t_hi_ms:
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out[layer_of_group(group)]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if t_lo_ms <= info.get("Submission Time", t_lo_ms) <= t_hi_ms:
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_layer[(info["Stage ID"], info["Stage Attempt ID"])] = layer_of_group(group)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            metrics = ev.get("Task Metrics")
            if layer is None or not metrics:
                continue
            row = out[layer]
            row["executor_cpu_s"] += metrics["Executor CPU Time"] / 1e9
            read = metrics["Shuffle Read Metrics"]
            row["shuffle_read_mb"] += (read["Remote Bytes Read"] + read["Local Bytes Read"]) / MB
            row["shuffle_write_mb"] += metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
    return dict(out)
