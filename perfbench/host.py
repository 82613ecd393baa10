"""Session settings derived from the host: cores from the CPU affinity
mask (what ``nproc`` prints), driver heap from ``MemTotal``, and a fit
check that refuses to start when heap, inputs and lake cannot fit."""

from __future__ import annotations

import os
import shutil

# JVM off-heap (metaspace, code cache, thread stacks, netty) plus the
# Python driver with its pandas oracle frames, on top of the heap.
NON_HEAP_MB = 1536
MAX_HEAP_MB = 4096
MIN_HEAP_MB = 1024


class HostTooSmall(RuntimeError):
    """The host cannot hold the session and the workload's files."""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            name, rest = line.split(":", 1)
            out[name] = int(rest.split()[0]) // 1024  # kB -> MB
    return out


def driver_heap_mb(mem_total_mb: int) -> int:
    """A quarter of physical memory, capped: the largest workload's
    state is tens of MB, and a bigger heap only delays GC."""
    return max(MIN_HEAP_MB, min(MAX_HEAP_MB, mem_total_mb // 4))


def check_fit(heap_mb: int, disk_need_mb: int, work_dir: str) -> None:
    mem = meminfo_mb()
    need = heap_mb + NON_HEAP_MB
    if need > mem["MemAvailable"]:
        raise HostTooSmall(
            f"driver heap {heap_mb} MB + {NON_HEAP_MB} MB non-heap needs "
            f"{need} MB, but only {mem['MemAvailable']} MB is available"
        )
    free_mb = shutil.disk_usage(work_dir).free // (1024 * 1024)
    if 2 * disk_need_mb > free_mb:
        raise HostTooSmall(
            f"inputs and lake need about {disk_need_mb} MB (x2 headroom) "
            f"under {work_dir}, but only {free_mb} MB is free"
        )


def session_conf(
    work_dir: str, heap_mb: int, event_log_dir: str | None = None
) -> dict[str, str]:
    """Spark settings for one benchmark process. Every scratch path
    Spark writes (block manager, JVM tmpdir, warehouse) lives under
    ``work_dir``. The event log is on only for traced runs."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # no hsperfdata file: the JVM would write it to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            }
        )
    return conf
