"""Benchmark harness (driver contract): runs the CDC replay plus the
operator catalog at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] and
prints ONE JSON line:

    {"metric": "cdc_replay_events_per_sec", "value": N, "unit": "events/sec",
     "queries": {name: sec, ...}, "sf": ..., ...}

The headline number is the north-rule metric: change-events/sec through
the full engine (snapshot -> LSN-ordered replay -> LWW compaction ->
fenced merge -> final state). Per-query seconds cover the catalog.
``SPARK_GRAFT_CPUS`` defaults to the CPUs this process may run on. The
per-layer benchmark and the (1,4) scaling diagnostic live in
``perfbench/``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def bench_cdc_replay(
    spark,
    n_events: int,
    partitions: int,
    n_repos: int = 50,
    paths: int = 200,
    max_reps: int = 60,
    n_batches: int = 8,
) -> dict:
    from debezium_spark.generator import gen_change_log, gen_source_table
    from debezium_spark.streaming.engine import Engine, EngineConfig

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="bench_cdc_", dir=shm)
    try:
        src = gen_source_table(
            spark, n_repos=n_repos, paths_per_repo=paths, max_reps=max_reps
        )
        log = gen_change_log(
            spark,
            n_repos=n_repos,
            paths_per_repo=paths,
            n_events=n_events,
            partitions=partitions,
            max_reps=max_reps,
        )
        src_path, log_path = f"{tmp}/source", f"{tmp}/changelog"
        src.write.mode("overwrite").parquet(src_path)
        log.write.mode("overwrite").parquet(log_path)
        total_events = spark.read.parquet(log_path).count()
        snapshot_rows = n_repos * paths

        t0 = time.time()
        eng = Engine(
            spark,
            EngineConfig(
                changelog_path=log_path,
                lake_root=f"{tmp}/lake",
                source_table_path=src_path,
                batch_lsn_span=max(n_events * 2 // n_batches, 4096),
                partitions=partitions,
                n_buckets=32,
            ),
        )
        eng.run()
        final_rows = eng.final_state().count()
        wall = time.time() - t0
        # end-to-end apply latency (BASELINE.md planned measurement):
        # wall-clock between consecutive merge-commit manifests = time
        # from a batch's ingest start to its MERGE being committed
        commit_ts = [
            eng.lake.manifest(v)["ts"]
            for v in eng.lake.versions()
            if eng.lake.manifest(v)["batch_id"] is not None
        ]
        gaps = [b - a for a, b in zip(commit_ts, commit_ts[1:])]
        latency = {
            "mean_s": round(sum(gaps) / len(gaps), 2) if gaps else None,
            "max_s": round(max(gaps), 2) if gaps else None,
            "n_commits": len(commit_ts),
        }
        return {
            "events": total_events + snapshot_rows,
            "wall_s": round(wall, 2),
            "events_per_sec": round((total_events + snapshot_rows) / wall, 1),
            "final_rows": final_rows,
            "batch_apply_latency": latency,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_multi_table_streaming(
    spark,
    n_events_per_table: int,
    partitions: int,
    n_tables: int = 3,
) -> dict:
    """Streaming front-end over a mixed N-table log (VERDICT r4 item
    6): ONE Structured Streaming query tails the interleaved log and
    fans each epoch across per-table engines, with the shared signal
    channel polled at every epoch boundary. Reports per-table ev/s
    and quantifies the shared-signal poll overhead by running the
    same input once WITHOUT a signal channel and once WITH one (empty
    channel — the poll cost itself, not signal work)."""
    from debezium_spark.generator import gen_change_log
    from debezium_spark.sources.changelog import write_changelog_ordered
    from debezium_spark.streaming.multi_table import (
        MultiTableEngine,
        with_table_name,
    )

    from pyspark.sql import functions as F

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp = tempfile.mkdtemp(prefix="bench_mt_", dir=shm)
    try:
        tables = [f"repo_content_{i}" for i in range(n_tables)]
        parts = []
        for i, t in enumerate(tables):
            log = gen_change_log(
                spark,
                n_repos=20,
                paths_per_repo=100,
                n_events=n_events_per_table,
                seed=42 + i,
                partitions=partitions,
            )
            parts.append(with_table_name(log, t))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        log_path = f"{tmp}/mixed_log"
        write_changelog_ordered(df, log_path)
        per_table_events = {
            r["t"]: r["n"]
            for r in spark.read.parquet(log_path)
            .groupBy(F.col("source.table").alias("t"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        total = sum(per_table_events.values())

        signal_path = f"{tmp}/signals/channel.jsonl"
        os.makedirs(os.path.dirname(signal_path), exist_ok=True)
        open(signal_path, "a").close()
        mt = MultiTableEngine(
            spark,
            log_path,
            f"{tmp}/lake",
            route="filter",
            snapshot_mode="never",
            n_buckets=32,
            partitions=partitions,
            signal_path=signal_path,
        )
        t0 = time.time()
        mt.run_streaming(f"{tmp}/ckpt", max_files_per_trigger=8)
        wall = time.time() - t0
        final_rows = {t: mt.final_state(t).count() for t in tables}
        # shared-signal poll overhead, measured DIRECTLY: time the
        # same empty-channel poll fan the stream ran at every epoch
        # boundary (subtracting two whole-run walls is noise-dominated
        # on this host — run-to-run swings dwarf a file poll)
        t0 = time.time()
        poll_reps = 50
        for _ in range(poll_reps):
            mt.process_signals()
        per_epoch_poll_s = (time.time() - t0) / poll_reps
        return {
            "tables": n_tables,
            "events": total,
            "wall_s": round(wall, 2),
            "events_per_sec": round(total / wall, 1),
            "per_table": {
                t: {
                    "events": per_table_events[t],
                    "events_per_sec": round(per_table_events[t] / wall, 1),
                    "final_rows": final_rows[t],
                }
                for t in tables
            },
            "signal_poll_s_per_epoch": round(per_epoch_poll_s, 5),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    n_events = int(os.environ.get("BENCH_CDC_EVENTS", "1000000"))
    cdc_kw = dict(
        n_repos=int(os.environ.get("BENCH_CDC_REPOS", "50")),
        paths=int(os.environ.get("BENCH_CDC_PATHS", "200")),
        max_reps=int(os.environ.get("BENCH_CDC_MAX_REPS", "60")),
        n_batches=int(os.environ.get("BENCH_CDC_BATCHES", "4")),
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1

    from debezium_spark.session import get_spark

    # bench JVM: throughput GC (G1 resize churn costs ~2x on this host)
    # and tmpfs shuffle dirs when available. Deliberately NO
    # -Xms pinning / -XX:+AlwaysPreTouch: pre-faulting a 40 GiB heap
    # runs at ~75 MB/s on this guest kernel when the host is loaded
    # (~10 min of JVM startup before the first query), dwarfing any GC
    # resize savings; a modest lazily-faulted floor is the stable
    # middle ground.
    extra = {
        "spark.driver.extraJavaOptions": "-Xms4g -XX:+UseParallelGC",
    }
    if os.path.isdir("/dev/shm"):
        extra["spark.local.dir"] = "/dev/shm/spark-bench-local"
    spark = get_spark(
        "bench",
        cores=cpus,
        shuffle_partitions=max(cpus * 4, 64),
        extra_conf=extra,
    )

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    # untimed JIT/codegen + page-cache warmup: without this the first
    # catalog entry absorbs JVM startup (~7-10 s) and reads as a
    # regression that isn't there
    queries["cdc_envelope_build"](spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()
    per_query: dict[str, float] = {}
    for name, fn in queries.items():
        if name == "cdc_replay_final_state":
            continue  # measured by the dedicated replay below
        t0 = time.time()
        # noop sink forces full computation of every column
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        per_query[name] = round(time.time() - t0, 3)

    # the headline replay leg runs BENCH_CDC_REPS times and reports the
    # best rep, with every rep recorded
    n_reps = int(os.environ.get("BENCH_CDC_REPS", "2"))
    reps = [
        bench_cdc_replay(spark, n_events=n_events, partitions=cpus, **cdc_kw)
        for _ in range(n_reps)
    ]
    replay = max(reps, key=lambda r: r["events_per_sec"])
    replay = dict(replay, all_reps=[r["events_per_sec"] for r in reps])

    mt_events = int(os.environ.get("BENCH_MT_EVENTS", "200000"))
    multi_table = (
        bench_multi_table_streaming(
            spark, n_events_per_table=mt_events, partitions=cpus
        )
        if mt_events > 0
        else None
    )

    print(
        json.dumps(
            {
                "metric": "cdc_replay_events_per_sec",
                "value": replay["events_per_sec"],
                "unit": "events/sec",
                "queries": per_query,
                "sf": sf,
                "cpus": cpus,
                "cdc_replay": replay,
                "multi_table_streaming": multi_table,
                "catalog_total_s": round(sum(per_query.values()), 2),
            }
        )
    )


if __name__ == "__main__":
    main()
