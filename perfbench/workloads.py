"""The three workloads: inputs from ``debezium_spark.generator``, one
closed-loop pass through the engine's public API on ``EngineConfig``
defaults (only fields that describe the input are set)."""

from __future__ import annotations

import os
import resource
import shutil
import time
from dataclasses import dataclass, field

from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.sources.changelog import write_changelog_ordered
from debezium_spark.streaming.engine import Engine, EngineConfig

from perfbench import gate

SNAPSHOT_LSN_BASE = 100
PARTITIONS = 4  # source partitions of the generated log


@dataclass(frozen=True)
class Workload:
    name: str
    n_repos: int
    paths_per_repo: int
    max_reps: int  # content length cap: up to 62 * max_reps chars
    events_per_batch: int
    batch_s_ref: float  # mean seconds per batch on the 4-core reference host
    snapshot_in_setup: bool = False  # sparse: the large state is set-up
    streaming: bool = False  # drive Engine.run_streaming + publisher
    hot_repo_share: float | None = None

    @property
    def n_keys(self) -> int:
        return self.n_repos * self.paths_per_repo

    def n_batches(self, seconds: int) -> int:
        """Batches in one pass: as many as fit ``seconds`` on the
        reference host, at least 3 so the median is not one sample."""
        return max(3, round(seconds / self.batch_s_ref))

    def n_events(self, seconds: int) -> int:
        return self.events_per_batch * self.n_batches(seconds)

    def disk_mb(self, seconds: int) -> int:
        """Rough upper bound on inputs + lake + topic on disk."""
        row_kb = 0.1 + 0.062 * self.max_reps
        rows = 3 * self.n_keys + 3 * self.n_events(seconds)  # set-up rounds, lakes
        return int(rows * row_kb / 1024) + 64


# Why each workload exists: perfbench/README.md. ``dense`` serves the
# (1,4) diagnostic and runs by hand; BENCHMARK.json lists the other two.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="dense",
            n_repos=2,
            paths_per_repo=500,
            max_reps=30,
            events_per_batch=5_000,
            batch_s_ref=4.0,
        ),
        Workload(
            name="sparse",
            n_repos=20,
            paths_per_repo=1000,
            max_reps=8,
            events_per_batch=32,
            batch_s_ref=3.3,
            snapshot_in_setup=True,
        ),
        Workload(
            name="stream-publish",
            n_repos=2,
            paths_per_repo=500,
            max_reps=30,
            events_per_batch=2_000,
            batch_s_ref=4.8,
            streaming=True,
            hot_repo_share=0.7,
        ),
    )
}


@dataclass(frozen=True)
class Inputs:
    source: str
    log: str


def generate(spark, w: Workload, seed: int, seconds: int, out_dir: str) -> Inputs:
    """Write the source table and the change log for ``seed``."""
    src = os.path.join(out_dir, "source")
    log = os.path.join(out_dir, "log")
    gen_source_table(spark, w.n_repos, w.paths_per_repo, max_reps=w.max_reps).write.parquet(src)
    events = gen_change_log(
        spark,
        w.n_repos,
        w.paths_per_repo,
        n_events=w.n_events(seconds),
        seed=seed,
        partitions=PARTITIONS,
        snapshot_lsn_base=SNAPSHOT_LSN_BASE,
        hot_repo_share=w.hot_repo_share,
        max_reps=w.max_reps,
    )
    if w.streaming:
        # one LSN-ordered file per trigger, so each epoch is one batch
        write_changelog_ordered(events, log, n_files=w.n_batches(seconds))
    else:
        events.write.parquet(log)
    return Inputs(src, log)


def engine_config(w: Workload, inputs: Inputs, lake: str, on_batch, topic: str | None) -> EngineConfig:
    # LSNs step by 2 per event (tombstones take the odd slot), so this
    # span holds exactly events_per_batch events
    return EngineConfig(
        changelog_path=inputs.log,
        lake_root=lake,
        source_table_path=inputs.source,
        partitions=PARTITIONS,
        batch_lsn_span=2 * w.events_per_batch,
        batch_callback=on_batch,
        publish_topic_dir=topic,
        publish_format="json" if topic else None,
    )


@dataclass
class PassResult:
    wall_s: float
    snapshot_s: float | None
    batch_s: list[float] = field(default_factory=list)
    events: int = 0
    batches: int = 0  # batches attempted, the snapshot batch included
    problems: list[str] = field(default_factory=list)
    lake_root: str = ""


def snapshot_lake(spark, w: Workload, inputs: Inputs, lake: str) -> float:
    """Build the snapshot state in ``lake``; returns its seconds."""
    t0 = time.perf_counter()
    Engine(spark, engine_config(w, inputs, lake, None, None)).snapshot()
    return time.perf_counter() - t0


def run_pass(
    spark,
    w: Workload,
    seconds: int,
    inputs: Inputs,
    expected: gate.Expected,
    pass_dir: str,
    base_lake: str | None,
) -> PassResult:
    """One measured pass, from ``Engine(...)`` to the final-state
    fingerprint. Batch latency runs from the call into ``stream`` /
    ``run_streaming`` (first batch) or the previous batch's callback."""
    lake = os.path.join(pass_dir, "lake")
    if base_lake is not None:
        shutil.copytree(base_lake, lake)
    topic = os.path.join(pass_dir, "topic") if w.streaming else None
    marks: list[float] = []

    def on_batch(_engine, _result):
        marks.append(time.perf_counter())

    t0 = time.perf_counter()
    engine = Engine(spark, engine_config(w, inputs, lake, on_batch, topic))
    snapshot_s = None
    batches = 0
    if not w.snapshot_in_setup:
        t = time.perf_counter()
        engine.snapshot()
        snapshot_s = time.perf_counter() - t
        batches += 1
    t_stream = time.perf_counter()
    if w.streaming:
        engine.run_streaming(os.path.join(pass_dir, "checkpoint"), max_files_per_trigger=1)
    else:
        engine.stream()
    actual = gate.fingerprint(engine.final_state())
    wall = time.perf_counter() - t0
    batch_s = [b - a for a, b in zip([t_stream, *marks], marks)]
    batches += len(batch_s)
    events = w.n_events(seconds) + (0 if w.snapshot_in_setup else w.n_keys)
    problems = gate.compare(actual, engine.lake.committed_offsets(), expected)
    if len(batch_s) != w.n_batches(seconds):
        problems.append(f"{len(batch_s)} batches applied, {w.n_batches(seconds)} expected")
    if topic is not None:
        published = len([n for n in os.listdir(topic) if n.startswith("v")])
        if published != engine.lake.current_version():
            problems.append(
                f"{published} versions published, lake is at v{engine.lake.current_version()}"
            )
    return PassResult(wall, snapshot_s, batch_s, events, batches, problems, lake)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
