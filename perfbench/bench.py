"""One benchmark run: set-up, measured pass(es), correctness gate, one
JSON result line on stdout. Progress goes to stderr."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

from debezium_spark.session import get_spark

from perfbench import eventlog, gate, host
from perfbench.ratios import RATIO_NAMES, lake_ratios
from perfbench.stats import median, tail_percentile
from perfbench.trace import DRIVER, GROUP_PREFIX, LAYERS, Tracer, layer_of_group
from perfbench.workloads import WORKLOADS, generate, peak_rss_mb, run_pass, snapshot_lake

SETUP_ROUNDS = 3
LAYER_FIELDS = ("calls", "wall_s", "self_s", "jobs", "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb")
UNITS = {
    "calls": "count", "jobs": "count", "wall_s": "s", "self_s": "s", "executor_cpu_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "peak_rss_mb": "MB",
}
END_TO_END = {"setup_s": "s", "events_per_s": "1/s", "batch_apply_p50_s": "s"}
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True,
                   help="time budget of one measured pass; inputs are sized for it")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None, help="local[N]; default: nproc")
    p.add_argument("--report", default=None, help="also write the full report as JSON here")
    return p.parse_args(argv)


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def trace_metric_names() -> list[str]:
    """Every metric a traced run prints, in print order."""
    names = [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    names += [f"{DRIVER}.{f}" for f in LAYER_FIELDS if f not in ("calls", "wall_s")]
    return names + [
        *RATIO_NAMES, "spark.jobs_per_batch", "trace.wall_s", "tracing_overhead_s", "process.peak_rss_mb",
    ]


def traced_pass_layer(group: str | None) -> str:
    """The traced pass labels every thread the benchmark drives, so a
    job without a perfbench group comes from the streaming query's own
    thread, which runs inside ``Engine.run_streaming``."""
    return layer_of_group(group) if group and group.startswith(GROUP_PREFIX) else "engine"


def layer_metrics(tracer: Tracer, wall_s: float, files, t_lo, t_hi) -> dict[str, float]:
    spans = tracer.summary(wall_s)
    jobs = eventlog.attribute(files, t_lo * 1000, t_hi * 1000, traced_pass_layer)
    out = {}
    for layer in (*LAYERS, DRIVER):
        row = {**spans[layer], **jobs.get(layer, {})}
        for f in LAYER_FIELDS:
            if layer == DRIVER and f in ("calls", "wall_s"):
                continue
            out[f"{layer}.{f}"] = float(row.get(f, 0))
    out["trace.jobs"] = float(sum(r["jobs"] for r in jobs.values()))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    w = WORKLOADS[args.workload]
    work = os.path.join(BENCH_DIR, ".work", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, w, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, w, work) -> int:
    cores = args.cores or host.cores()
    heap_mb = host.driver_heap_mb(host.meminfo_mb()["MemTotal"])
    try:
        host.check_fit(heap_mb, w.disk_mb(args.seconds), work)
    except host.HostTooSmall as e:
        log(f"refusing to start: {e}")
        return 2
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    log(f"{w.name} seed={args.seed} local[{cores}] heap={heap_mb}m trace={args.trace}")

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{w.name}", cores=cores,
        extra_conf=host.session_conf(work, heap_mb, event_dir),
    )
    session_s = time.perf_counter() - t0
    try:
        # set-up rounds: the same inputs generated again, median reported
        rounds = []
        for r in range(SETUP_ROUNDS):
            t = time.perf_counter()
            inputs = generate(spark, w, args.seed, args.seconds, os.path.join(work, f"inputs{r}"))
            rounds.append(time.perf_counter() - t)
        base_lake, snapshot_s = None, None
        if w.snapshot_in_setup:
            base_lake = os.path.join(work, "base_lake")
            snapshot_s = snapshot_lake(spark, w, inputs, base_lake)
        setup_s = session_s + median(rounds) + (snapshot_s or 0.0)
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, rounds {[round(x, 2) for x in rounds]}, "
            f"snapshot {snapshot_s})")

        t = time.perf_counter()
        expected = gate.expected_state(spark, inputs.source, inputs.log)
        log(f"oracle fold {time.perf_counter() - t:.2f}s")

        passes = []
        if args.trace:
            # warm-up, traced, then untraced: both measured passes run on
            # a warm JVM, and the untraced one runs warmest, so
            # tracing_overhead_s errs high rather than low
            passes.append(run_pass(spark, w, args.seconds, inputs, expected, os.path.join(work, "warmup"), base_lake))
            log(f"warm-up pass {passes[-1].wall_s:.2f}s")
            tracer = Tracer(spark.sparkContext)
            t_lo = time.time()
            with tracer.installed():
                traced = run_pass(spark, w, args.seconds, inputs, expected, os.path.join(work, "traced"), base_lake)
            t_hi = time.time()
            passes.append(traced)
        res = run_pass(spark, w, args.seconds, inputs, expected, os.path.join(work, "pass0"), base_lake)
        log(f"pass wall {res.wall_s:.2f}s batches {[round(b, 2) for b in res.batch_s]}")
        passes.append(res)
        report = {
            "setup_s": setup_s,
            "events_per_s": res.events / res.wall_s,
            "snapshot_s": snapshot_s if w.snapshot_in_setup else res.snapshot_s,
            "batch_apply_p50_s": median(res.batch_s),
            "batch_samples": len(res.batch_s),
            "wall_s": res.wall_s,
            "peak_rss_mb": peak_rss_mb(spark),
        }
        tail = tail_percentile(res.batch_s)
        if tail is not None:
            report["batch_apply_tail_s"] = tail[1]
            report["batch_apply_tail_pct"] = tail[0]
        if args.trace:
            ratios = lake_ratios(spark, traced.lake_root)
            stop_session(spark)
            spark = None
            layers = layer_metrics(tracer, traced.wall_s, eventlog.event_files(event_dir), t_lo, t_hi)
            jobs_per_batch = layers.pop("trace.jobs") / traced.batches
            report["trace"] = {
                **layers,
                **ratios,
                "spark.jobs_per_batch": jobs_per_batch,
                "trace.wall_s": traced.wall_s,
                "tracing_overhead_s": traced.wall_s - res.wall_s,
                "process.peak_rss_mb": report["peak_rss_mb"],
            }
            total_cpu = sum(v for k, v in layers.items() if k.endswith(".executor_cpu_s"))
            report["executor_cpu_s"] = total_cpu
            report["events_per_cpu_s"] = traced.events / max(total_cpu, 1e-9)
            self_sum = sum(v for k, v in layers.items() if k.endswith(".self_s"))
            log(f"traced wall {traced.wall_s:.2f}s, layer self + driver remainder {self_sum:.2f}s")
    finally:
        if spark is not None:
            stop_session(spark)

    problems = [p for ps in passes for p in ps.problems]
    for p in problems:
        log(f"GATE: {p}")
    attempted = sum(ps.batches for ps in passes)
    failed = attempted if problems else 0
    report.update(correct=not problems, attempted=attempted, failed=failed,
                  ops_failed_share=failed / attempted)
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    if args.trace:
        trace = report["trace"]
        metrics = {k: {"value": trace[k], "unit": unit_of(k)} for k in trace_metric_names()}
    else:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field in UNITS:
        return UNITS[field]
    return "s" if name.endswith("_s") else "ratio"
