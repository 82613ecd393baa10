"""Scaling-efficiency evidence for the north rule: run the CDC replay
at two parallelism levels (local[8] ≙ N executors, local[32] ≙ 4N) on
the SAME input and report throughput at both plus efficiency
(events/s @4N) / (4 × events/s @N).

Methodology (summarized in BASELINE.md):
- ONE shared input (generated once at 32 cores on tmpfs) replayed by
  every probe — identical bytes at both levels.
- Batches sized LARGE (default 48M events over 2 micro-batches) so
  per-batch parallel work dwarfs the ~2-3 s serial driver time per
  commit — the regime of a 10^10-event replay on a real cluster, where
  one micro-batch is 10^8+ events.
- A small warmup replay runs first in each probe JVM so whole-stage
  codegen/JIT compilation is excluded from the timed window (JMH-style).
- Probes interleave (8, 32, 8, 32) and best-of-N is reported: the
  sandbox host has multi-tenant noise up to several ×; best-of
  approximates the uncontended machine both levels deserve equally.

The core pair defaults to (8, 32); pass e.g. ``--pair 2 8`` to
measure N vs 4N in the host's linear region — this single-box sandbox
has a shared-guest-kernel shuffle ceiling (~0.8-1.1M events/s
regardless of cores, see BENCH_KERNEL_SCALING.json) that a real
multi-host cluster does not, so the smaller pair is the more faithful
stand-in for N vs 4N executors while the (8,32) pair documents the
box's ceiling.

Usage: python tools/bench_scaling.py [events] [repeats] [--pair LO HI]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_REPOS, PATHS, MAX_REPS = 1000, 200, 4  # 200k keys, ~150B payloads

GEN = r"""
import sys
sys.path.insert(0, %(repo)r)
from debezium_spark.session import get_spark
from debezium_spark.generator import gen_change_log, gen_source_table
import os as _os
spark = get_spark("scalegen", cores=32, shuffle_partitions=32,
    extra_conf={"spark.local.dir": "/dev/shm/spark-local-gen"} if _os.path.isdir("/dev/shm") else None)
gen_source_table(spark, %(n_repos)d, %(paths)d, max_reps=%(max_reps)d
    ).write.mode("overwrite").parquet(%(inp)r + "/src")
gen_change_log(spark, %(n_repos)d, %(paths)d, n_events=%(events)d,
    partitions=32, max_reps=%(max_reps)d
    ).write.mode("overwrite").parquet(%(inp)r + "/log")
print("GENOK", spark.read.parquet(%(inp)r + "/log").count())
"""

PROBE = r"""
import json, sys, time, tempfile
sys.path.insert(0, %(repo)r)
cores = %(cores)d
from debezium_spark.session import get_spark
from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.streaming.engine import Engine, EngineConfig
import os as _os
_conf = {
    # pinned heap + pretouch + throughput GC: G1 heap resize/uncommit
    # churn showed up as 38%% guest-kernel sys time at 32 threads
    "spark.driver.extraJavaOptions":
        "-Xms40g -XX:+AlwaysPreTouch -XX:+UseParallelGC",
}
if _os.path.isdir("/dev/shm"):
    _conf["spark.local.dir"] = f"/dev/shm/spark-local-{cores}"
# shuffle partitions fixed ABOVE both core counts and sized so each
# sort fits execution memory at 32 concurrent tasks (no spill skew
# between the two levels)
spark = get_spark(f"scale{cores}", cores=cores, shuffle_partitions=128,
    extra_conf=_conf)
tmp = tempfile.mkdtemp(prefix=f"scale{cores}_")

# JIT/codegen warmup on a miniature replay of the same plan shapes
gen_source_table(spark, 4, 50, max_reps=2).write.parquet(f"{tmp}/wsrc")
gen_change_log(spark, 4, 50, n_events=5000, partitions=32, max_reps=2
    ).write.parquet(f"{tmp}/wlog")
Engine(spark, EngineConfig(changelog_path=f"{tmp}/wlog",
    lake_root=f"{tmp}/wlake", source_table_path=f"{tmp}/wsrc",
    batch_lsn_span=6000, partitions=32)).run()

inp = %(inp)r
total = spark.read.parquet(inp + "/log").count()
eng = Engine(spark, EngineConfig(
    changelog_path=inp + "/log", lake_root=f"{tmp}/lake",
    source_table_path=inp + "/src",
    batch_lsn_span=%(events)d * 2 // 2 + 10, partitions=32))
def _cpu():
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))
c0 = _cpu()
t0 = time.time(); eng.snapshot(); t_snap = time.time() - t0
t0 = time.time(); eng.stream(); t_stream = time.time() - t0
c1 = _cpu(); d = [y - x for x, y in zip(c0, c1)]
mix = {k: round(v / max(sum(d), 1) * 100, 1)
       for k, v in zip(["user","nice","sys","idle","iow","irq","sirq","steal"], d)}
rows = eng.final_state().count()
from bench import _classify_window, _cpu_probe_mbps
probe = _cpu_probe_mbps()
print("RESULT", json.dumps({
    "cores": cores, "events": total, "snapshot_s": round(t_snap, 2),
    "stream_s": round(t_stream, 2),
    "events_per_sec": round(total / (t_snap + t_stream), 1),
    "stream_events_per_sec": round(total / t_stream, 1),
    "cpu_mix": mix, "final_rows": rows,
    "cpu_probe_mbps": probe,
    "window_class": _classify_window(mix, [probe])}))
import shutil; shutil.rmtree(tmp, ignore_errors=True)
"""


def _env() -> dict:
    env = dict(os.environ)
    if os.path.isdir("/dev/shm"):
        env["TMPDIR"] = "/dev/shm"
    return env


def _run(script: str, tag: str, timeout: int = 3600) -> str:
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=_env(),
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    for line in out.stdout.splitlines():
        if line.startswith(tag):
            return line[len(tag) :].strip()
    raise RuntimeError(
        f"{tag} probe failed:\n{out.stdout[-1500:]}\n{out.stderr[-1500:]}"
    )


def main() -> None:
    args = sys.argv[1:]
    pair = (8, 32)
    if "--pair" in args:
        i = args.index("--pair")
        pair = (int(args[i + 1]), int(args[i + 2]))
        del args[i : i + 3]
    events = int(args[0]) if len(args) > 0 else 48_000_000
    repeats = int(args[1]) if len(args) > 1 else 2
    lo, hi = pair
    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    inp = f"{base}/scale_input_{events}"
    try:
        if not os.path.isdir(inp + "/log"):
            os.makedirs(inp, exist_ok=True)
            n = _run(
                GEN
                % {
                    "repo": REPO,
                    "events": events,
                    "inp": inp,
                    "n_repos": N_REPOS,
                    "paths": PATHS,
                    "max_reps": MAX_REPS,
                },
                "GENOK",
            )
            print(f"generated {n} events at {inp}", flush=True)

        runs: dict[int, list[dict]] = {lo: [], hi: []}
        for i in range(repeats):
            for cores in (lo, hi):  # interleaved: noise hits both levels
                r = json.loads(
                    _run(
                        PROBE
                        % {
                            "repo": REPO,
                            "cores": cores,
                            "events": events,
                            "inp": inp,
                        },
                        "RESULT",
                    )
                )
                runs[cores].append(r)
                print(f"run {i} cores={cores}: {r}", flush=True)
    finally:
        shutil.rmtree(inp, ignore_errors=True)
        for d in ("gen", "8", "32"):
            shutil.rmtree(f"/dev/shm/spark-local-{d}", ignore_errors=True)

    best = {
        c: max(rs, key=lambda r: r["events_per_sec"]) for c, rs in runs.items()
    }
    ratio = hi // lo
    eff = round(best[hi]["events_per_sec"] / (ratio * best[lo]["events_per_sec"]), 3)
    eff_stream = round(
        best[hi]["stream_events_per_sec"]
        / (ratio * best[lo]["stream_events_per_sec"]),
        3,
    )
    # leg-level window assessment: the sha256 probe catches per-cycle
    # slowness but NOT the shared-guest-kernel parallel-shuffle
    # ceiling (a window can read probe-clean while both legs run far
    # below their documented clean rates — r4 session 1 measured
    # exactly that). Compare each leg's best stream rate to the
    # historical clean-window reference and mark the run accordingly.
    CLEAN_STREAM_REF = {2: 259_000.0, 8: 891_000.0, 32: 1_140_000.0}
    legs = {}
    for c in (lo, hi):
        ref = CLEAN_STREAM_REF.get(c)
        if ref:
            legs[str(c)] = round(best[c]["stream_events_per_sec"] / ref, 3)
    worst = min(legs.values(), default=1.0)
    assessment = (
        "clean" if worst >= 0.8
        else "moderate" if worst >= 0.6
        else "degraded_parallel"
    )
    result = {
        "events": events,
        "repeats": repeats,
        "pair": [lo, hi],
        "p_lo": best[lo],
        "p_hi": best[hi],
        f"scaling_efficiency_{lo}_to_{hi}": eff,
        f"stream_scaling_efficiency_{lo}_to_{hi}": eff_stream,
        "leg_vs_clean_ref": legs,
        "window_assessment": assessment,
        "all_runs": runs,
    }
    out_name = (
        "BENCH_SCALING.json" if pair == (8, 32) else f"BENCH_SCALING_{lo}_{hi}.json"
    )
    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "all_runs"}))
    if pair != (8, 32):
        return  # BASELINE.md section is assembled by hand across pairs

    md = open(os.path.join(REPO, "BASELINE.md")).read()
    marker = "\n## Measured (this repo)\n"
    if marker in md:
        md = md[: md.index(marker)]
    section = (
        "\n## Measured (this repo)\n\n"
        "CDC replay (snapshot + LSN-ordered stream replay → exact final state), one shared synthetic\n"
        f"repo-file change log of {events:,} events over {N_REPOS * PATHS:,} keys, 2 micro-batches,\n"
        "tmpfs-backed, JIT-warmed, interleaved best-of runs\n"
        "(methodology: tools/bench_scaling.py):\n\n"
        "| Metric | Value | Notes |\n|---|---|---|\n"
        f"| Replay throughput @ local[8] (≙ N executors) | {best[8]['events_per_sec']:,.0f} events/s | snapshot {best[8]['snapshot_s']}s + stream {best[8]['stream_s']}s |\n"
        f"| Replay throughput @ local[32] (≙ 4N executors) | {best[32]['events_per_sec']:,.0f} events/s | snapshot {best[32]['snapshot_s']}s + stream {best[32]['stream_s']}s |\n"
        f"| Scaling efficiency N→4N (whole replay) | {eff} | includes the one-time 200k-row snapshot |\n"
        f"| Scaling efficiency N→4N (stream phase) | {eff_stream} | target ≥ 0.8 — steady-state regime of a 10^10-event replay |\n"
    )
    with open(os.path.join(REPO, "BASELINE.md"), "w") as f:
        f.write(md + section)


if __name__ == "__main__":
    main()
