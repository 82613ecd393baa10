"""(1,4) scaling diagnostic: the ``dense`` workload at ``local[1]`` and at
``local[4]``, each in its own process, traced. Prints the wall-time rate
(events/s through the untraced pass) beside the executor-CPU rate
(events per executor-CPU second of the traced pass) for both legs, and
the scaling efficiency ``rate(4) / (4 * rate(1))`` — the north rule asks
for at least 0.8. A CPU-rate ratio near 1 with a low wall efficiency
means the 4-core leg waited, not that it did more work per event.

    python3 perfbench/scaling.py --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
LEGS = (1, 4)


def run_leg(cores: int, seed: int, seconds: int) -> dict:
    report = os.path.join(BENCH_DIR, ".work", f"scaling-{cores}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(report), exist_ok=True)
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "run.py"),
        "--workload", "dense", "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1", "--cores", str(cores), "--report", report,
    ]
    try:
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=1800)
        with open(report) as fh:
            return json.load(fh)
    finally:
        if os.path.exists(report):
            os.unlink(report)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    args = p.parse_args(argv)
    legs = {c: run_leg(c, args.seed, args.seconds) for c in LEGS}
    lo, hi = legs[LEGS[0]], legs[LEGS[1]]
    n = LEGS[1] // LEGS[0]
    print(f"{'cores':>5} {'events/s (wall)':>16} {'events/cpu-s':>13} {'executor cpu s':>15} {'correct':>8}")
    for c, r in legs.items():
        print(f"{c:>5} {r['events_per_s']:>16.1f} {r['events_per_cpu_s']:>13.1f} "
              f"{r['executor_cpu_s']:>15.2f} {str(r['correct']):>8}")
    out = {
        "wall_efficiency": hi["events_per_s"] / (n * lo["events_per_s"]),
        "cpu_rate_ratio": hi["events_per_cpu_s"] / lo["events_per_cpu_s"],
        "correct": lo["correct"] and hi["correct"],
    }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
