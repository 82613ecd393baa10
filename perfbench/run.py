"""Benchmark entry point.

    python3 perfbench/run.py --workload sparse --seed 1 --seconds 20 --trace 0

Run from the repository root; see perfbench/README.md.
"""

import os
import sys

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.bench import main

    sys.exit(main())
