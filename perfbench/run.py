"""Benchmark entry point.

    python3 perfbench/run.py --workload {crawl,corpus_dedup} \
        --seed N --seconds S --trace {0,1}

Runs one workload in this process against the spider_engine_spark
package of the checkout this file sits in, checks its outputs, and
prints one JSON object as the last line of stdout:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

Each workload times a fixed amount of work; --seconds is accepted and
not used. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones (event log + job groups + layer wrappers on). A
human-readable report with the workload's own metric names goes to
stderr. perfbench/DESIGN.md describes the workloads, metrics and the
layer map.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("crawl", "corpus_dedup")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "spider_engine_spark", "__init__.py")):
        print(
            f"perfbench: no spider_engine_spark package under {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    import importlib

    from perfbench.common import Run

    mod = importlib.import_module(f"perfbench.{args.workload}")
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, bool(args.trace))
    try:
        mod.main(run)
    finally:
        run.cleanup()
    return 0


if __name__ == "__main__":
    sys.exit(main())
