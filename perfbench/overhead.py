"""Tracing overhead: run one workload untraced and traced, interleaved,
over a few seeds, and compare the timed wall of the two modes.

    python3 perfbench/overhead.py --workload crawl --seeds 1 2 3

The timed wall is read from the stderr report of run.py: the primary
metric of each workload (crawl_urls_per_s, dedup_docs_per_s), inverted
to a time so that overhead > 0 means tracing is slower.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PRIMARY = {
    "crawl": "crawl_urls_per_s",
    "corpus_dedup": "dedup_docs_per_s",
}


def one(workload: str, seed: int, seconds: int, trace: int) -> float:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    for line in p.stderr.splitlines():
        if line.startswith("report "):
            report = json.loads(line[len("report "):])
            return report["metrics"][PRIMARY[workload]]["value"]
    raise RuntimeError(f"no report line from {workload} seed {seed}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--seconds", type=int, default=30)
    args = ap.parse_args()
    untraced, traced = [], []
    for seed in args.seeds:
        untraced.append(1.0 / one(args.workload, seed, args.seconds, 0))
        traced.append(1.0 / one(args.workload, seed, args.seconds, 1))
    ratios = [t / u - 1.0 for t, u in zip(traced, untraced)]
    print(json.dumps({
        "workload": args.workload,
        "seeds": args.seeds,
        "overhead_median": statistics.median(ratios),
        "overhead_per_seed": ratios,
    }))


if __name__ == "__main__":
    main()
