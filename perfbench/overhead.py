#!/usr/bin/env python3
"""Tracing overhead: the traced run's end-to-end numbers minus the
untraced run's, on the same workload and seeds.

    python3 perfbench/overhead.py --workload llm_text --seeds 1 2 3 --seconds 15

For each seed, runs ``run.py`` untraced then traced (the pairs
alternate, so a drift of the host hits both sides alike) and takes the
relative difference of the typical operation latency (``op_p50_s`` vs
``trace.op_p50_s``) and of the throughput (``ops_per_s`` vs
``trace.ops_per_s``). Prints one JSON line with the median difference
over the pairs and their range. Where the range is wider than the
median difference, the overhead is below what the runs can resolve and
is reported as unresolved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# (untraced metric, traced metric): a positive difference is a cost
PAIRS = {
    "op_p50_s": ("op_p50_s", "trace.op_p50_s", 1),
    "ops_per_s": ("ops_per_s", "trace.ops_per_s", -1),
}


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    return {k: v["value"] for k, v in json.loads(out.strip().splitlines()[-1])["metrics"].items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    p.add_argument("--seconds", type=float, default=15)
    args = p.parse_args()
    diffs: dict[str, list[float]] = {name: [] for name in PAIRS}
    for seed in args.seeds:
        plain = _run(args.workload, seed, args.seconds, 0)
        traced = _run(args.workload, seed, args.seconds, 1)
        for name, (a, b, sign) in PAIRS.items():
            diffs[name].append(sign * (traced[b] - plain[a]) / plain[a])
    out = {"workload": args.workload, "seeds": args.seeds}
    for name, ds in diffs.items():
        med, spread = statistics.median(ds), max(ds) - min(ds)
        out[name] = {
            "overhead_frac": med,
            "pair_range": spread,
            "pairs": ds,
            "resolved": abs(med) > spread,
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
