"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload dedup_curate --seeds 1 10

Run from the root of a checkout.  Spread is (Q3 - Q1) / median with the
quartiles of ``statistics.quantiles(values, n=4)``; every run's last
output line is kept in ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs=2, required=True,
                   metavar=("FIRST", "LAST"))
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {name: [] for name in bounds}
    os.makedirs(".perfbench", exist_ok=True)
    log = f".perfbench/spread-{args.workload}.jsonl"
    for seed in range(args.seeds[0], args.seeds[1] + 1):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        last = out.stdout.strip().splitlines()[-1]
        with open(log, "a") as f:
            f.write(last + "\n")
        result = json.loads(last)
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", flush=True)
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        print(f"{name:20s} median {med:12.4f}  spread {spread:6.3f}  "
              f"bound {bounds[name]:.3f}  "
              f"{'ok' if spread <= bounds[name] / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
