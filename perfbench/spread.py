"""Run one workload n times and print the spread of each metric.

    python3 perfbench/spread.py --workload fit_pit -n 10 [--seed0 1] [--seconds 10] [--trace 0]

Seeds are seed0 .. seed0+n-1, one fresh process each, run one after the
other. For every metric it prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the quartile spread
as a share of the median, and the max/min ratio. The benchmark's bounds
in BENCHMARK.json are set from, and re-checked with, this output.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bounds() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("-n", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    args = p.parse_args()

    results = []
    for seed in range(args.seed0, args.seed0 + args.n):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}, no result")
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    bound = bounds()
    print(f"\n{args.workload}: {len(results)} runs, failed share "
          f"{sorted({r['failed'] / r['attempted'] for r in results})}")
    print(f"{'metric':32} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8} {'max/min':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        lo, hi = min(vals), max(vals)
        print(f"{name:32} {med:10.4g} {q1:10.4g} {q3:10.4g} "
              f"{(q3 - q1) / med if med else 0:8.3f} {hi / lo if lo else 0:8.3f} "
              f"{bound.get(name, ''):>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
