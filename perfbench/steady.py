"""Run a workload on several seeds and report each metric's spread.

  python3 perfbench/steady.py --workload <name> [--seeds 1-10]
      [--trace 0|1] [--out results.jsonl]

For every end-to-end metric it prints the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median, next to the metric's
bound from BENCHMARK.json. Each run's result line is appended to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)

    results = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed",
                               str(seed), "--seconds",
                               str(spec["run_seconds"]), "--trace",
                               args.trace],
            cwd=REPO, capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        res.update({"seed": seed, "wall_s": wall})
        results.append(res)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: wall {wall:.0f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()
                         if args.trace == "0"), flush=True)

    if args.trace != "0":
        return 0 if all(r["correct"] for r in results) else 1
    print(f"{'metric':14} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m['name']:14} {med:10.4g} {q1:10.4g} {q3:10.4g} "
              f"{(q3 - q1) / med:7.3f} {m['bound']:6.2f}")
    print(f"runs {len(results)}, all correct: "
          f"{all(r['correct'] for r in results)}, wall total "
          f"{sum(r['wall_s'] for r in results):.0f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
