"""Run the benchmark over several seeds and summarize each metric.

Usage (from the repository root):

    python3 perfbench/spread.py WORKLOAD SEED [SEED ...] [--seconds N] [--trace 0|1]

For every metric it prints the median, the first and third quartile
(``statistics.quantiles(values, n=4)``) and the spread — (q3 − q1) / median
— as one JSON object, plus the failure counts of every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(results: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        out[name] = {
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "values": vs,
        }
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("workload")
    p.add_argument("seeds", type=int, nargs="+")
    p.add_argument("--seconds", type=int, default=18)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    results = []
    for seed in args.seeds:
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        elapsed = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        results.append(json.loads(proc.stdout.strip().splitlines()[-1]))
        results[-1]["run_s"] = elapsed
        print(f"seed {seed}: {elapsed:.1f}s {results[-1]['metrics']}", file=sys.stderr)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seeds": args.seeds,
                "runs": [
                    {k: r[k] for k in ("correct", "attempted", "failed", "run_s")} for r in results
                ],
                "metrics": summarize(results),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
