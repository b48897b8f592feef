"""Run the benchmark on several seeds and report each metric's median
and spread (distance between the first and third quartile as a share
of the median), next to its bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload etl_day_large --seeds 1 2 3 4 5

Run it from the repository root. With ``--out``, each run's result line
is appended to that file (JSON lines).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) with ``statistics.quantiles(n=4)``;
    a metric that is 0 on every run has spread 0."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else (math.inf if q3 != q1 else 0.0)


def summarize(results: list[dict], bench: dict) -> None:
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    names = results[0]["metrics"]
    for name in names:
        values = [r["metrics"][name]["value"] for r in results]
        med, s = spread(values)
        bound = bounds.get(name)
        flag = "" if bound is None else f"bound {bound:.2f}  {'ok' if s < bound / 3 else 'WIDE'}"
        print(f"{name:42s} median {med:14.4f}  spread {s:7.2%}  {flag}")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    results = []
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        took = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        result["seed"], result["run_s"] = seed, took
        result["notes"] = [line for line in lines[:-1] if line.startswith("#")]
        results.append(result)
        print(f"seed {seed}: {took:.1f} s, attempted {result['attempted']}, "
              f"failed {result['failed']}, correct {result['correct']}", flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"workload": args.workload, **result}) + "\n")
    if len(results) >= 2:
        summarize(results, bench)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
