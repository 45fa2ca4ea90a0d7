"""Steadiness check: run one workload over several seeds and report, for each
metric, its median and the spread between the first and third quartile as a
share of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload query --seeds 1,2,3,4,5 [--trace 0]

Each run is a fresh process of perfbench/run.py with the run_seconds of
BENCHMARK.json. A benchmark is steady when every spread is below a third of
its bound (set-up time excepted: its medians are compared instead).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> float:
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / med if med else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="comma-separated, at least 2")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values: dict[str, list[float]] = {}
    for seed in [int(s) for s in args.seeds.split(",")]:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, run, "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        print(f"seed {seed}: exit {proc.returncode}, {time.time() - t0:.1f} s wall"
              + (f", {result['attempted']} ops" if result else ""), flush=True)
        if result is None:
            print(proc.stdout[-2000:] + proc.stderr[-2000:])
            return 1
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        bound = bounds.get(k)
        flag = "" if bound is None or spread(xs) < bound / 3 else "  <-- over a third of the bound"
        print(f"  {k:36s} median {statistics.median(xs):14.4f}  spread {spread(xs):6.3f}"
              f"  bound {bound if bound is not None else '-'}{flag}")
        print("      " + " ".join(f"{x:.5g}" for x in xs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
