#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload churn-20k --runs 10 [--trace 0]

Runs the benchmark once per seed (seeds 1..runs, or --seeds) and prints,
for every metric, the median of the runs and the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of that
median, next to the metric's bound from BENCHMARK.json. Run from the root
of the repository.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="*")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="append each run's result line here")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seeds = args.seeds or list(range(1, args.runs + 1))
    values = {}
    for seed in seeds:
        cmd = [*bench["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
            flush=True)
        for n, m in res["metrics"].items():
            values.setdefault(n, []).append(m["value"])
    for n, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{n:24s} median {med:.4g}  iqr/median {share:.3f}  "
              f"bound {bounds.get(n)}")


if __name__ == "__main__":
    main()
